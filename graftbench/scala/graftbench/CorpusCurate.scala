package graftbench

import java.io.{BufferedWriter, File, FileWriter}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{Bpe, Curation, Dedup, Similarity, TextOps}
import graft.sources.CorpusIO

import Workload.{ok, seconds}

/** Staged batch curation: every stage reads the previous stage's parquet
  * through CorpusIO and writes its own, as staged curation jobs do. */
final class CorpusCurate extends Workload {
  private val Docs = 600
  private val T = 0.8
  /** Documents in the set-up slice that trains the BPE model and warms up. */
  private val WarmDocs = 400
  private val Schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType),
    StructField("emb", ArrayType(FloatType))))

  private var dir = ""
  private var corpus: Gen.Corpus = _
  private var bpe: Bpe.BpeModel = _

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    this.dir = dir
    corpus = Gen.corpus(seed, Docs)
    writeJsonl(s"$dir/input/raw.jsonl", corpus.docs.indices)
    writeJsonl(s"$dir/input/warm.jsonl", corpus.docs.indices.take(WarmDocs))
    val warm = CorpusIO.read(spark, s"$dir/input/warm.jsonl", Some(Schema))
    bpe = Bpe.trainLocal(spark, warm.select("doc_id", "text"), nMerges = 50)
    // warm-up: touch the slice (scan and JSON code paths); the measured
    // pass runs each stage for the first time in this JVM, as a staged
    // curation job does
    warm.count()
  }

  private def writeJsonl(path: String, idx: Seq[Int]): Unit = {
    val d = new File(path)
    d.mkdirs()
    d.listFiles().foreach(_.delete())
    val parts = 4
    (0 until parts).foreach { p =>
      val w = new BufferedWriter(new FileWriter(new File(d, f"part-$p%02d.json")), 1 << 16)
      try idx.indices.filter(_ % parts == p).foreach { i =>
        val doc = corpus.docs(idx(i))
        w.write("{\"doc_id\":"); w.write(doc.id.toString)
        w.write(",\"text\":\""); w.write(esc(doc.text))
        w.write("\",\"source\":\""); w.write(doc.source)
        w.write("\",\"emb\":["); w.write(corpus.emb(idx(i)).mkString(","))
        w.write("]}\n")
      } finally w.close()
    }
  }

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** One stage: build the output and write it. */
  private def stage(tr: Tracer, span: String, ops: mutable.Buffer[Double],
      path: String)(build: => DataFrame): Unit = {
    val t0 = System.nanoTime()
    tr.span(span) {
      val df = build
      tr.write(CorpusIO.writeParquet(df, path))
    }
    ops += seconds(t0)
  }

  /** The ten stages, outputs under `out/s0` ... `out/s9`. */
  private def pipeline(spark: SparkSession, tr: Tracer, out: String,
      ops: mutable.Buffer[Double]): Unit = {
    def rd(s: String) = CorpusIO.read(spark, s"$out/$s")
    stage(tr, "sources.CorpusIO.read", ops, s"$out/s0")(
      CorpusIO.read(spark, s"$dir/input/raw.jsonl", Some(Schema), Some("json")))
    stage(tr, "llm.Curation.gopherFilter", ops, s"$out/s1") {
      val d = rd("s0").select("doc_id", "text", "source")
      d.join(Curation.gopherFilter(d).filter(col("keep")).select("doc_id"),
        Seq("doc_id"), "left_semi")
    }
    stage(tr, "llm.TextOps.exactDedup", ops, s"$out/s2") {
      val d = rd("s1")
      d.join(TextOps.exactDedup(d).filter(!col("is_dup")).select("doc_id"),
        Seq("doc_id"), "left_semi")
    }
    stage(tr, "llm.Dedup.minhashCandidates", ops, s"$out/s3")(
      Dedup.minhashCandidates(rd("s2")))
    stage(tr, "llm.Dedup.jaccardRescore", ops, s"$out/s4")(
      Dedup.jaccardRescore(rd("s2"), rd("s3")))
    stage(tr, "llm.Dedup.jaccardJoinExact", ops, s"$out/s5")(
      Dedup.jaccardJoinExact(rd("s2"), T))
    stage(tr, "llm.Curation.dupGroups", ops, s"$out/s6") {
      val d = rd("s2")
      val groups = Curation.dupGroups(d.select("doc_id"), rd("s5").select("doc_a", "doc_b"))
      Curation.keepBestPerGroup(groups, Curation.byteLenScore(d))
    }
    stage(tr, "llm.Curation.paragraphDedup", ops, s"$out/s7") {
      val kept = rd("s2").join(rd("s6").filter(col("is_kept")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      Curation.paragraphDedup(kept, chunkSize = 8, threshold = T, k = 3)
    }
    stage(tr, "llm.Similarity.semanticDedup", ops, s"$out/s8") {
      val ids = rd("s7").select(col("doc_id").as("vec_id"))
      val embs = rd("s0").select(col("doc_id").as("vec_id"), col("emb").as("embedding"))
        .join(ids, Seq("vec_id"), "left_semi")
      // cell seeds: the lowest surviving ids (a deterministic function of the input)
      val seeds = ids.orderBy("vec_id").limit(64).collect().map(_.getLong(0)).toSeq
      Similarity.semanticDedup(embs, seeds, threshold = 0.95)
    }
    stage(tr, "llm.Bpe.tokenize", ops, s"$out/s9") {
      val c = rd("s7").select(col("doc_id"), col("clean_text").as("text"))
        .join(rd("s8").filter(!col("is_semdup")).select(col("vec_id").as("doc_id")),
          Seq("doc_id"), "left_semi")
      Bpe.tokenize(c, bpe)
    }
  }

  // ----- reference ---------------------------------------------------------

  private var shingles: Map[Long, Array[Long]] = _
  private var refS1: Set[Long] = _
  private var refS2: Set[Long] = _
  private var refExact: Map[(Long, Long), Double] = _
  private var refGroup: Map[Long, Long] = _
  private var refKept: Set[Long] = _

  def reference(spark: SparkSession): Unit = {
    val text = corpus.docs.map(d => d.id -> d.text).toMap
    refS1 = corpus.docs.filter(d => Ref.gopherKeep(d.text)).map(_.id).toSet
    refS2 = corpus.docs.filter(d => refS1(d.id)).groupBy(_.text.toLowerCase)
      .values.map(_.map(_.id).min).toSet
    shingles = refS2.iterator.map(id => id -> Ref.shingles(text(id))).toMap
    refExact = Ref.exactJaccardPairs(shingles, T)
    refGroup = Ref.components(refS2, refExact.keys)
    val bytes = (id: Long) => text(id).getBytes("UTF-8").length.toDouble
    refKept = refS2.groupBy(refGroup).values
      .map(_.maxBy(id => (bytes(id), -id))).toSet
    // the planted relations the run must recover
    val planted = (corpus.truth.nearPairs ++ corpus.truth.spaceVariants).count {
      case (a, b) => refS2(a) && refS2(b) && refExact.contains((math.min(a, b), math.max(a, b)))
    }
    System.err.println(s"[graftbench] corpus_curate reference: ${corpus.docs.length} docs, " +
      s"${refS1.size} pass gopher, ${refS2.size} after exact dedup, " +
      s"${refExact.size} pairs >= $T ($planted planted), ${refKept.size} kept")
  }

  // ----- measured pass -----------------------------------------------------

  def pass(spark: SparkSession, tr: Tracer): Pass = {
    val out = s"$dir/pass"
    val ops = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    pipeline(spark, tr, out, ops)
    val wall = seconds(t0)
    val (failed, recall, precision) = check(spark, out)
    tr.add("llm.lsh_precision", precision)
    Pass(wall, ops.toSeq, ops.size, failed, Docs.toDouble, wall, recall)
  }

  private def pairs(df: DataFrame, v: String): Map[(Long, Long), Double] =
    df.select("doc_a", "doc_b", v).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  /** Output checks, one per stage; returns (failed stages, recall, precision). */
  private def check(spark: SparkSession, out: String): (Int, Double, Double) = {
    def rd(s: String) = spark.read.parquet(s"$out/$s")
    def ids(df: DataFrame, c: String = "doc_id") = df.select(c).collect().map(_.getLong(0))
    val text = corpus.docs.map(d => d.id -> d.text).toMap
    val s3 = pairs(rd("s3"), "est_jaccard")
    val s4 = pairs(rd("s4"), "jaccard")
    val found = s4.count { case (k, j) => j >= T && refExact.contains(k) }
    val recall = if (refExact.isEmpty) 1.0 else found.toDouble / refExact.size
    val precision = if (s3.isEmpty) 0.0 else s4.count(_._2 >= T).toDouble / s3.size
    val s6 = rd("s6").select("doc_id", "dup_group", "is_kept").collect()
    val s7 = rd("s7").select("doc_id", "n_chunks", "n_dropped", "clean_text").collect()
    val s8 = rd("s8").select("vec_id", "cell", "is_semdup").collect()
    val checks = Seq(
      ok("s0 rows") { ids(rd("s0")).sorted.sameElements(corpus.docs.map(_.id).sorted) },
      ok("gopher keep set") { ids(rd("s1")).toSet == refS1 },
      ok("exact-dedup survivors") { ids(rd("s2")).toSet == refS2 },
      ok("candidate pairs ordered, estimates in range") {
        s3.forall { case ((a, b), e) => a < b && e >= 0.5 && e <= 1.0 }
      },
      ok("rescored Jaccard matches the driver recompute") {
        s4.keySet == s3.keySet && s4.forall { case ((a, b), j) =>
          math.abs(j - Ref.jaccard(shingles(a), shingles(b))) <= 1e-12
        }
      },
      ok("exact join = all pairs >= threshold") {
        val s5 = pairs(rd("s5"), "jaccard")
        s5.keySet == refExact.keySet &&
          s5.forall { case (k, j) => math.abs(j - refExact(k)) <= 1e-12 }
      },
      ok("dup groups = connected components, best kept") {
        s6.length == refS2.size &&
          s6.forall(r => refGroup(r.getLong(0)) == r.getLong(1)) &&
          s6.filter(_.getBoolean(2)).map(_.getLong(0)).toSet == refKept
      },
      ok("paragraph dedup: chunk counts, drops between the exact and near-duplicate bounds") {
        // chunks in key order (doc_id, chunk_idx), cut as TextOps.chunkDocs
        // cuts them; a chunk must go when its text occurs at a lower key
        // and may go only when a lower-keyed chunk is within the threshold
        val chunks = refKept.toArray.sorted.flatMap { id =>
          val w = Ref.tokens(text(id))
          val n = if (w.length <= 8) 1 else (w.length - 8 + 7) / 8 + 1
          (0 until n).map(i => id -> w.slice(i * 8, i * 8 + 8).mkString(" "))
        }
        val seen = mutable.HashSet.empty[String]
        val mustDrop = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
        chunks.foreach { case (id, c) => if (!seen.add(c)) mustDrop(id) += 1 }
        val near = Ref.exactJaccardPairs(
          chunks.indices.map(i => i.toLong -> Ref.shingles(chunks(i)._2)).toMap, T)
        val mayDrop = near.keys.map(_._2).toSeq.distinct.groupBy(i => chunks(i.toInt)._1)
          .map { case (id, is) => id -> is.size.toLong }.withDefaultValue(0L)
        val nChunks = chunks.groupBy(_._1).map { case (id, cs) => id -> cs.length.toLong }
        s7.length == refKept.size && s7.forall { r =>
          val id = r.getLong(0)
          nChunks.get(id).contains(num(r, 1)) &&
            mustDrop(id) <= num(r, 2) && num(r, 2) <= mayDrop(id)
        }
      },
      ok("semantic dedup flags exactly the within-cell near-duplicates") {
        val emb = corpus.docs.indices.map(i => corpus.docs(i).id -> corpus.emb(i)).toMap
        s8.length == s7.length && s8.groupBy(_.get(1).toString).values.forall { cell =>
          val members = cell.map(_.getLong(0)).sorted
          cell.forall { r =>
            val id = r.getLong(0)
            val dup = members.exists(o => o < id && Ref.cosine(emb(o), emb(id)) >= 0.95)
            dup == r.getBoolean(2)
          }
        }
      },
      ok("BPE tokens rebuild every distinct word") {
        val semdup = s8.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
        val expect = s7.filterNot(r => semdup(r.getLong(0)))
          .flatMap(r => Ref.tokens(r.getString(3))).filter(_.matches("^[a-z0-9]+$")).toSet
        val got = rd("s9").select("word", "syms", "n_tokens").collect()
        got.map(_.getString(0)).toSet == expect && got.length == expect.size &&
          got.forall { r =>
            val toks = r.getString(1).split("  ")
            toks.mkString == r.getString(0) + "_" && toks.length == num(r, 2)
          }
      })
    (checks.count(!_), recall, precision)
  }

  private def num(r: org.apache.spark.sql.Row, i: Int): Long =
    r.getAs[Number](i).longValue
}
