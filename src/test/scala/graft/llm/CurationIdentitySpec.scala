package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The corpus-curation tail returns the same rows whatever the physical
  * layout: `Curation.paragraphDedup`, `Dedup.jaccardJoinExact`,
  * `Dedup.jaccardRescore` and `Curation.dupGroups` (over the candidates
  * plus a long chain) at 1 and 7 shuffle partitions, with broadcast
  * joins disabled (every join sort-merge) and with adaptive partition
  * coalescing off all equal their output under the session defaults; the
  * exact join also equals a driver-side all-pairs Jaccard. */
class CurationIdentitySpec extends AnyFunSuite {
  import CurationIdentitySpec.corpus

  private def spark = SparkTestSession.withTables()

  private val Layouts = Seq(
    "1 shuffle partition" -> Map("spark.sql.shuffle.partitions" -> "1"),
    "7 shuffle partitions" -> Map("spark.sql.shuffle.partitions" -> "7"),
    "broadcast joins off" -> Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    "partition coalescing off" ->
      Map("spark.sql.adaptive.coalescePartitions.enabled" -> "false"))

  private def withConf[T](s: SparkSession, kv: Map[String, String])(body: => T): T = {
    val prev = kv.keys.map(k => k -> s.conf.getOption(k)).toMap
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** All rows, sorted by their string form (a total order here). */
  private def rows(df: DataFrame): Seq[String] = {
    val out = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    PipelineCaches.clear()
    out
  }

  /** The operators' outputs over the materialized corpus; `graph` is the
    * candidate graph the connected components run over. */
  private def outputs(docs: DataFrame, cands: DataFrame, graph: DataFrame)
      : Seq[(String, Seq[String])] =
    Seq(
      "paragraphDedup" -> rows(Curation.paragraphDedup(docs, chunkSize = 8,
        threshold = 0.8)),
      "jaccardJoinExact" -> rows(Dedup.jaccardJoinExact(docs, 0.8)),
      "jaccardRescore" -> rows(Dedup.jaccardRescore(docs, cands)),
      "dupGroups" -> rows(Curation.dupGroups(docs.select("doc_id"), graph)))

  test("paragraphDedup, jaccardJoinExact and jaccardRescore are " +
    "row-identical across shuffle partitions, join strategies and " +
    "partition coalescing") {
    val s = spark
    val docs = corpus(s).localCheckpoint(true)
    val cands = Dedup.minhashCandidates(docs, minEstJaccard = 0.0)
      .localCheckpoint(true)
    PipelineCaches.clear()
    // the candidates plus an 8-hop chain through the nine smallest doc
    // ids: a propagation bounded to a few hops would label it partially
    import s.implicits._
    val chain = docs.select("doc_id").orderBy("doc_id").limit(9).collect()
      .map(_.getLong(0)).toSeq
    val graph = cands.select("doc_a", "doc_b")
      .unionAll(chain.zip(chain.tail).toDF("doc_a", "doc_b"))
      .localCheckpoint(true)
    val base = outputs(docs, cands, graph)
    base.foreach { case (op, r) => assert(r.nonEmpty, s"$op returned no rows") }
    // the fixture exercises what each operator decides: paragraphs drop,
    // near-copies pair up, the whole chain joins its minimum's group
    assert(base.head._2.exists(r => r.split('|')(2).toLong > 0),
      "no paragraph dropped on the fixture")
    val groups = base.last._2.map(_.split('|')).map(r => r(0).toLong -> r(1).toLong).toMap
    assert(chain.forall(groups(_) == chain.head),
      s"chain not labeled in full: ${chain.map(groups)}")
    for ((layout, conf) <- Layouts) withConf(s, conf) {
      outputs(docs, cands, graph).zip(base).foreach { case ((op, got), (_, want)) =>
        assert(got == want, s"$op differs under $layout")
      }
    }
  }

  test("jaccardJoinExact equals a driver-side all-pairs Jaccard over " +
    "distinct k-word shingles") {
    val s = spark
    val docs = corpus(s)
    val text = docs.collect().map(r =>
      r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toSeq
    def shingles(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 3) Set(t) else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = text.map { case (id, t) => id -> shingles(t) }.sortBy(_._1)
    val want = (for {
      i <- sets.indices
      j <- i + 1 until sets.length
      (a, sa) = sets(i)
      (b, sb) = sets(j)
      n = sa.count(sb)
      jac = n.toDouble / (sa.size + sb.size - n)
      if jac >= 0.8
    } yield (a, b, jac)).toSet
    val got = Dedup.jaccardJoinExact(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    PipelineCaches.clear()
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("set_intersect_size equals size(array_intersect) on string and " +
    "binary arrays, NULL on a NULL array") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Seq("a b", "c", "d"), Seq("c", "a b", "e", "c")),
      (Seq.empty[String], Seq("x")),
      (Seq("x", "y"), Seq("y", "x"))).toDF("a", "b")
    val typed = Seq("string" -> df,
      "binary" -> df.select(transform(col("a"), x => unhex(md5(x))).as("a"),
        transform(col("b"), x => unhex(md5(x))).as("b")))
    for ((name, t) <- typed) {
      val r = t.select(
        graft.functions.MatchExpressions.setIntersectSize(col("a"), col("b")),
        size(array_intersect(col("a"), col("b")))).collect()
      assert(r.forall(x => x.getInt(0) == x.getInt(1)), s"$name: ${r.toSeq}")
      assert(r.map(_.getInt(0)).toSeq == Seq(2, 0, 2), name)
    }
    val nul = Seq((Seq("a"), Option.empty[Seq[String]])).toDF("a", "b")
      .select(graft.functions.MatchExpressions.setIntersectSize(col("a"), col("b")))
      .collect()
    assert(nul.head == Row(null))
  }
}

object CurationIdentitySpec {

  /** The fixture's documents plus a 12-character-trimmed near-copy of
    * every 10th (Jaccard pairs) and, at other ids, each 10th doc's first
    * eight words plus a filler (a paragraph shared across documents). */
  def corpus(s: SparkSession): DataFrame = {
    val d = s.table("documents").select("doc_id", "text")
    val tenth = d.filter(col("doc_id") % 10 === 0)
    d.unionAll(tenth.select((col("doc_id") + 100000L).as("doc_id"),
        expr("substring(text, 1, greatest(length(text) - 12, 1))").as("text")))
      .unionAll(tenth.select((col("doc_id") + 200000L).as("doc_id"),
        concat(array_join(slice(split(col("text"), " "), 1, 8), " "),
          lit(" zq zr qx qy qz qw qv qu")).as("text")))
  }
}
