package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.dml.events.{Event, Events}

/** Streaming dedup + sessionization over a file-source stream, checked
  * against batch ground truth. */
class StreamingPipelineSpec extends AnyFunSuite {

  private def spark = SparkTestSession.withTables()

  private def eventLog(n: Int): String = {
    val dir = Files.createTempDirectory("graft-stream").toString
    val s = spark
    // plant exact duplicates: the same 50 rows appended twice
    val base = s.table("events").limit(n)
    base.write.mode("append").parquet(dir)
    base.limit(50).write.mode("append").parquet(dir)
    dir
  }

  test("stream dedup drops watermark-window duplicates") {
    val s = spark
    val dir = eventLog(300)
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val stream = s.readStream.schema(Events.schema).parquet(dir)
    val q = StreamingPipeline.dedupStream(stream, watermark = "365 days")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = s.table("dedup_out")
    val truth = s.read.parquet(dir).dropDuplicates("event_id")
    assert(got.count() == truth.count())
    assert(got.select("event_id").distinct().count() == got.count())
  }

  test("streaming near-dup probes each batch against the growing index") {
    val s = spark
    val dir = Files.createTempDirectory("graft-neardup").toString
    val ckpt = Files.createTempDirectory("graft-neardup-ckpt").toString
    val d = s.table("documents").select("doc_id", "text")

    // file 1: docs 0-49 plus an exact in-batch copy of doc 0 (id 5000)
    d.filter(col("doc_id") < 50)
      .unionAll(d.filter(col("doc_id") === 0)
        .select(lit(5000L).as("doc_id"), col("text")))
      .repartition(1).write.mode("append").parquet(dir)
    Thread.sleep(1100) // distinct file mtimes => deterministic batch order
    // file 2: docs 100-119 plus trimmed near-dups of batch-1 docs 0-9
    d.filter(col("doc_id") >= 100 && col("doc_id") < 120)
      .unionAll(d.filter(col("doc_id") < 10).select(
        (col("doc_id") + 100000L).as("doc_id"),
        expr("substring(text, 1, greatest(length(text) - 12, 1))").as("text")))
      .repartition(1).write.mode("append").parquet(dir)

    val found = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val idx = new StreamingPipeline.NearDupIndex(compactEvery = 2)
    val stream = s.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = StreamingPipeline.nearDupStream(stream, idx, (batchId, cands) =>
      found ++= cands.collect().map(r =>
        (batchId, r.getLong(0), r.getLong(1))),
      trigger = Trigger.AvailableNow(), checkpointDir = Some(ckpt))
    try q.awaitTermination(180000) finally q.stop()

    val pairs = found.map(p => (p._2, p._3))
    // the in-batch exact dup surfaces once
    assert(pairs.count(_ == (0L, 5000L)) == 1)
    // cross-batch planted near-dups surface against the INDEX, not the batch
    val planted = pairs.filter(p => p._2 == p._1 + 100000L)
    assert(planted.size >= 8, s"only ${planted.size}/10 planted pairs found")
    // incremental property: no pair is ever reported twice
    assert(pairs.distinct.size == pairs.size,
      s"duplicated reports: ${pairs.groupBy(identity).filter(_._2.size > 1).keys}")
    // the index accumulated both batches (4 band rows per doc)
    assert(idx.size == (51 + 30) * 4L)
  }

  test("accumulating indexes are replay-idempotent: a re-delivered " +
    "batchId re-emits the original pairs and appends NOTHING") {
    val s = spark
    val d = s.table("documents").select("doc_id", "text")
    def halfEx(src: org.apache.spark.sql.DataFrame, off: Long) =
      src.withColumn("_w", split(col("text"), " "))
        .select((col("doc_id") + off).as("doc_id"),
          array_join(slice(col("_w"), lit(1),
            greatest((size(col("_w")) / 2).cast("int"), lit(5))), " ")
            .as("text"))
    val idx = new StreamingPipeline.ContainmentIndex(k = 3,
      threshold = 0.8)
    idx.probeAndAppend(d.filter(col("doc_id") < 30), 0L).count()
    val sizeAfter0 = idx.size
    val b1 = halfEx(d.filter(col("doc_id").isin(5L, 6L)), 500000L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val first = rows(idx.probeAndAppend(b1, 1L))
    val sizeAfter1 = idx.size
    assert(first.contains((500005L, 5L)) && first.contains((500006L, 6L)))
    // at-least-once recovery: same batchId arrives again
    val replayed = rows(idx.probeAndAppend(b1, 1L))
    assert(replayed == first,
      "a replay must re-emit exactly the original attempt's pairs")
    assert(idx.size == sizeAfter1,
      "a replay must not append the batch a second time")
    assert(sizeAfter1 > sizeAfter0)
    // the stream then moves on: a NEW batch probes the committed state
    val b2 = halfEx(d.filter(col("doc_id") === 7L), 600000L)
    val next = rows(idx.probeAndAppend(b2, 2L))
    assert(next.contains((600007L, 7L)))

    // the near-dup index shares the guard
    val nd = new StreamingPipeline.NearDupIndex()
    nd.probeAndAppend(d.filter(col("doc_id") < 30), 0L).count()
    val ndSize0 = nd.size
    val ndB1 = d.filter(col("doc_id") === 3L).select(
      (col("doc_id") + 100000L).as("doc_id"), col("text"))
    val ndFirst = rows(nd.probeAndAppend(ndB1, 1L))
    val ndSize1 = nd.size
    assert(rows(nd.probeAndAppend(ndB1, 1L)) == ndFirst)
    assert(nd.size == ndSize1 && ndSize1 > ndSize0)
  }

  test("paragraph stream: THREE monotone slicings (1, 2, and 3 batches) " +
    "all drain to exactly the batch paragraphDedup output") {
    val s = spark
    val d = s.table("documents").select("doc_id", "text")
      .filter(col("doc_id") < 60)
    // the q_paragraph_dedup plant: every 10th doc's first 8 words +
    // junk tail, at shifted (HIGHER) ids so slicings stay monotone
    val planted = d.filter(col("doc_id") % 10 === 0)
      .withColumn("_w", split(col("text"), " "))
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(array_join(slice(col("_w"), 1, 8), " "),
          lit(" zq zr qx qy qz qw qv qu")).as("text"))
    val corpus = d.unionAll(planted)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    val batchOut = rows(graft.llm.Curation.paragraphDedup(
      corpus, chunkSize = 8, threshold = 0.8, k = 3))
    graft.llm.PipelineCaches.clear()
    val slicings: Seq[Seq[org.apache.spark.sql.DataFrame]] = Seq(
      Seq(corpus),
      Seq(corpus.filter(col("doc_id") < 30),
        corpus.filter(col("doc_id") >= 30)),
      Seq(corpus.filter(col("doc_id") < 20),
        corpus.filter(col("doc_id").between(20, 99999)),
        corpus.filter(col("doc_id") >= 100000)))
    for ((slices, si) <- slicings.zipWithIndex) {
      val idx = new StreamingPipeline.ParagraphDedupIndex(
        chunkSize = 8, threshold = 0.8, k = 3, compactEvery = 2)
      val drained = slices.zipWithIndex.map { case (b, i) =>
        rows(idx.probeAndAppend(b, i.toLong))
      }.reduce(_ ++ _)
      assert(drained == batchOut,
        s"slicing $si (${slices.size} batches) diverged from the " +
          s"batch recompute: ${drained.diff(batchOut)} extra, " +
          s"${batchOut.diff(drained)} missing")
    }
  }

  test("paragraph index guards: seed() refuses mismatched shape params " +
    "(silent un-dedup otherwise) and the constructor refuses " +
    "minEstJaccard above the threshold") {
    val s = spark
    val d = s.table("documents").select("doc_id", "text")
      .filter(col("doc_id") < 10)
    val idx = new StreamingPipeline.ParagraphDedupIndex(chunkSize = 12)
    val e = intercept[IllegalArgumentException] {
      idx.seed(graft.llm.Curation.paragraphIndex(d, chunkSize = 8))
    }
    graft.llm.PipelineCaches.clear()
    assert(e.getMessage.contains("must equal this"))
    val e2 = intercept[IllegalArgumentException] {
      new StreamingPipeline.ParagraphDedupIndex(
        threshold = 0.4, minEstJaccard = 0.5)
    }
    assert(e2.getMessage.contains("pre-filtered"))
  }

  test("paragraph stream replay: a re-delivered batchId re-emits the " +
    "original per-doc rows and appends nothing") {
    val s = spark
    val d = s.table("documents").select("doc_id", "text")
    val idx = new StreamingPipeline.ParagraphDedupIndex(
      chunkSize = 8, threshold = 0.8, k = 3)
    idx.probeAndAppend(d.filter(col("doc_id") < 20), 0L).count()
    val size0 = idx.size
    val b1 = d.filter(col("doc_id").between(20, 29))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val first = rows(idx.probeAndAppend(b1, 1L))
    val size1 = idx.size
    assert(size1 > size0)
    assert(rows(idx.probeAndAppend(b1, 1L)) == first,
      "a replay must re-emit exactly the original rows")
    assert(idx.size == size1, "a replay must not append twice")
  }

  test("mid-stream retire: a takedown between micro-batches re-elects " +
    "representatives in the LIVE state, the next batch probes the " +
    "retired state exactly as the batch incremental path would, and a " +
    "replayed earlier batch still re-emits unchanged (r17)") {
    val s = spark
    import s.implicits._
    import graft.llm.Curation
    // history: doc 1 and its verbatim twin 2 (group rep = doc 1's
    // chunk), doc 3 unique (its group dies with it)
    val hist = Seq((1L, "w1 w2 w3 w4"), (2L, "w1 w2 w3 w4"),
      (3L, "y1 y2 y3 y4")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    val idx = new StreamingPipeline.ParagraphDedupIndex(
      chunkSize = 4, threshold = 0.8, k = 3)
    idx.seed(Curation.paragraphIndex(hist, chunkSize = 4, k = 3))
    val b1 = Seq((10L, "z1 z2 z3 z4")).toDF("doc_id", "text")
    val out1 = rows(idx.probeAndAppend(b1, 0L))
    // takedown docs 1 (rep — doc 2 must be re-elected) and 3 (dead)
    idx.retire(Seq(1L, 3L))
    // the re-crawl batch: X dedups against the RE-ELECTED rep (doc 2),
    // Y is new text again (its group died)
    val b2 = Seq((20L, "w1 w2 w3 w4"), (21L, "y1 y2 y3 y4"))
      .toDF("doc_id", "text")
    val streamed = rows(idx.probeAndAppend(b2, 1L))
    // batch-path twin: retire the equivalent accumulated index
    val accumulated = Curation.paragraphIndex(
      hist.unionAll(b1).filter(
        col("doc_id") =!= 1L && col("doc_id") =!= 3L),
      chunkSize = 4, k = 3)
    val expected = rows(
      Curation.paragraphDedupIncremental(accumulated, b2))
    assert(streamed == expected,
      s"mid-stream retire must equal the batch path: $streamed " +
        s"vs $expected")
    assert(streamed.exists(t => t._1 == 20L && t._2 == 1L),
      "the re-crawl of X must dedup against the re-elected rep")
    assert(streamed.exists(t => t._1 == 21L && t._2 == 0L),
      "group Y died with its takedown — its re-crawl is new text")
    // a replayed micro-batch (the guard keeps the LATEST snapshot)
    // re-emits its original rows unchanged, appends nothing, and the
    // retirement survives the replay
    assert(out1.nonEmpty)
    assert(rows(idx.probeAndAppend(b2, 1L)) == streamed,
      "a replay must re-emit the original post-retire rows")
    assert(rows(idx.probeAndAppend(
        Seq((30L, "w1 w2 w3 w4")).toDF("doc_id", "text"), 2L))
      .exists(t => t._1 == 30L && t._2 == 1L),
      "post-replay probes must still see the retired (re-elected) state")
    graft.llm.PipelineCaches.clear()
  }

  test("every accumulating index honors mid-stream takedowns: retire() " +
    "drops the docs' state rows so later twins go unflagged, and an " +
    "empty-state retire fails loudly instead of silently dropping the " +
    "takedown (r17 — the maintenance contract across ALL streaming " +
    "state)") {
    val s = spark
    import s.implicits._
    val d = s.table("documents").select("doc_id", "text")
    def pairRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-dup: index docs 0-19, retire doc 3, then its verbatim twin
    // arrives — no candidate pair may surface against the retired doc
    val nd = new StreamingPipeline.NearDupIndex()
    nd.probeAndAppend(d.filter(col("doc_id") < 20), 0L).count()
    val before = nd.size
    nd.retire(Seq(3L))
    assert(nd.size < before, "retire must drop the doc's band rows")
    val twin = d.filter(col("doc_id") === 3L)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val ndPairs = pairRows(nd.probeAndAppend(twin, 1L))
    assert(!ndPairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"a retired doc must stop producing candidates: $ndPairs")
    // containment: same contract over the shingle rows
    val ci = new StreamingPipeline.ContainmentIndex(k = 3,
      threshold = 0.8)
    ci.probeAndAppend(d.filter(col("doc_id") < 20), 0L).count()
    ci.retire(Seq(5L))
    val excerpt = d.filter(col("doc_id") === 5L)
      .withColumn("_w", split(col("text"), " "))
      .select(lit(500005L).as("doc_id"),
        array_join(slice(col("_w"), lit(1),
          greatest((size(col("_w")) / 2).cast("int"), lit(5))), " ")
          .as("text"))
    val ciPairs = pairRows(ci.probeAndAppend(excerpt, 1L))
    assert(!ciPairs.exists(p => p._1 == 5L || p._2 == 5L),
      s"a retired doc must stop matching containment probes: $ciPairs")
    // semantic: vec_id-keyed retire
    val centers = Array(Array.fill(4)(1.0), Array.fill(4)(-1.0))
    val sd = new StreamingPipeline.SemanticDupIndex(centers,
      threshold = 0.9)
    val vecs = Seq((1L, Seq(1.0f, 0.9f, 1.0f, 1.1f)),
      (2L, Seq(-1.0f, -1.0f, -0.9f, -1.0f)))
      .toDF("vec_id", "embedding")
    sd.probeAndAppend(vecs, 0L).count()
    sd.retire(Seq(1L))
    val dup1 = Seq((10L, Seq(1.0f, 0.9f, 1.0f, 1.1f)))
      .toDF("vec_id", "embedding")
    val sdPairs = pairRows(sd.probeAndAppend(dup1, 1L))
    assert(!sdPairs.exists(p => p._1 == 1L || p._2 == 1L),
      s"a retired vector must stop matching: $sdPairs")
    // empty-state retire fails loudly everywhere
    for (thrown <- Seq(
        intercept[IllegalArgumentException] {
          new StreamingPipeline.NearDupIndex().retire(Seq(1L)) },
        intercept[IllegalArgumentException] {
          new StreamingPipeline.ContainmentIndex().retire(Seq(1L)) },
        intercept[IllegalArgumentException] {
          new StreamingPipeline.SemanticDupIndex(centers)
            .retire(Seq(1L)) },
        intercept[IllegalArgumentException] {
          new StreamingPipeline.ParagraphDedupIndex().retire(Seq(1L)) }))
      assert(thrown.getMessage.contains("needs state"))
  }

  test("every accumulating index snapshots and reseeds: an index " +
    "resumed from the persisted snapshot emits the SAME rows for the " +
    "next batch as the uninterrupted original (crash recovery without " +
    "stream replay — r17, the lifecycle leg retire() left open), " +
    "seed-after-state and empty snapshots fail loudly, and the " +
    "near-dup seed rejects a store with mismatched row-visible shape") {
    val s = spark
    import s.implicits._
    val d = s.table("documents").select("doc_id", "text")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_snap").toString
    def pairRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch1 = d.filter(col("doc_id") < 15)
    // batch 2 plants a verbatim twin of doc 3 and a half-doc excerpt
    // of doc 5, so the resumed-vs-original comparisons below compare
    // PROVABLY non-empty pair sets (pure corpus docs are distinct)
    val batch2 = d.filter(col("doc_id") >= 15 && col("doc_id") < 30)
      .unionAll(d.filter(col("doc_id") === 3L)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      .unionAll(d.filter(col("doc_id") === 5L)
        .withColumn("_w", split(col("text"), " "))
        .select(lit(500005L).as("doc_id"),
          array_join(slice(col("_w"), lit(1),
            greatest((size(col("_w")) / 2).cast("int"), lit(5))), " ")
            .as("text")))

    // near-dup: run batch 1, snapshot to parquet, "crash", reseed a
    // fresh index from the store, and batch 2 must probe identically
    val nd = new StreamingPipeline.NearDupIndex()
    nd.probeAndAppend(batch1, 0L).count()
    nd.snapshot.write.mode("overwrite").parquet(s"$tmp/nd")
    val ndOrig = pairRows(nd.probeAndAppend(batch2, 1L))
    assert(ndOrig.nonEmpty,
      "the planted twin must produce candidates against the index")
    val nd2 = new StreamingPipeline.NearDupIndex()
    nd2.seed(s.read.parquet(s"$tmp/nd"))
    assert(pairRows(nd2.probeAndAppend(batch2, 0L)) == ndOrig,
      "a reseeded near-dup index must resume the stream exactly")
    // row-visible shape guard: a 2-band index cannot eat an 4-band store
    val shapeErr = intercept[IllegalArgumentException] {
      new StreamingPipeline.NearDupIndex(numHashes = 8, bands = 2)
        .seed(s.read.parquet(s"$tmp/nd"))
    }
    assert(shapeErr.getMessage.contains("shape"), shapeErr.getMessage)

    // containment: same round-trip over the shingle store
    val ci = new StreamingPipeline.ContainmentIndex(k = 3,
      threshold = 0.5)
    ci.probeAndAppend(batch1, 0L).count()
    ci.snapshot.write.mode("overwrite").parquet(s"$tmp/ci")
    val ciOrig = pairRows(ci.probeAndAppend(batch2, 1L))
    assert(ciOrig.nonEmpty,
      "the planted excerpt must match its host in the index")
    val ci2 = new StreamingPipeline.ContainmentIndex(k = 3,
      threshold = 0.5)
    ci2.seed(s.read.parquet(s"$tmp/ci"))
    assert(pairRows(ci2.probeAndAppend(batch2, 0L)) == ciOrig,
      "a reseeded containment index must resume the stream exactly")

    // semantic: the snapshot persists (vec_id, embedding, cell); the
    // reseed re-assigns cells from the RELOADED embeddings with the
    // new index's centers — stale cells can never leak through
    val centers = Array(Array.fill(4)(1.0), Array.fill(4)(-1.0))
    val sd = new StreamingPipeline.SemanticDupIndex(centers,
      threshold = 0.9)
    val vecs1 = Seq((1L, Seq(1.0f, 0.9f, 1.0f, 1.1f)),
      (2L, Seq(-1.0f, -1.0f, -0.9f, -1.0f))).toDF("vec_id", "embedding")
    val vecs2 = Seq((10L, Seq(1.0f, 0.9f, 1.0f, 1.1f)),
      (11L, Seq(-1.0f, -0.9f, -1.0f, -1.0f))).toDF("vec_id", "embedding")
    sd.probeAndAppend(vecs1, 0L).count()
    sd.snapshot.write.mode("overwrite").parquet(s"$tmp/sd")
    val sdOrig = pairRows(sd.probeAndAppend(vecs2, 1L))
    val sd2 = new StreamingPipeline.SemanticDupIndex(centers,
      threshold = 0.9)
    sd2.seed(s.read.parquet(s"$tmp/sd").select("vec_id", "embedding"))
    assert(pairRows(sd2.probeAndAppend(vecs2, 0L)) == sdOrig,
      "a reseeded semantic index must resume the stream exactly")

    // paragraph: the model snapshot rides the EXISTING paragraph store
    // (params travel with it, so the reseed guard is exact)
    val pd = new StreamingPipeline.ParagraphDedupIndex(chunkSize = 5,
      threshold = 0.8)
    pd.probeAndAppend(batch1, 0L).count()
    graft.llm.Curation.saveParagraphIndex(pd.snapshot, s"$tmp/pd")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val pdOrig = rows(pd.probeAndAppend(batch2, 1L))
    val pd2 = new StreamingPipeline.ParagraphDedupIndex(chunkSize = 5,
      threshold = 0.8)
    pd2.seed(graft.llm.Curation.loadParagraphIndex(s, s"$tmp/pd"))
    assert(rows(pd2.probeAndAppend(batch2, 0L)) == pdOrig,
      "a reseeded paragraph index must resume the stream exactly")

    // lifecycle guards: snapshot on empty state and seed after state
    // fail loudly on every index
    for (thrown <- Seq(
        intercept[IllegalArgumentException] {
          new StreamingPipeline.NearDupIndex().snapshot },
        intercept[IllegalArgumentException] {
          new StreamingPipeline.ContainmentIndex().snapshot },
        intercept[IllegalArgumentException] {
          new StreamingPipeline.SemanticDupIndex(centers).snapshot },
        intercept[IllegalArgumentException] {
          new StreamingPipeline.ParagraphDedupIndex().snapshot }))
      assert(thrown.getMessage.contains("needs state"))
    for (thrown <- Seq(
        intercept[IllegalArgumentException] {
          nd2.seed(s.read.parquet(s"$tmp/nd")) },
        intercept[IllegalArgumentException] {
          ci2.seed(s.read.parquet(s"$tmp/ci")) },
        intercept[IllegalArgumentException] {
          sd2.seed(s.read.parquet(s"$tmp/sd")
            .select("vec_id", "embedding")) }))
      assert(thrown.getMessage.contains("before any batch"))
  }

  test("a NON-monotonic batchId fails loudly: only the latest batch can " +
    "replay, and an older id means the index is shared across queries") {
    val s = spark
    val d = s.table("documents").select("doc_id", "text")
    val idx = new StreamingPipeline.ContainmentIndex(k = 3,
      threshold = 0.8)
    idx.probeAndAppend(d.filter(col("doc_id") < 10), 5L).count()
    idx.probeAndAppend(d.filter(col("doc_id").between(10, 19))
      .select((col("doc_id") + 700000L).as("doc_id"), col("text")), 6L)
      .count()
    val e = intercept[IllegalStateException] {
      idx.probeAndAppend(d.filter(col("doc_id") === 3L)
        .select((col("doc_id") + 800000L).as("doc_id"), col("text")), 5L)
    }
    assert(e.getMessage.contains("non-monotonic"))
  }

  test("overlapping batch/index doc ids fail loudly instead of " +
    "silently double-counting intersections") {
    val s = spark
    val d = s.table("documents").select("doc_id", "text")
    val idx = new StreamingPipeline.ContainmentIndex(k = 3,
      threshold = 0.8)
    idx.probeAndAppend(d.filter(col("doc_id") < 10), 0L).count()
    val e = intercept[IllegalArgumentException] {
      // doc_id 3 is already indexed — the shared primitive's guard fires
      idx.probeAndAppend(d.filter(col("doc_id") === 3L), 1L)
    }
    assert(e.getMessage.contains("disjoint"))
  }

  test("streaming containment catches an excerpt arriving AFTER its " +
    "host, BEFORE its host, and in the same batch — both orientations") {
    val s = spark
    val dir = Files.createTempDirectory("graft-contain").toString
    val ckpt = Files.createTempDirectory("graft-contain-ckpt").toString
    val d = s.table("documents").select("doc_id", "text")
    def halfExcerpt(src: org.apache.spark.sql.DataFrame, offset: Long) =
      src.withColumn("_w", split(col("text"), " "))
        .select((col("doc_id") + offset).as("doc_id"),
          array_join(slice(col("_w"), lit(1),
            greatest((size(col("_w")) / 2).cast("int"), lit(5))), " ")
            .as("text"))

    // file 1: hosts 0-29, an excerpt of host 40 whose FULL doc only
    // arrives in batch 2 (excerpt-before-host), and an in-batch
    // excerpt of host 3
    d.filter(col("doc_id") < 30)
      .unionAll(halfExcerpt(d.filter(col("doc_id") === 40), 300000L))
      .unionAll(halfExcerpt(d.filter(col("doc_id") === 3), 400000L))
      .repartition(1).write.mode("append").parquet(dir)
    Thread.sleep(1100)
    // file 2: excerpts of batch-1 hosts 5 and 6 (excerpt-after-host),
    // plus host 40 itself
    halfExcerpt(d.filter(col("doc_id").isin(5L, 6L)), 500000L)
      .unionAll(d.filter(col("doc_id") === 40))
      .repartition(1).write.mode("append").parquet(dir)

    val found = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Long)]
    val idx = new StreamingPipeline.ContainmentIndex(
      k = 3, threshold = 0.8, compactEvery = 2)
    val stream = s.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = StreamingPipeline.containmentStream(stream, idx,
      (batchId, pairs) => found ++= pairs.collect().map(r =>
        (batchId, r.getLong(0), r.getLong(1))),
      trigger = Trigger.AvailableNow(), checkpointDir = Some(ckpt))
    try q.awaitTermination(180000) finally q.stop()

    val pairs = found.map(p => (p._2, p._3)).toSet
    // in-batch (batch 1): excerpt 400003 contained in host 3
    assert(pairs.contains((400003L, 3L)), s"in-batch excerpt missed: $pairs")
    // excerpt-after-host (batch 2 probes the index)
    assert(pairs.contains((500005L, 5L)) && pairs.contains((500006L, 6L)),
      s"after-host excerpts missed: $pairs")
    // excerpt-BEFORE-host: host 40 arrives in batch 2 and must be
    // recognized as HOST of the batch-1 excerpt sitting in the index
    assert(pairs.contains((300040L, 40L)),
      s"before-host excerpt missed — the host orientation is broken: $pairs")
    // no pair reported twice across the run
    val all = found.map(p => (p._2, p._3))
    assert(all.distinct.size == all.size)
  }

  test("streaming semantic dedup probes each batch's embeddings against " +
    "the growing cell index") {
    val s = spark
    val dir = Files.createTempDirectory("graft-semdup").toString
    val ckpt = Files.createTempDirectory("graft-semdup-ckpt").toString
    val e = s.table("embeddings").select("vec_id", "embedding")
    val centers = e.filter(col("vec_id").isin((1 to 16).map(_ * 5L): _*))
      .orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)

    // file 1: vectors 0-49 plus an in-batch scaled copy of vector 0
    def scaledCopy(src: Long, newId: Long) =
      e.filter(col("vec_id") === src).select(lit(newId).as("vec_id"),
        expr("transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))")
          .as("embedding"))
    e.filter(col("vec_id") < 50).unionAll(scaledCopy(0L, 5000L))
      .repartition(1).write.mode("append").parquet(dir)
    Thread.sleep(1100) // distinct file mtimes => deterministic batch order
    // file 2: vectors 100-119 plus scaled copies of batch-1 vectors 0-9
    e.filter(col("vec_id") >= 100 && col("vec_id") < 120).unionAll(
      e.filter(col("vec_id") < 10).select(
        (col("vec_id") + 100000L).as("vec_id"),
        expr("transform(embedding, x -> CAST(x * CAST(0.5 AS FLOAT) AS FLOAT))")
          .as("embedding")))
      .repartition(1).write.mode("append").parquet(dir)

    val found = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val idx = new StreamingPipeline.SemanticDupIndex(centers,
      threshold = 0.95, compactEvery = 2)
    val stream = s.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = StreamingPipeline.semanticDupStream(stream, idx, (batchId, ps) =>
      found ++= ps.collect().map(r => (batchId, r.getLong(0), r.getLong(1))),
      trigger = Trigger.AvailableNow(), checkpointDir = Some(ckpt))
    try q.awaitTermination(180000) finally q.stop()

    val pairs = found.map(p => (p._2, p._3)).toSeq
    // the in-batch scaled copy surfaces once, ordered a < b
    assert(pairs.count(_ == (0L, 5000L)) == 1, s"in-batch pair: $pairs")
    // every cross-batch planted copy surfaces against the INDEX (scaled
    // copies share their source's cell bitwise, and cosine is exactly 1)
    (0L until 10L).foreach { id =>
      assert(pairs.contains((id, id + 100000L)),
        s"planted copy of $id missing: $pairs")
    }
    // no organic pair on the random corpus, nothing reported twice; the
    // 12th pair is (5000, 100000) — both are copies of vector 0, so the
    // transitive cosine-1 pair is genuinely above threshold
    assert(pairs.distinct.size == pairs.size)
    assert(pairs.contains((5000L, 100000L)))
    assert(pairs.size == 12, s"unexpected extra pairs: $pairs")
    // the index accumulated both batches
    assert(idx.size == 51 + 30L)
  }

  test("streaming ANN serve answers each query batch from the persisted " +
    "RP index, identically to the batch search") {
    val s = spark
    val e = s.table("embeddings")
    val idxDir = Files.createTempDirectory("graft-rpidx").toString
    val qDir = Files.createTempDirectory("graft-rpq").toString
    val ckpt = Files.createTempDirectory("graft-rpq-ckpt").toString
    graft.llm.Similarity.saveRpIndex(e, idxDir, outDim = 16)
    val (sketches, outDim, dim) = graft.llm.Similarity.loadRpIndex(s, idxDir)

    // two query files = two micro-batches, query vectors from the corpus
    e.filter(col("vec_id").isin(0L, 1L))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .repartition(1).write.mode("append").parquet(qDir)
    Thread.sleep(1100)
    e.filter(col("vec_id") === 2L)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .repartition(1).write.mode("append").parquet(qDir)

    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double, Int)]
    val stream = s.readStream
      .schema("query_id BIGINT, q_emb ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", 1)
      .parquet(qDir)
    // queries here ARE corpus vectors re-queried by id, the one case
    // where excludeSelfId is correct (and makes serve comparable to
    // rpTopK's self-excluding semantics)
    val q = StreamingPipeline.annServeStream(stream, sketches, e,
      outDim, dim, (_, res) =>
        got ++= res.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))),
      k = 10, rerank = 30, excludeSelfId = true,
      trigger = Trigger.AvailableNow(), checkpointDir = Some(ckpt))
    try q.awaitTermination(180000) finally q.stop()

    // corpus-vector queries must answer exactly like the batch pipeline
    val batch = graft.llm.Similarity.rpTopK(e, Seq(0L, 1L, 2L), k = 10,
      outDim = 16, rerank = 30).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.sorted.toSeq == batch.sorted.toSeq,
      s"serve diverges from batch: got=${got.size} want=${batch.length}")
  }

  test("streaming vocab-drift monitor re-encodes each batch against the " +
    "persisted BPE store and alerts through the event bus") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-vdrift").toString
    val ckpt = Files.createTempDirectory("graft-vdrift-ckpt").toString
    val busDir = Files.createTempDirectory("graft-vdrift-bus").toString
    val store = Files.createTempDirectory("graft-vdrift-store").toString

    val trainDocs = Seq((1L, "alpha beta gamma alpha"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    graft.llm.Bpe.saveBpeModel(
      graft.llm.Bpe.trainLocal(s, trainDocs, nMerges = 3), store)
    val model = graft.llm.Bpe.loadBpeModel(s, store)

    // batch 1: fully in-vocab (rate 0 — below threshold, no alert);
    // batch 2: fully OOV (rate 1 — alert); batch 3: zero words (empty
    // texts — the n_words=0 guard: rate 0, never an alert, no NaN)
    Seq((10L, "alpha beta"), (11L, "gamma alpha beta"))
      .toDF("doc_id", "text").repartition(1).write.mode("append").parquet(dir)
    Thread.sleep(1100) // distinct mtimes => deterministic batch order
    Seq((20L, "zeta epsilon zeta"), (21L, "epsilon"))
      .toDF("doc_id", "text").repartition(1).write.mode("append").parquet(dir)
    Thread.sleep(1100)
    Seq((30L, ""), (31L, ""))
      .toDF("doc_id", "text").repartition(1).write.mode("append").parquet(dir)

    val bus = new graft.dml.events.EventBus(s, busDir)
    val rates = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val q = StreamingPipeline.vocabDriftStream(
      s.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(dir),
      model, bus, threshold = 0.2,
      onBatch = (b, r) => { rates += ((b, r)); () },
      trigger = Trigger.AvailableNow(), checkpointDir = Some(ckpt))
    try q.awaitTermination(180000) finally q.stop()

    assert(rates.sortBy(_._1).map(_._2).toSeq == Seq(0.0, 1.0, 0.0),
      s"per-batch OOV rates off: $rates")
    val alerts = bus.subscribe("vocab_drift").collect()
    assert(alerts.length == 1, s"exactly the OOV batch must alert: " +
      s"${alerts.length}")
    assert(alerts.head.getAs[Double]("value") == 1.0)
    assert(alerts.head.getAs[String]("props").contains("\"n_words\": \"4\""))
  }

  test("streaming drain delivers each micro-batch in priority order") {
    val s = spark
    val dir = Files.createTempDirectory("graft-prio-stream").toString
    val ckpt = Files.createTempDirectory("graft-prio-ckpt").toString
    val bus = new graft.dml.events.EventBus(s, dir)
    // chatter first, the high-priority event published LAST — within the
    // micro-batch it must still drain first (cross-type order)
    bus.publish("training.epoch_complete", Map("epoch" -> "1"))
    Thread.sleep(3)
    bus.publish("training.heartbeat", Map.empty)
    Thread.sleep(3)
    bus.publish("training.converged", Map.empty)

    val batches =
      scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Int, Long)]]
    val q = bus.subscribeStreamOrdered("training.*", ckpt,
        trigger = Trigger.AvailableNow()) { ordered =>
      val rows = ordered.orderBy("deliver_pos")
        .select("event_type", "priority", "deliver_pos").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
      batches.synchronized { batches += rows; () }
    }
    q.awaitTermination(180000)
    val all = batches.synchronized(batches.toList)
    assert(all.map(_.size).sum == 3, s"all events delivered once: $all")
    all.filter(_.nonEmpty).foreach { b =>
      assert(b.map(_._3) == (1L to b.size).toSeq,
        s"per-batch positions restart at 1 and are contiguous: $b")
      assert(b.map(_._2) == b.map(_._2).sorted,
        s"drain order within a batch is priority-ascending: $b")
    }
    // the micro-batch containing converged drains it before its chatter
    val withConverged = all.find(_.exists(_._1 == "training.converged")).get
    assert(withConverged.head._1 == "training.converged",
      s"high-priority event must lead its batch: $withConverged")
  }

  test("streaming sessionizer emits the batch sessions closed by gaps") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-sess").toString
    val ckpt = Files.createTempDirectory("graft-sess-ckpt").toString
    s.table("events").limit(2000).write.mode("append").parquet(dir)

    val gap = 6 * 3600L
    val stream = s.readStream.schema(Events.schema).parquet(dir).as[Event]
    val q = StreamingPipeline.sessionizeStream(stream, gapSeconds = gap)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val got = s.table("sessions_out")
      .select("user_id", "session_start", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2)))
      .toSet

    // batch ground truth (the q_events_sessions construction), minus each
    // user's LAST session — it is still open in state, only an event-time
    // timeout in a later batch would flush it
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = s.read.parquet(dir)
      .withColumn("_prev", lag(col("ts"), 1).over(byUser))
      .withColumn("_new", when(col("_prev").isNull ||
        col("ts").cast("timestamp").cast("long") -
          col("_prev").cast("timestamp").cast("long") > gap, 1L)
        .otherwise(0L))
      .withColumn("session_idx", sum(col("_new")).over(cum))
      .groupBy("user_id", "session_idx")
      .agg(min(col("ts")).cast("timestamp").as("session_start"),
        count(lit(1)).as("n_events"))
    val lastIdx = sessions.groupBy("user_id")
      .agg(max(col("session_idx")).as("session_idx"))
    val lastSessions = sessions.join(lastIdx, Seq("user_id", "session_idx"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(2).getTime, r.getLong(3)))
      .toSet
    val gapClosed = sessions.join(lastIdx, Seq("user_id", "session_idx"),
        "left_anti")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(2).getTime, r.getLong(3)))
      .toSet

    assert(gapClosed.nonEmpty, "fixture produced no closed sessions")
    // every gap-closed session is emitted; the only extras allowed are
    // final sessions flushed by the event-time timeout (how many fire
    // depends on how far the watermark advanced across micro-batches)
    assert(gapClosed.subsetOf(got),
      s"missing sessions: ${(gapClosed -- got).take(5)}")
    assert((got -- gapClosed).subsetOf(lastSessions),
      s"unexpected sessions: ${((got -- gapClosed) -- lastSessions).take(5)}")
  }

  test("late-data replay: drops, stragglers, and finalization all pinned") {
    // the q_events_late_watermark protocol against a batch-computed
    // expectation: held rows whose window predates the mid-batch
    // watermark vanish, the straggler band survives, and only windows
    // the final watermark passed are emitted (SPARK-40925's lag-one
    // late-filter model — this test is the in-CI twin of the oracle)
    val s = spark
    val out = graft.operators.EventQueries
      .queries("q_events_late_watermark")(s, graft.SparkTestSession.fixtureDir)
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    val e = s.table("events")
    val cutoff = lit("2024-01-25 00:00:00").cast("timestamp")
    // ms space: unix_millis truncates µs exactly like the engine's
    // watermark tracking does
    val base = e
      .withColumn("ws", date_trunc("HOUR", col("ts")))
      .withColumn("we_ms",
        unix_millis(col("ws").cast("timestamp")) + 3600L * 1000)
      .withColumn("tail", col("ts") >= cutoff)
      .withColumn("held", !col("tail") && col("event_id") % 7 === 0)
      .withColumn("mid",
        !col("tail") && !col("held") && col("event_id") % 101 === 0)
    def wmOf(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(max(unix_millis(col("ts").cast("timestamp"))))
        .collect()(0).getLong(0) - 48L * 3600 * 1000
    val wmh = wmOf(base.filter(!col("tail") && !col("held") && !col("mid")))
    val wmf = wmOf(base)
    val expected = base
      .filter((!col("held") || col("we_ms") > wmh) && col("we_ms") <= wmf)
      .groupBy("ws", "event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    assert(out == expected)
    // all three regimes genuinely exercised by the fixture
    val held = base.filter(col("held"))
    assert(held.filter(col("we_ms") <= wmh).count() > 0, "no dropped-late rows")
    assert(held.filter(col("we_ms") > wmh).count() > 0, "no kept-late rows")
    assert(base.filter(col("we_ms") > wmf).count() > 0, "no unfinalized windows")
  }

  test("dedup-rearm replay: late drop, in-state drop, and re-admission") {
    // the q_stream_dedup_rearm protocol against a batch-computed
    // expectation: dropDuplicatesWithinWatermark re-admits a key once
    // the watermark passes its first-seen expiry — bounded state means
    // dedup within the horizon, not forever
    val s = spark
    // normalize to (id, epoch-ms): the sink's ts is TIMESTAMP while the
    // fixture's is NTZ — same instants under the UTC session
    def keys(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("event_id"), unix_millis(col("ts").cast("timestamp")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = keys(graft.operators.EventQueries
      .queries("q_stream_dedup_rearm")(s, graft.SparkTestSession.fixtureDir))
    val e = s.table("events").select("event_id", "ts", "event_type", "value")
    val cutoff = lit("2024-01-25 00:00:00").cast("timestamp")
    val bulk = e.filter(col("ts") < cutoff)
    val tsMs = unix_millis(col("ts").cast("timestamp"))
    val wm = bulk.agg(max(tsMs)).collect()(0).getLong(0) - 5L * 86400 * 1000
    val re = bulk.filter(col("event_id") % 3 === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 10 DAYS"))
    val lateDropped = re.filter(tsMs <= wm)
    val dupDropped = re.filter(tsMs > wm &&
      tsMs - 10L * 86400 * 1000 + 5L * 86400 * 1000 > wm)
    val readmitted = re.filter(tsMs > wm &&
      tsMs - 10L * 86400 * 1000 + 5L * 86400 * 1000 <= wm)
    Seq(lateDropped, dupDropped, readmitted).foreach(d =>
      assert(d.count() > 0, "a regime is unpopulated on the fixture"))
    val expected = keys(e) ++ keys(readmitted)
    assert(out == expected)
  }

  test("session replay equals batch gap-sessionization exactly") {
    // the q_stream_sessions protocol: with each user's history in one
    // batch and a synthetic watermark-advance row flushing every open
    // session, the stateful streaming sessionizer must reproduce batch
    // sessionization row for row — including the timeout-flushed finals
    // the subset-based test above cannot pin
    val s = spark
    import org.apache.spark.sql.expressions.Window
    val out = graft.operators.EventQueries
      .queries("q_stream_sessions")(s, graft.SparkTestSession.fixtureDir)
      .collect()
      .map(r => (r.getLong(0), r.get(1).toString, r.get(2).toString,
        r.getLong(3))).toSet
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("tms").asc, col("event_id").asc)
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = s.table("events")
      .withColumn("tms", unix_millis(col("ts").cast("timestamp")))
      .withColumn("_prev", lag(col("tms"), 1).over(byUser))
      .withColumn("_new", when(col("_prev").isNull ||
        col("tms") - col("_prev") > 6L * 3600 * 1000, 1L).otherwise(0L))
      .withColumn("sid", sum(col("_new")).over(cum))
      .groupBy("user_id", "sid")
      .agg(timestamp_millis(min("tms")).as("session_start"),
        timestamp_millis(max("tms")).as("session_end"),
        count(lit(1)).as("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.get(2).toString, r.get(3).toString,
        r.getLong(4))).toSet
    assert(out == expected)
    // the synthetic -1 advance user's open session must never leak
    assert(!out.exists(_._1 == -1L))
  }

  test("deferred scope reclaim (r18): a batch's probe output held past " +
    "the NEXT batch still evaluates to the same rows (recompute over " +
    "checkpoint-backed inputs, never stale or missing), and close() is " +
    "idempotent and leaves the index probeable") {
    val s = spark
    val d = s.table("documents").select("doc_id", "text")
      .filter(col("doc_id") < 40)
    def halfEx(src: org.apache.spark.sql.DataFrame, off: Long) =
      src.withColumn("_w", split(col("text"), " "))
        .select((col("doc_id") + off).as("doc_id"),
          array_join(slice(col("_w"), lit(1),
            greatest((size(col("_w")) / 2).cast("int"), lit(5))), " ")
            .as("text"))
    def pairRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // containment: hold batch 1's frame across batch 2 — its scope
    // caches are reclaimed by batch 2's probe, so the second collect
    // exercises the recompute path end to end
    val ci = new StreamingPipeline.ContainmentIndex(k = 3,
      threshold = 0.8)
    ci.probeAndAppend(d, 0L).count()
    val b1 = halfEx(d.filter(col("doc_id").isin(5L, 6L)), 500000L)
    val out1 = ci.probeAndAppend(b1, 1L)
    val before = pairRows(out1)
    assert(before.contains((500005L, 5L)) && before.contains((500006L, 6L)))
    val b2 = halfEx(d.filter(col("doc_id") === 7L), 600000L)
    ci.probeAndAppend(b2, 2L).count() // reclaims batch 1's scope
    assert(pairRows(out1) == before,
      "a held output frame must recompute to the original pairs after " +
        "its scope is reclaimed")
    ci.close(); ci.close() // idempotent
    val b3 = halfEx(d.filter(col("doc_id") === 8L), 700000L)
    assert(pairRows(ci.probeAndAppend(b3, 3L)).contains((700008L, 8L)),
      "close() must leave the index probeable")
    ci.close()

    // paragraph: same contract over the per-doc clean output
    val pi = new StreamingPipeline.ParagraphDedupIndex(chunkSize = 8)
    def cleanRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    pi.probeAndAppend(d.filter(col("doc_id") < 20), 0L).count()
    val pOut = pi.probeAndAppend(
      d.filter(col("doc_id").between(20, 29)), 1L)
    val pBefore = cleanRows(pOut)
    pi.probeAndAppend(
      d.filter(col("doc_id").between(30, 39)), 2L).count()
    assert(cleanRows(pOut) == pBefore,
      "a held paragraph output must recompute to the original rows " +
        "after its scope is reclaimed")
    pi.close(); pi.close()
  }

  test("streaming dedup with watermark drops replayed events") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sdedup-ckpt").toString
    // replay the fixture log twice — at-least-once delivery
    s.table("events").limit(200).write.mode("append").parquet(dir)
    s.table("events").limit(200).write.mode("append").parquet(dir)
    val deduped = s.readStream
      .schema(graft.dml.events.Events.schema).parquet(dir)
      .withWatermark("ts", "24 hours")
      .dropDuplicates("event_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(s.table("dedup_out").count() == 200)
    assert(s.table("dedup_out").select("event_id").distinct().count() == 200)
  }
}
