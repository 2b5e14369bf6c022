package graft.scale

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The crash-safe store swap contract: replacement verified before the
  * live store is touched, pre-existing backups never pre-deleted, and —
  * the non-atomic window between the two renames — one-rename recovery
  * with nothing lost. */
class StoreMaintSpec extends AnyFunSuite {

  private def spark = SparkTestSession.withTables()

  private def freshStore(rows: Int): (String, String) = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-storemaint").toString
    val path = s"$dir/store"
    (1 to rows).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .write.parquet(path)
    (dir, path)
  }

  test("replaceStore swaps in the replacement and reclaims its backup") {
    val s = spark
    import s.implicits._
    val (_, path) = freshStore(10)
    val kept = StoreMaint.replaceStore(s, path,
      s.read.parquet(path).filter(col("id") <= 4))
    assert(kept == 4)
    assert(s.read.parquet(path).count() == 4)
    assert(!new java.io.File(path + "_old").exists,
      "backup must be reclaimed after the live path verifies")
  }

  test("a swapped-in store that reads back a different row count is " +
    "swapped out again: the original is live and the swap fails") {
    val s = spark
    import s.implicits._
    val conf = s.sparkContext.hadoopConfiguration
    conf.set("fs.lossy.impl", classOf[LossyRenameFs].getName)
    conf.setBoolean("fs.lossy.impl.disable.cache", true)
    val dir = Files.createTempDirectory("graft-storemaint-lossy").toString
    val path = s"lossy://$dir/store"
    (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .write.parquet(path)
    val e = intercept[java.io.IOException] {
      StoreMaint.replaceStore(s, path,
        s.read.parquet(path).filter(col("id") <= 6))
    }
    assert(e.getMessage.contains("expected 6") &&
      e.getMessage.contains("original restored"), e.getMessage)
    assert(s.read.parquet(path).as[(Long, String)].collect().map(_._1)
      .sorted.toSeq == (1L to 10L),
      "the original store must be live again, whole")
    assert(!new java.io.File(s"$dir/store_old").exists,
      "the backup must have been renamed back in")
    assert(new java.io.File(s"$dir/store_compacting").exists,
      "the short replacement is parked at the side path, not deleted")
  }

  test("a pre-existing crash backup is never deleted by the next swap") {
    val s = spark
    import s.implicits._
    val (dir, path) = freshStore(10)
    // a half-finished earlier swap left a backup that may be the only copy
    val stale = path + "_old"
    Seq((99L, "stale")).toDF("id", "v").write.parquet(stale)
    StoreMaint.replaceStore(s, path,
      s.read.parquet(path).filter(col("id") <= 3))
    assert(s.read.parquet(stale).count() == 1,
      "the stale backup must survive the swap untouched")
    // this swap's own backup took a fresh name and was then reclaimed
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("store_old")) == 1)
  }

  test("crash between the two renames: one-rename recovery, nothing lost") {
    val s = spark
    val (_, path) = freshStore(10)
    // reproduce replaceStore's state at the crash point: the replacement
    // is verified at the side path, the live store moved aside, the
    // second rename never ran
    s.read.parquet(path).filter(col("id") <= 4)
      .write.parquet(path + "_compacting")
    assert(new java.io.File(path).renameTo(new java.io.File(path + "_old")))
    assert(!new java.io.File(path).exists)

    assert(StoreMaint.recover(s, path), "recovery must report it acted")
    assert(s.read.parquet(path).count() == 10,
      "the ORIGINAL store comes back — the interrupted swap is undone")
    assert(new java.io.File(path + "_compacting").exists,
      "recovery deletes nothing; the replacement stays for reclaim")
    // a second recover is a no-op on the now-healthy store
    assert(!StoreMaint.recover(s, path))
    assert(s.read.parquet(path).count() == 10)
  }

  test("recover restores the NEWEST backup, not a stale canonical _old") {
    val s = spark
    import s.implicits._
    val (_, path) = freshStore(10)
    // a crash two swaps ago left a stale canonical backup (8 rows)...
    Seq.tabulate(8)(i => (i.toLong, "stale")).toDF("id", "v")
      .write.parquet(path + "_old")
    // ...so the next swap parked the then-current store (10 rows) under a
    // fresh name, then crashed in the rename window: live store gone
    assert(new java.io.File(path)
      .renameTo(new java.io.File(path + "_old_1234567890")))
    // make the mtime order unambiguous regardless of test speed
    assert(new java.io.File(path + "_old").setLastModified(1000000000000L))
    assert(new java.io.File(path + "_old_1234567890")
      .setLastModified(2000000000000L))

    assert(StoreMaint.recover(s, path))
    assert(s.read.parquet(path).count() == 10,
      "the newest surviving copy must come back, not the stale _old")
    assert(new java.io.File(path + "_old").exists,
      "the stale backup is left for operator reclaim, never deleted")
  }

  test("recover orders parks by name-embedded epoch, not filesystem mtime") {
    val s = spark
    import s.implicits._
    val (_, path) = freshStore(10)
    // an older park from two crashes ago (8 rows, wall-clock epoch)...
    Seq.tabulate(8)(i => (i.toLong, "stale")).toDF("id", "v")
      .write.parquet(path + "_old_1700000000000")
    // ...and the newest park (the 10-row store, one second later)
    assert(new java.io.File(path)
      .renameTo(new java.io.File(path + "_old_1700000001000")))
    // LIE with the mtimes (object stores report 0/fake dir mtimes and
    // rename can reset them): the newest park gets the OLDER mtime
    assert(new java.io.File(path + "_old_1700000001000")
      .setLastModified(1000000000000L))
    assert(new java.io.File(path + "_old_1700000000000")
      .setLastModified(2000000000000L))

    assert(StoreMaint.recover(s, path))
    assert(s.read.parquet(path).count() == 10,
      "the park with the larger name epoch must win even when mtime lies")
  }

  test("legacy nanoTime park suffixes never outrank wall-clock epochs") {
    val s = spark
    import s.implicits._
    val (_, path) = freshStore(10)
    // a pre-epoch-naming park: System.nanoTime() suffix ~1 day of
    // uptime (8.6e13) — numerically HUGE but not a wall clock; taking
    // it at face value would roll the store back to this stale copy
    Seq.tabulate(8)(i => (i.toLong, "stale")).toDF("id", "v")
      .write.parquet(path + "_old_86400000000000")
    assert(new java.io.File(path + "_old_86400000000000")
      .setLastModified(1000000000000L))
    // the real newest park, named with wall-clock millis, newer mtime
    assert(new java.io.File(path)
      .renameTo(new java.io.File(path + "_old_1700000001000")))
    assert(new java.io.File(path + "_old_1700000001000")
      .setLastModified(1500000000000L))

    assert(StoreMaint.recover(s, path))
    assert(s.read.parquet(path).count() == 10,
      "an out-of-window numeric suffix must fall back to mtime, not win")
  }

  test("recover with neither live store nor backup fails loudly") {
    val dir = Files.createTempDirectory("graft-storemaint").toString
    val e = intercept[java.io.IOException] {
      StoreMaint.recover(spark, s"$dir/missing")
    }
    assert(e.getMessage.contains("no backup"))
  }

  private def embCorpus(s: org.apache.spark.sql.SparkSession) =
    s.table("embeddings").select(col("vec_id"), col("embedding"))

  private def topkRows(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Long, Int)] =
    df.select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      .sortBy(t => (t._1, t._3))

  test("RP store: append == rebuild, retire + compact == filtered " +
    "rebuild (search-result identity both ways)") {
    import graft.llm.Similarity
    val s = spark
    val e = embCorpus(s)
    val qids = Seq(0L, 1L, 2L)
    val dir = Files.createTempDirectory("graft-rp-maint").toString

    Similarity.saveRpIndex(e.filter(col("vec_id") % 2 === 0), dir,
      outDim = 16)
    Similarity.appendToRpIndex(s, dir, e.filter(col("vec_id") % 2 === 1))
    val (sk, outDim, dim) = Similarity.loadRpIndex(s, dir)
    assert(outDim == 16 && dim == 64)
    val appended = topkRows(Similarity.searchRp(sk, e, qids, k = 5))
    val rebuilt = topkRows(Similarity.rpTopK(e, qids, k = 5))
    assert(appended == rebuilt, "append must equal a full rebuild")

    // retire a handful of ids; compaction rewrites the store in place
    val retired = Seq(10L, 11L, 12L, 13L)
    val kept = Similarity.compactRpIndexStore(s, dir, retired)
    val (sk2, _, _) = Similarity.loadRpIndex(s, dir)
    assert(kept == sk2.count())
    assert(sk2.filter(col("vec_id").isInCollection(retired)).count() == 0)
    val pruned = e.filter(!col("vec_id").isInCollection(retired))
    val afterRetire =
      topkRows(Similarity.searchRp(sk2, pruned, qids, k = 5))
    val filteredRebuild = topkRows(Similarity.rpTopK(pruned, qids, k = 5))
    assert(afterRetire == filteredRebuild,
      "retire + compact must equal a rebuild over the pruned corpus")

    // loud failure on a width-mismatched shard: nothing must be written
    val bad = e.limit(1).select((col("vec_id") + 900000L).as("vec_id"),
      expr("slice(embedding, 1, 32)").as("embedding"))
    intercept[IllegalArgumentException] {
      Similarity.appendToRpIndex(s, dir, bad)
    }
  }

  test("IVF store: append == rebuild, retire + compact == filtered " +
    "rebuild (the seeded quantizer is frozen metadata)") {
    import graft.llm.Similarity
    val s = spark
    val e = embCorpus(s)
    val qids = Seq(0L, 1L, 2L)
    val seeds = (1 to 8).map(_ * 5L)
    val dir = Files.createTempDirectory("graft-ivf-maint").toString
    // centers come from the FULL corpus's pinned seeds (odd seed ids
    // exist only there); the stored assignment starts as the even half
    val full = Similarity.buildIvfIndexSeeded(e, seeds, persist = false)
    Similarity.saveIvfIndex(graft.llm.Similarity.IvfIndex(
      full.assigned.filter(col("vec_id") % 2 === 0), full.centers), dir)
    Similarity.appendToIvfIndex(s, dir, e.filter(col("vec_id") % 2 === 1))
    val idx = Similarity.loadIvfIndex(s, dir, persist = false)
    val q = e.filter(col("vec_id").isInCollection(qids))
    val appended = topkRows(Similarity.searchIvf(idx, q, k = 5))
    val rebuilt = topkRows(
      Similarity.ivfTopKSeeded(e, seeds, qids, k = 5))
    assert(appended == rebuilt, "append must equal a full rebuild")
    val retired = Seq(21L, 22L, 23L)
    val kept = Similarity.compactIvfIndexStore(s, dir, retired)
    val idx2 = Similarity.loadIvfIndex(s, dir, persist = false)
    assert(kept == idx2.assigned.count())
    val pruned = e.filter(!col("vec_id").isInCollection(retired))
    val afterRetire = topkRows(Similarity.searchIvf(idx2,
      pruned.filter(col("vec_id").isInCollection(qids)), k = 5))
    val filteredRebuild = topkRows(
      Similarity.ivfTopKSeeded(pruned, seeds, qids, k = 5))
    assert(afterRetire == filteredRebuild)
    val bad = e.limit(1).select((col("vec_id") + 900000L).as("vec_id"),
      expr("slice(embedding, 1, 32)").as("embedding"))
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(s, dir, bad)
    }
  }

  test("IVF-PQ store: append == rebuild, retire + compact == filtered " +
    "rebuild, dim-mismatched shards rejected") {
    import graft.llm.{Pq, Similarity}
    val s = spark
    val e = embCorpus(s)
    val qids = Seq(0L, 1L, 2L)
    val seeds = (1 to 8).map(_ * 5L)
    val centers =
      Similarity.buildIvfIndexSeeded(e, seeds, persist = false).centers
    val cb = Pq.seededCodebooks(e, seeds, m = 8)
    val dir = Files.createTempDirectory("graft-ivfpq-maint").toString

    Pq.saveIvfPqIndex(e.filter(col("vec_id") % 2 === 0), centers, cb, dir)
    Pq.appendToIvfPqIndex(s, dir, e.filter(col("vec_id") % 2 === 1))
    val (assigned, c2, cb2) = Pq.loadIvfPqIndex(s, dir)
    val q = e.filter(col("vec_id").isInCollection(qids))
    val appended =
      topkRows(Pq.searchIvfPqCodes(assigned, c2, cb2, q, k = 5))
    val rebuilt = topkRows(
      Pq.ivfPqTopKSeeded(e, seeds, seeds, qids, k = 5, m = 8))
    assert(appended == rebuilt, "append must equal a full rebuild")

    // non-seed ids: the rebuild side must still find every quantizer seed
    val retired = Seq(21L, 22L, 23L)
    val kept = Pq.compactIvfPqIndexStore(s, dir, retired)
    val (a3, _, _) = Pq.loadIvfPqIndex(s, dir)
    assert(kept == a3.count())
    assert(a3.filter(col("vec_id").isInCollection(retired)).count() == 0)
    val pruned = e.filter(!col("vec_id").isInCollection(retired))
    val afterRetire = topkRows(Pq.searchIvfPqCodes(a3, c2, cb2,
      pruned.filter(col("vec_id").isInCollection(qids)), k = 5))
    val filteredRebuild = topkRows(
      Pq.ivfPqTopKSeeded(pruned, seeds, seeds, qids, k = 5, m = 8))
    assert(afterRetire == filteredRebuild,
      "retire + compact must equal a rebuild over the pruned corpus")

    // loud failure on a width-mismatched shard: nothing must be written
    val bad = e.limit(1).select((col("vec_id") + 900000L).as("vec_id"),
      expr("slice(embedding, 1, 32)").as("embedding"))
    intercept[IllegalArgumentException] {
      Pq.appendToIvfPqIndex(s, dir, bad)
    }
  }

  test("paragraph store: retire + compact == filtered rebuild, " +
    "INCLUDING a retired representative whose group re-elects; the " +
    "compacted store's watermark is recomputed and it probes " +
    "identically to the rebuild (r16 verdict task 4)") {
    import graft.llm.Curation
    val s = spark
    import s.implicits._
    // group X = docs 1 (rep), 2, and doc 4's second chunk; group Y =
    // doc 3 alone (dies); group Z = doc 4's first chunk (untouched)
    val docsAll = Seq(
      (1L, "w1 w2 w3 w4"),
      (2L, "w1 w2 w3 w4"),
      (3L, "y1 y2 y3 y4"),
      (4L, "z1 z2 z3 z4 w1 w2 w3 w4")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-para-maint").toString
    Curation.saveParagraphIndex(
      Curation.paragraphIndex(docsAll, chunkSize = 4, k = 3), dir)
    val kept = Curation.compactParagraphIndexStore(s, dir, Seq(1L, 3L))
    val back = Curation.loadParagraphIndex(s, dir)
    val rebuilt = Curation.paragraphIndex(
      docsAll.filter(col("doc_id") =!= 1L && col("doc_id") =!= 3L),
      chunkSize = 4, k = 3)
    assert(kept == 2, "groups X (re-elected) and Z survive; Y dies")
    def sets(m: Curation.ParagraphIndexModel) = (
      m.exact.collect().map(_.toSeq).toSet,
      m.bands.collect().map(_.toSeq).toSet,
      m.shingles.collect().map(_.toSeq).toSet,
      m.members.collect().map(_.toSeq).toSet)
    assert(sets(back) == sets(rebuilt),
      "compacted store must equal the filtered rebuild")
    // the compact recomputed the watermark from the post-retire exact
    // (re-election RAISED it: doc 2's chunk key replaced doc 1's)
    assert(back.maxRepKey == rebuilt.maxRepKey && back.maxRepKey.isDefined,
      s"${back.maxRepKey} vs ${rebuilt.maxRepKey}")
    // probe identity: the takedown-then-recrawl batch dedups against
    // the RE-ELECTED representative through the compacted store
    val batch = Seq((10L, "w1 w2 w3 w4"), (11L, "y1 y2 y3 y4"))
      .toDF("doc_id", "text")
    def probe(ix: Curation.ParagraphIndexModel) =
      Curation.paragraphDedupIncremental(ix, batch).collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    val got = probe(back)
    assert(got == probe(rebuilt))
    graft.llm.PipelineCaches.clear()
    assert(got(10L) == ((1L, "")) && got(11L) == ((0L, "y1 y2 y3 y4")))
    // no backup debris: every relation's swap reclaimed its _old dir
    for (rel <- Seq("exact", "bands", "shingles", "members"))
      assert(!new java.io.File(s"$dir/${rel}_old").exists,
        s"$rel backup must be reclaimed")
  }
}

/** A local filesystem under the `lossy` scheme whose rename of a
  * `*_compacting` directory (a replacement swapping in) loses its
  * largest parquet file on the way, so the live store reads back fewer
  * rows than were verified at the side path. */
class LossyRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.Path

  override def getUri: java.net.URI = java.net.URI.create("lossy:///")

  override def rename(src: Path, dst: Path): Boolean = {
    val renamed = super.rename(src, dst)
    if (renamed && src.getName.endsWith("_compacting"))
      // the largest part file: empty partitions write row-less files
      listStatus(dst).filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(-_.getLen).headOption.foreach(f => delete(f.getPath, false))
    renamed
  }
}
