package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe maintenance of parquet-persisted stores (the signature
  * index, the event log): rewrite a filtered/compacted replacement beside
  * the live store, then swap it in with verified renames.
  *
  * Swap discipline (reference DISTRIBUTED.md's durable-log contract —
  * maintenance must never lose the store):
  *   1. the replacement is fully written AND verified readable at the
  *      side path before the live store is touched;
  *   2. a pre-existing backup from an earlier crash is never deleted up
  *      front — this swap's backup gets a fresh name instead, so the only
  *      copy of a store that a half-finished previous swap left behind
  *      survives until an operator reclaims it;
  *   3. the live store moves aside, the replacement renames in, and the
  *      backup is deleted only after the swapped-in store is verified
  *      at the live path: readable, with the row count verified at the
  *      side path. Every rename result is checked; a failed swap-in or
  *      a count mismatch restores the original.
  *
  * A crash between the two renames (the unavoidable non-atomic window of
  * directory renames on HDFS-style filesystems) leaves the store intact
  * at the backup path — recovery is one rename, and nothing was deleted.
  * Readers racing the swap can observe a missing dir for that window;
  * run maintenance from the writer that owns the store, as with any
  * non-transactional table format.
  */
object StoreMaint {

  /** Replace the store at `path` with `replacement`, written with
    * `targetFiles` output files (0 = keep the frame's partitioning).
    * Returns the replacement's row count, read back from the written
    * files before the swap. The same read-back runs on the live path
    * after the swap; if it finds a different count, the original store
    * is renamed back in, the swapped-in files are parked at the
    * `_compacting` side path, and the swap fails. Its jobs are labelled:
    * the write (`store:write`, one job for a replacement with no
    * exchange in its plan) and the two one-job read-backs
    * (`store:verify`). */
  def replaceStore(
      spark: SparkSession, path: String, replacement: DataFrame,
      targetFiles: Int = 0): Long = {
    import org.apache.hadoop.fs.Path
    val tmp = path + "_compacting"
    val out = if (targetFiles > 0) replacement.coalesce(targetFiles)
              else replacement
    JobLabel(spark, "store:write")(out.write.mode("overwrite").parquet(tmp))
    // verify the replacement reads back BEFORE touching the live store —
    // a corrupt write must fail here, while the original is still live
    val kept = readBack(spark, tmp, out.schema)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(tmp), conf)
    val dst = new Path(path)
    // never pre-delete an existing backup: it may be the only copy left
    // by a crashed previous swap — park this swap's backup under a fresh
    // name and leave the old one for operator reclaim. The fresh name
    // embeds a wall-clock epoch so recover() can order parks WITHOUT
    // trusting directory mtimes (object stores report 0/fake dir mtimes
    // and rename can reset them); bump on collision so two swaps in the
    // same millisecond stay distinct and ordered
    val oldBase = new Path(path + "_old")
    val old = if (fs.exists(oldBase)) {
      var epoch = System.currentTimeMillis()
      while (fs.exists(new Path(path + "_old_" + epoch))) epoch += 1
      new Path(path + "_old_" + epoch)
    } else oldBase
    if (!fs.rename(dst, old))
      throw new java.io.IOException(s"cannot move $dst aside to $old")
    if (!fs.rename(new Path(tmp), dst)) {
      fs.rename(old, dst) // restore the original store
      throw new java.io.IOException(s"cannot swap $tmp into $dst")
    }
    // keep the backup until the live path is verified: it must read the
    // rows just verified at the side path, or the original goes back in
    val live = readBack(spark, path, out.schema)
    if (live != kept) {
      if (!fs.rename(dst, new Path(tmp)) || !fs.rename(old, dst))
        throw new java.io.IOException(
          s"swapped-in store at $dst read $live rows, expected $kept, " +
            s"and the original could not be restored from $old")
      throw new java.io.IOException(
        s"swapped-in store at $dst read $live rows, expected $kept; " +
          s"original restored, replacement parked at $tmp")
    }
    // reclaim via rename-then-delete so a crash mid-delete can never
    // leave a half-deleted directory under a *_old* name that recover()
    // would consider (the _reclaim name is invisible to recovery)
    val reclaim = new Path(path + "_reclaim")
    if (fs.rename(old, reclaim)) fs.delete(reclaim, true)
    else fs.delete(old, true)
    kept
  }

  /** Rows of the parquet store at `path`, read with the schema it was
    * written with (no inference job): the count is a `Dataset.observe`
    * metric of a scan feeding the noop sink, one job instead of an
    * aggregate's two. Projecting no column keeps it a row-count read,
    * as `count()` is. */
  private def readBack(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): Long =
    JobLabel(spark, "store:verify") {
      import org.apache.spark.sql.functions.{count, lit}
      val rows = org.apache.spark.sql.Observation()
      spark.read.schema(schema).parquet(path).select()
        .observe(rows, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      rows.get("n").asInstanceOf[Long]
    }

  /** The one-rename recovery the swap discipline promises: if a crash in
    * [[replaceStore]]'s non-atomic window left no live store, rename the
    * backup back in and verify it reads. Returns true iff a recovery
    * happened; a healthy live store is left untouched (false).
    *
    * Among multiple surviving backups (`_old` plus fresh-named
    * `_old_<epochMillis>` parks), the newest wins, ordered by the epoch
    * PARSED FROM THE NAME first — the name travels with the directory
    * through renames, unlike modification time, which object stores
    * (S3A) report as 0/fake for directories and rename can reset. The
    * canonical `_old` orders as epoch 0: a fresh-named park is created
    * precisely because `_old` already existed FIRST, so any parsed
    * epoch beats it. Only suffixes inside a plausible epochMillis
    * window (2001..2286) count as epochs: pre-epoch-naming parks used
    * `System.nanoTime()` suffixes, which are numeric but measure
    * arbitrary-origin uptime — taking them at face value would let a
    * day-old legacy park (8.6e13 "epoch") outrank every real wall
    * clock and roll live data back to it. Out-of-window numerics parse
    * as 0 and get exactly the pre-change ordering: modification time,
    * then name-length, then name break the ties. (Residual ambiguity:
    * a nanoTime from a JVM up between ~17 minutes and ~2.8 hours lands
    * inside the window; mtime still breaks those ties on filesystems
    * that report it.) Deletes nothing (leftover `_compacting` / stale
    * backups stay for operator reclaim, matching rule 2). */
  def recover(spark: SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), conf)
    val dst = new Path(path)
    if (fs.exists(dst)) return false
    val backups =
      if (fs.exists(dst.getParent))
        fs.listStatus(dst.getParent)
          .filter { st =>
            val n = st.getPath.getName
            n == dst.getName + "_old" || n.startsWith(dst.getName + "_old_")
          }.toSeq
      else Seq.empty
    if (backups.isEmpty) throw new java.io.IOException(
      s"no live store at $path and no backup to recover from")
    val oldPrefix = dst.getName + "_old_"
    // plausible wall-clock millis: 2001-09-09 .. 2286-11-20
    def parkEpoch(n: String): Long =
      if (n.startsWith(oldPrefix))
        n.substring(oldPrefix.length).toLongOption
          .filter(e => e >= 1000000000000L && e < 10000000000000L)
          .getOrElse(0L)
      else 0L
    val newest = backups.maxBy(st => (parkEpoch(st.getPath.getName),
      st.getModificationTime, st.getPath.getName.length,
      st.getPath.getName))(Ordering.Tuple4(
      Ordering.Long, Ordering.Long, Ordering.Int, Ordering.String)).getPath
    if (!fs.rename(newest, dst))
      throw new java.io.IOException(s"cannot recover $newest to $dst")
    spark.read.parquet(path).count() // verify before declaring success
    true
  }
}
