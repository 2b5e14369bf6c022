package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}

import graft.dml.events.Event
import graft.llm.Dedup
import graft.scale.JobLabel

/** Streaming forms of the pipeline operators whose batch versions live in
  * the catalog (exact dedup, sessionization): `readStream → transform →
  * writeStream` with watermarks bounding all state — the only shape that
  * survives an unbounded 100 TB/day ingest.
  */
object StreamingPipeline {

  /** Ingestion dedup on the event id. `dropDuplicatesWithinWatermark`
    * keeps an id in state only until the watermark passes it, so state is
    * bounded by (ingest rate × watermark), not by history — the unbounded
    * `dropDuplicates` would OOM a long-running stream. */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes")
      : DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Replay-idempotence shared by the three accumulating indexes
    * (round-15 fix): foreachBatch is AT-LEAST-ONCE — a sink failure
    * AFTER probeAndAppend returns replays the SAME batchId on recovery,
    * and a second append would leave the batch's rows twice in the
    * index, corrupting every later intersection/candidate count. Each
    * index therefore remembers the last appended batchId and its
    * PRE-append snapshot (checkpoint-backed, so it stays valid): a
    * replay of that id re-probes against the snapshot — emitting
    * exactly the original attempt's pairs for the sink to retry — and
    * appends NOTHING. Structured Streaming replays only the latest
    * uncommitted batch, so one snapshot suffices. Ad-hoc callers that
    * pass no batchId (< 0) keep the append-always behavior. */
  private final class ReplayGuard[S] {
    private var lastBatchId: Long = Long.MinValue
    private var preAppend: Option[S] = None

    /** The pre-append snapshot to re-probe when `batchId` is a replay
      * of the last appended batch; None for a fresh batch (probe the
      * live index, then [[committed]]). Tracked batchIds must arrive
      * MONOTONICALLY increasing (Structured Streaming's contract, and
      * the reason one snapshot suffices); an OLDER id means the index
      * object is being shared across two queries/checkpoints — a
      * replay the single snapshot cannot serve — and the fresh path
      * would silently double-append that batch, corrupting every later
      * intersection count. Fail loudly instead (round-15 advice). */
    def replayView(batchId: Long): Option[Option[S]] =
      if (batchId >= 0 && batchId == lastBatchId) Some(preAppend)
      else {
        if (batchId >= 0 && lastBatchId != Long.MinValue &&
            batchId < lastBatchId)
          throw new IllegalStateException(
            s"non-monotonic batchId $batchId after $lastBatchId: this " +
              "index instance is already bound to another query/" +
              "checkpoint (only the LATEST batch can replay); use a " +
              "separate index per streaming query")
        None
      }

    def committed(batchId: Long, pre: Option[S]): Unit = {
      lastBatchId = if (batchId >= 0) batchId else Long.MinValue
      preAppend = pre
    }
  }

  /** Accumulating MinHash signature index for continuous near-dup
    * detection: each arriving batch is hashed ONCE, probed against
    * everything seen so far ([[Dedup.candidatesFromBuckets]] — the
    * index pruned by the batch's band keys, the batch's band rows
    * broadcast when they fit), then appended. State is the
    * signature table (bytes per doc-band, never the text); lineage is
    * truncated by eager localCheckpoint on every batch and the union chain
    * is re-checkpointed every `compactEvery` batches so the plan stays
    * constant-size over an unbounded stream. On a real cluster the index
    * would live in a storage table (append + bucketed by band_hash); this
    * in-memory form is the same algorithm with executor-resident blocks.
    *
    * Scale shape per batch, four Spark jobs when the batch broadcasts
    * (three for the first): the signature pass, checkpointed with its
    * row count observed on the same job; then the consumer's action
    * runs the probe as one query — the batch's band keys broadcast to
    * prune the index scan, the batch's band rows broadcast once for both
    * band-key joins (index×batch, in-batch), and each candidate pair
    * emitted at the lowest band it shares, so there is no distinct and
    * no shuffle. The index side is scanned once and never exchanged. */
  final class NearDupIndex(
      k: Int = 3, numHashes: Int = 8, bands: Int = 4,
      minEstJaccard: Double = 0.5, compactEvery: Int = 16) {
    private var index: Option[DataFrame] = None
    private var batches = 0
    private val guard = new ReplayGuard[DataFrame]

    /** Number of (doc, band) rows currently indexed. */
    def size: Long = synchronized { index.map(_.count()).getOrElse(0L) }

    /** Seed the accumulating state with a persisted
      * [[graft.llm.Dedup.signatureIndex]] store — crash recovery /
      * planned restart WITHOUT replaying the stream ([[snapshot]] is
      * the write side; [[ParagraphDedupIndex.seed]]'s contract for the
      * band rows). Only valid before any batch. The store rows must
      * have been built with THIS index's (k, numHashes, bands): k is
      * not inferable from hashes (documented, the batch
      * `incrementalCandidates` contract), but the two
      * row-visible shape params are CHECKED with one bounded seed-time
      * aggregation over the store — a mismatched band count would
      * silently never collide with new batches' buckets and every
      * historical twin would go unflagged, the exact failure seed()
      * exists to prevent. */
    def seed(indexDf: DataFrame): Unit = synchronized {
      require(index.isEmpty && batches == 0,
        "seed() must run before any batch is appended")
      import org.apache.spark.sql.functions.{col, max, size => asize}
      val expect = Seq("doc_id", "sig", "band_idx", "band_hash")
      require(indexDf.columns.toSeq == expect,
        s"seed frame columns ${indexDf.columns.toSeq} must be $expect " +
          "(a persisted Dedup.signatureIndex)")
      val shape = indexDf
        .select(max(asize(col("sig"))).as("nh"),
          max(col("band_idx")).as("maxb"))
        .head()
      if (!shape.isNullAt(0))
        require(shape.getInt(0) == numHashes &&
          shape.getInt(1) == bands - 1,
          s"seed store shape (numHashes=${shape.getInt(0)}, bands=" +
            s"${shape.getInt(1) + 1}) must equal this index's " +
            s"($numHashes, $bands)")
      index = Some(indexDf.localCheckpoint(true))
    }

    /** The current state for persistence — write it as the
      * [[graft.llm.Dedup.signatureIndex]] store (parquet; sh-bucketed
      * via graft.scale.Bucketing at corpus scale) and [[seed]] a fresh
      * index from the load to resume after a restart. Loud on empty
      * state: snapshotting nothing is a lost-state bug, not a
      * checkpoint. */
    def snapshot: DataFrame = synchronized {
      require(index.isDefined,
        "snapshot needs state: seed() or append a batch first")
      index.get
    }

    /** Retire documents from the LIVE state — a takedown arriving
      * mid-stream ([[graft.llm.Dedup.retireFromIndex]] pointed at the
      * executor-resident band rows; per-doc rows, so a plain id filter
      * with no re-election). No Spark job: the filter joins the state's
      * plan, so every later probe and snapshot skips the retired rows
      * as it scans, and the next compaction (every `compactEvery`
      * batches) drops them from the checkpointed blocks. An eager
      * checkpoint here would copy the whole index per takedown and
      * leave the old copy cached until garbage collection. Fails loudly
      * on an empty index (the ids are not remembered — a silent drop
      * would let later-seen twins of retired docs go unflagged
      * forever). */
    def retire(retiredIds: Seq[Long]): Unit = synchronized {
      require(index.isDefined,
        "retire() needs state: append a batch first — retiring before " +
          "any state exists would silently drop the takedown")
      index = index.map(Dedup.retireFromIndex(_, retiredIds))
    }

    /** Hash the batch once, return candidate pairs vs (index ∪ batch),
      * append the batch to the index. Thread-safe; the returned (lazy)
      * frame reads only checkpoint-backed inputs, so it remains valid
      * after the index advances past this batch. A REPLAYED batchId
      * (at-least-once recovery) re-emits the original pairs without
      * appending twice — see [[ReplayGuard]]. */
    def probeAndAppend(batchDocs: DataFrame, batchId: Long = -1L)
        : DataFrame = synchronized {
      val nb = JobLabel(batchDocs.sparkSession, "near:signatures")(
        Dedup.probeBatch(
          Dedup.signatureIndex(batchDocs, k, numHashes, bands)))
      def probe(idx: Option[DataFrame]) = Dedup.candidatesFromBuckets(
        idx.getOrElse(nb.rows.limit(0)), nb, numHashes, bands,
        minEstJaccard)
      guard.replayView(batchId) match {
        case Some(pre) => probe(pre)
        case None =>
          val cands = probe(index)
          guard.committed(batchId, index)
          index = Some(index.map(_.unionAll(nb.rows)).getOrElse(nb.rows))
          batches += 1
          if (batches % compactEvery == 0)
            index = index.map(_.localCheckpoint(true))
          cands
      }
    }
  }

  /** Accumulating spherical-cell index for continuous SEMANTIC dedup —
    * the embedding twin of [[NearDupIndex]], streaming
    * [[graft.llm.Similarity.semanticDedup]]'s shape: each arriving batch
    * is cell-assigned once (max-cosine against the fixed seed centroids,
    * exactly scale-invariant), probed by exact within-cell cosine
    * against everything seen so far, then appended. The cell key bounds
    * probe work exactly like the batch operator (never all-pairs); the
    * threshold semantics are identical to the batch path because the
    * rescore is exact cosine, not an ADC estimate (PQ reconstruction
    * bias would make a fixed threshold miss true duplicates — store
    * [[graft.llm.Pq]] codes alongside when the STATE must shrink, and
    * rescore survivors exactly). Lineage is truncated per batch and the
    * union chain re-checkpointed every `compactEvery` batches, the
    * [[NearDupIndex]] discipline. */
  final class SemanticDupIndex(
      centers: Array[Array[Double]], threshold: Double = 0.95,
      compactEvery: Int = 16) {
    import org.apache.spark.sql.functions._
    import graft.llm.Similarity
    private var index: Option[DataFrame] = None
    private var batches = 0
    private val guard = new ReplayGuard[DataFrame]

    /** Number of vectors currently indexed. */
    def size: Long = synchronized { index.map(_.count()).getOrElse(0L) }

    /** Seed the accumulating state from persisted embeddings
      * (vec_id, embedding) — crash recovery without stream replay
      * ([[NearDupIndex.seed]]'s contract). Cells are RE-ASSIGNED here
      * with THIS index's centers, never trusted from the store: a
      * snapshot written under different seed centroids would
      * mis-bucket every probe silently, and recomputing is one
      * deterministic map over rows the seed scan reads anyway. Only
      * valid before any batch. */
    def seed(embs: DataFrame): Unit = synchronized {
      require(index.isEmpty && batches == 0,
        "seed() must run before any batch is appended")
      require(embs.columns.contains("vec_id") &&
        embs.columns.contains("embedding"),
        s"seed frame needs (vec_id, embedding), got " +
          s"${embs.columns.toSeq}")
      index = Some(embs
        .select(col("vec_id"), col("embedding"),
          Similarity.cosCellCol(col("embedding"), centers).as("cell"))
        .localCheckpoint(true))
    }

    /** The current state for persistence — (vec_id, embedding, cell)
      * rows; [[seed]] a fresh index from the reloaded (vec_id,
      * embedding) columns to resume. Loud on empty state
      * ([[NearDupIndex.snapshot]]'s contract). */
    def snapshot: DataFrame = synchronized {
      require(index.isDefined,
        "snapshot needs state: seed() or append a batch first")
      index.get
    }

    /** Retire vectors from the LIVE state — a takedown keyed by vec_id
      * ([[graft.llm.Similarity.retireFromRpIndex]]'s anti-join shape):
      * eager checkpoint, loud on empty state. */
    def retire(retiredIds: Seq[Long]): Unit = synchronized {
      require(index.isDefined,
        "retire() needs state: append a batch first — retiring before " +
          "any state exists would silently drop the takedown")
      index = index.map(
        _.filter(!col("vec_id").isInCollection(retiredIds))
          .localCheckpoint(true))
    }

    /** Cell-assign the batch once, return cosine pairs ≥ threshold vs
      * (index ∪ batch) — (vec_a, vec_b, cos_sim) with vec_b always in
      * the batch and in-batch pairs ordered a < b — then append the
      * batch. Thread-safe; the returned lazy frame reads only
      * checkpoint-backed inputs. A replayed batchId re-emits the
      * original pairs without appending twice ([[ReplayGuard]]). */
    def probeAndAppend(batchEmbs: DataFrame, batchId: Long = -1L)
        : DataFrame = synchronized {
      val nb = batchEmbs
        .select(col("vec_id"), col("embedding"),
          Similarity.cosCellCol(col("embedding"), centers).as("cell"))
        .localCheckpoint(true)
      val q = nb.select(col("cell"), col("vec_id").as("q_id"),
        col("embedding").as("q_emb"))
      def pairs(side: DataFrame) = side.join(q, Seq("cell"))
        .withColumn("cos_sim",
          round(Similarity.cosine(col("embedding"), col("q_emb")), 6))
        .filter(col("cos_sim") >= threshold &&
          col("vec_id") =!= col("q_id"))
        .select(col("vec_id").as("vec_a"), col("q_id").as("vec_b"),
          col("cos_sim"))
      val inBatch = pairs(nb).filter(col("vec_a") < col("vec_b"))
      guard.replayView(batchId) match {
        case Some(pre) =>
          pairs(pre.getOrElse(nb.limit(0))).unionAll(inBatch)
        case None =>
          val vsIndex = pairs(index.getOrElse(nb.limit(0)))
          guard.committed(batchId, index)
          index = Some(index.map(_.unionAll(nb)).getOrElse(nb))
          batches += 1
          if (batches % compactEvery == 0)
            index = index.map(_.localCheckpoint(true))
          vsIndex.unionAll(inBatch)
      }
    }
  }

  /** Accumulating SHINGLE index for continuous excerpt/containment
    * dedup — the streaming twin of
    * [[graft.llm.Dedup.containmentJoinExact]] (r14 verdict task 4) and
    * the case where streaming matters most: a news wire or crawl
    * refresh re-quotes OLD documents, so every arriving doc must be
    * probed both as EXCERPT (contained in something already seen) and
    * as HOST (containing something already seen). State is the distinct
    * md5-shingle table (doc_id, sh, n_sh) — constant-width keys, prose
    * never retained or shuffled; [[NearDupIndex]]'s lineage-compaction
    * discipline (per-batch localCheckpoint, union chain re-checkpointed
    * every `compactEvery` batches).
    *
    * EXACT, not banded: a containment-≥t pair shares at least one
    * shingle, and one side of every probe join is the (small) batch,
    * so one shingle-keyed join against the index computes every
    * batch-touching intersection COMPLETELY — the drained stream over
    * a fully-replayed corpus therefore equals the batch
    * [[graft.llm.Dedup.containmentJoinExact]] recompute, which is what
    * the oracle entry hashes. (The batch join's one-sided prefix
    * filter is a candidate-pruning strategy for the self-join; here the
    * probe join IS the intersection counter, so both sides need their
    * full shingle sets and the pruning lever is the batch's keys
    * instead — the [[NearDupIndex]] shape, zero index exchange with a
    * sh-bucketed store.)
    *
    * Scale shape per batch, six Spark jobs when the batch broadcasts
    * (four for the first, with no index to guard or prune): the
    * shingle pass, checkpointed with its row count and doc ids
    * observed on the same job; the disjointness guard, one id-filtered
    * index scan; then the consumer's action runs the probe as one
    * query — the index pruned by a broadcast semi-join on the batch's
    * keys, the batch side broadcast once (past the broadcast threshold,
    * sort-merge joined instead), the index×batch and in-batch shingle
    * joins feeding ONE pair-bounded aggregate (one shuffle), and both
    * orientations read from each scored row. Skew guard: a shingle
    * shared by every template page makes the probe join hot exactly
    * like a hot band bucket — cap it upstream with the exact-dedup
    * tier, as [[graft.llm.Dedup.minhashCandidates]] documents. */
  final class ContainmentIndex(
      k: Int = 3, threshold: Double = 0.8, compactEvery: Int = 16) {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    private var index: Option[DataFrame] = None
    private var batches = 0
    private val guard = new ReplayGuard[DataFrame]

    /** Number of (doc, shingle) rows currently indexed. */
    def size: Long = synchronized { index.map(_.count()).getOrElse(0L) }

    /** End-of-stream release, a no-op here: a probe holds no caches
      * (its output reads only the checkpointed state and batch). Kept
      * so a stream's owner releases every index the same way
      * ([[ParagraphDedupIndex.close]] does reclaim). Idempotent. */
    def close(): Unit = ()

    /** Seed the accumulating state with a persisted
      * [[graft.llm.Dedup.shingleIndex]] store (doc_id, sh, n_sh) —
      * crash recovery without stream replay ([[NearDupIndex.seed]]'s
      * contract). The store must have been shingled with THIS index's
      * k — not inferable from md5 keys (documented, the same contract
      * as the batch `incrementalContainmentPairs`). Only valid before
      * any batch. */
    def seed(indexDf: DataFrame): Unit = synchronized {
      require(index.isEmpty && batches == 0,
        "seed() must run before any batch is appended")
      val expect = Seq("doc_id", "sh", "n_sh")
      require(indexDf.columns.toSeq == expect,
        s"seed frame columns ${indexDf.columns.toSeq} must be $expect " +
          "(a persisted Dedup.shingleIndex)")
      index = Some(indexDf.localCheckpoint(true))
    }

    /** The current state for persistence — the
      * [[graft.llm.Dedup.shingleIndex]] rows (sh-bucketed store at
      * corpus scale); [[seed]] a fresh index from the load to resume.
      * Loud on empty state ([[NearDupIndex.snapshot]]'s contract). */
    def snapshot: DataFrame = synchronized {
      require(index.isDefined,
        "snapshot needs state: seed() or append a batch first")
      index.get
    }

    /** Retire documents from the LIVE state ([[NearDupIndex.retire]]'s
      * contract over the shingle rows): an id filter on the state with
      * no job of its own, loud on empty state. */
    def retire(retiredIds: Seq[Long]): Unit = synchronized {
      require(index.isDefined,
        "retire() needs state: append a batch first — retiring before " +
          "any state exists would silently drop the takedown")
      index = index.map(Dedup.retireFromIndex(_, retiredIds))
    }

    /** Shingle the batch once ([[Dedup.shingleIndex]] — the shared
      * batch/streaming state table), return every ORDERED containment
      * pair (doc_a, doc_b, containment_a ≥ threshold) touching the
      * batch via the shared probe primitive
      * ([[Dedup.containmentPairsFromShingles]] — the streaming path IS
      * the batch incremental path pointed at executor-resident state),
      * then append the batch. Thread-safe. The disjointness guard runs
      * EAGERLY inside this call, before the append; the returned frame
      * is lazy and reads only checkpoint-backed inputs (the index state
      * and the batch checkpoint), so its consumer's action runs the
      * probe, and it stays valid after the index advances past this
      * batch. A replayed batchId re-emits the original pairs without
      * appending twice ([[ReplayGuard]] — a double-append would double
      * every later intersection count against this batch's docs). */
    def probeAndAppend(batchDocs: DataFrame, batchId: Long = -1L)
        : DataFrame = synchronized {
      val nb = JobLabel(batchDocs.sparkSession, "contain:shingles")(
        Dedup.probeBatch(
          Dedup.shingleIndex(batchDocs.select("doc_id", "text"), k)))
      def probe(idx: Option[DataFrame]) = Dedup.containmentPairsFromShingles(
        idx.getOrElse(nb.rows.limit(0)), nb, threshold)
      guard.replayView(batchId) match {
        case Some(pre) => probe(pre)
        case None =>
          val out = probe(index)
          guard.committed(batchId, index)
          index = Some(index.map(_.unionAll(nb.rows)).getOrElse(nb.rows))
          batches += 1
          if (batches % compactEvery == 0)
            index = index.map(_.localCheckpoint(true))
          out
      }
    }
  }

  /** Continuous containment dedup over a document stream (doc_id,
    * text): foreachBatch probes-and-appends the [[ContainmentIndex]]
    * and hands each batch's ordered ≥-threshold pairs to `onPairs` —
    * the streaming twin of `q_containment_join_exact`, same contract
    * as [[nearDupStream]]. Job labels: `contain:shingles`,
    * `contain:guard` and `contain:probe` (the sink's). */
  def containmentStream(
      docs: DataFrame, index: ContainmentIndex,
      onPairs: (Long, DataFrame) => Unit,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      checkpointDir: Option[String] = None): StreamingQuery = {
    val w = docs.writeStream
      .outputMode("append")
      .queryName("containment_stream")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val pairs =
          index.probeAndAppend(batch.select("doc_id", "text"), batchId)
        // the sink's action is what runs the lazy probe
        JobLabel(batch.sparkSession, "contain:probe")(onPairs(batchId, pairs))
        ()
      }
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** Accumulating PARAGRAPH-dedup index — the streaming twin of
    * [[graft.llm.Curation.paragraphDedup]] over the SAME shared probe
    * primitive as the batch incremental path
    * ([[graft.llm.Curation.paragraphProbeCore]] — one primitive, so
    * batch and streaming cannot drift): each arriving batch of
    * documents is chunked once, its paragraphs probed EXACT-FIRST
    * against everything seen so far (exact cliques via the _h table;
    * banded near-dup + exact rescore over the batch's NEW distinct-text
    * representatives only), each batch doc's cleaned text emitted, and
    * the new representatives appended. Batches must carry increasing
    * doc ids (the crawl-refresh contract the core enforces loudly),
    * which makes the drained union over ANY monotone slicing equal the
    * batch [[graft.llm.Curation.paragraphDedup]] restricted to those
    * docs — the oracle entry re-proves it every round and the spec pins
    * three slicings. State = three bounded-width PROBE relations
    * (hash/band/shingle keys + one representative text per distinct
    * paragraph) plus the narrow per-chunk membership relation (keys +
    * md5, no text) that only [[graft.llm.Curation.retireFromParagraphIndex]]
    * reads, and the maxRepKey watermark (adopted from each delta, so
    * the per-batch ordering check is a metadata compare, never an
    * index scan); per-batch intermediates live in a cache scope
    * reclaimed before the probe returns, lineage truncated per batch
    * and re-checkpointed every `compactEvery` batches — the
    * [[NearDupIndex]] discipline. */
  final class ParagraphDedupIndex(
      chunkSize: Int = 8, threshold: Double = 0.8, k: Int = 3,
      numHashes: Int = 8, bands: Int = 4, minEstJaccard: Double = 0.5,
      oracleHashes: Boolean = false, maxChunksPerDoc: Long = 100000L,
      compactEvery: Int = 16) {
    import graft.llm.Curation
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // minEstJaccard above the exact threshold silently pre-filters
    // qualifying pairs before the rescore — the same loud contract as
    // paragraphDedup/paragraphDedupIncremental
    require(minEstJaccard <= threshold,
      s"minEstJaccard ($minEstJaccard) must be <= threshold " +
        s"($threshold) or qualifying pairs are pre-filtered away")
    private var model: Option[Curation.ParagraphIndexModel] = None
    private var batches = 0
    private val guard = new ReplayGuard[Curation.ParagraphIndexModel]
    private var prevScope: Option[graft.llm.PipelineCaches.Scope] = None

    /** Number of distinct paragraph texts currently indexed. */
    def size: Long =
      synchronized { model.map(_.exact.count()).getOrElse(0L) }

    /** Reclaim the LAST batch's probe caches — call when the stream
      * terminates (each batch's caches are otherwise reclaimed by the
      * NEXT probe, the deferred-scope discipline the
      * [[graft.llm.PipelineCaches.scoped]] doc describes). Idempotent. */
    def close(): Unit = synchronized {
      prevScope.foreach(_.clear()); prevScope = None
    }

    /** Seed the accumulating index with a PRE-BUILT historical model
      * ([[graft.llm.Curation.paragraphIndex]] over the corpus, or a
      * loaded store) — the crawl-refresh production shape: index the
      * corpus once, stream only the refreshes against it. Eagerly
      * materialized so later probes read checkpoint-backed state. Only
      * valid before the first batch. */
    def seed(m: Curation.ParagraphIndexModel): Unit = synchronized {
      require(model.isEmpty && batches == 0,
        "seed() must run before any batch is appended")
      // the probe chunks batches with the CLASS params but compares
      // against the MODEL's state — a silent mismatch (8-word history
      // hashes vs 12-word batch chunks) would un-dedup every twin
      // instead of failing; all six shape params must agree
      require(m.chunkSize == chunkSize && m.k == k &&
        m.numHashes == numHashes && m.nBands == bands &&
        m.oracleHashes == oracleHashes &&
        m.maxChunksPerDoc == maxChunksPerDoc,
        s"seed model params (chunkSize=${m.chunkSize}, k=${m.k}, " +
          s"numHashes=${m.numHashes}, nBands=${m.nBands}, " +
          s"oracleHashes=${m.oracleHashes}, " +
          s"maxChunksPerDoc=${m.maxChunksPerDoc}) must equal this " +
          s"index's ($chunkSize, $k, $numHashes, $bands, " +
          s"$oracleHashes, $maxChunksPerDoc)")
      model = Some(ckpt(m))
    }

    /** The current accumulated model for persistence — write it with
      * [[graft.llm.Curation.saveParagraphIndex]] and [[seed]] a fresh
      * index from the load to resume after a restart WITHOUT replaying
      * the stream (the snapshot/seed leg [[NearDupIndex.snapshot]]
      * documents; here the model carries its shape params, so the
      * reseed's mismatch guard is exact, not best-effort). Loud on
      * empty state. */
    def snapshot: Curation.ParagraphIndexModel = synchronized {
      require(model.isDefined,
        "snapshot needs state: seed() or append a batch first")
      model.get
    }

    /** Retire documents from the LIVE accumulating state — a takedown
      * arriving mid-stream ([[graft.llm.Curation.retireFromParagraphIndex]]
      * pointed at the in-memory model): representative re-election and
      * group drops run once, eagerly checkpointed, so later probes read
      * materialized state rather than re-running the retire joins per
      * consumer (the compact-before-serve discipline). Call between
      * micro-batches from the owning writer; a replayed micro-batch
      * (the guard keeps the LATEST pre-batch snapshot) still re-emits
      * its original rows unchanged, and the retirement survives the
      * replay. The watermark
      * goes unknown (re-election can raise it) — the next probe's
      * fallback agg re-resolves it against the checkpointed exact. */
    def retire(retiredIds: Seq[Long]): Unit = synchronized {
      // a takedown against an EMPTY index would be silently lost (the
      // ids are not remembered — docs seeded later would survive);
      // every other entry point here fails loudly on misuse, so does
      // this one
      require(model.isDefined,
        "retire() needs state: seed() or append a batch first — " +
          "retiring before any state exists would silently drop the " +
          "takedown")
      model = model.map { m =>
        ckpt(Curation.retireFromParagraphIndex(m, retiredIds))
      }
    }

    private def emptyIndex(like: DataFrame): Curation.ParagraphIndexModel =
      Curation.paragraphIndex(like.limit(0), chunkSize, k, numHashes,
        bands, oracleHashes, maxChunksPerDoc)

    private def ckpt(m: Curation.ParagraphIndexModel)
        : Curation.ParagraphIndexModel = {
      // the four relations are independent — overlap their
      // materializing jobs (guide §2.6) instead of serializing four
      // job tails per seed/retire/compact
      val cs = graft.scale.Par.checkpointAll(
        m.exact, m.bands, m.shingles, m.members)
      m.copy(exact = cs(0), bands = cs(1), shingles = cs(2),
        members = cs(3))
    }

    /** Chunk the batch once, return one row per batch doc (doc_id,
      * n_chunks, n_dropped, clean_text), append the batch's new
      * distinct-paragraph representatives. Thread-safe; the returned
      * frame reads this batch's probe caches until the NEXT probe
      * reclaims them — consume each batch's rows before the next batch
      * (foreachBatch does by construction; a later consumer still gets
      * CORRECT rows, recomputed from the checkpointed chunk/state
      * inputs instead of the reclaimed caches). A replayed batchId
      * re-emits the original rows without appending twice
      * ([[ReplayGuard]]). */
    def probeAndAppend(batchDocs: DataFrame, batchId: Long = -1L)
        : DataFrame = synchronized {
      val docs = batchDocs.select("doc_id", "text")
      guard.replayView(batchId) match {
        case Some(pre) =>
          probeOnce(pre.getOrElse(emptyIndex(docs)), docs)._1
        case None =>
          val idx = model.getOrElse(emptyIndex(docs))
          val (out, delta) = probeOnce(idx, docs)
          guard.committed(batchId, model)
          model = Some(idx.copy(
            exact = idx.exact.unionAll(delta.exact),
            bands = idx.bands.unionAll(delta.bands),
            shingles = idx.shingles.unionAll(delta.shingles),
            members = idx.members.unionAll(delta.members),
            // the delta's maxRepKey is the POST-APPEND watermark
            // (probeCore contract); adopting it keeps every later
            // probe's ordering check a metadata compare
            maxRepKey = delta.maxRepKey.orElse(idx.maxRepKey)))
          batches += 1
          if (batches % compactEvery == 0) model = model.map(ckpt)
          out
      }
    }

    /** One probe through the shared core inside a cache scope. The
      * DELTA is eagerly checkpointed (it joins the long-lived state);
      * the per-doc OUTPUT stays a lazy read over the scope's caches,
      * and the scope is held until the NEXT probe (or [[close]])
      * instead of checkpoint-then-clear — the output was already
      * materialized in the scope's caches, and re-copying it into a
      * per-batch localCheckpoint was a whole extra job per micro-batch
      * (r18 optimization round, guide §1.2). Deferred reclaim is the
      * [[graft.llm.PipelineCaches.scoped]] doc's own tick-scheduler
      * discipline; a stream holds at most one batch's caches. */
    private def probeOnce(idx: Curation.ParagraphIndexModel,
        docs: DataFrame)
        : (DataFrame, Curation.ParagraphIndexModel) = {
      // the previous batch's output has been consumed (foreachBatch
      // contract) — its caches are dead weight now
      prevScope.foreach(_.clear()); prevScope = None
      val (res, scope) = graft.llm.PipelineCaches.scoped {
        val chunks = Curation
          .chunkRelation(docs, chunkSize, maxChunksPerDoc)
          .localCheckpoint(true)
        Curation.chunkKeyGuards(chunks, maxChunksPerDoc,
          "paragraphDedupStream")
        val (out, delta) = Curation.paragraphProbeCore(idx, chunks,
          threshold, minEstJaccard)
        (out, ckpt(delta))
      }
      prevScope = Some(scope)
      res
    }
  }

  /** Continuous paragraph-granularity dedup over a document stream
    * (doc_id, text): foreachBatch probes-and-appends the
    * [[ParagraphDedupIndex]] and hands each batch's per-doc cleaned
    * rows to `onBatch` — the streaming twin of `q_paragraph_dedup`,
    * same contract as [[containmentStream]]. */
  def paragraphDedupStream(
      docs: DataFrame, index: ParagraphDedupIndex,
      onBatch: (Long, DataFrame) => Unit,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      checkpointDir: Option[String] = None): StreamingQuery = {
    val w = docs.writeStream
      .outputMode("append")
      .queryName("paragraph_dedup_stream")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(batchId,
          index.probeAndAppend(batch.select("doc_id", "text"), batchId))
        ()
      }
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** Continuous semantic dedup over an embedding stream
    * (vec_id, embedding): foreachBatch probes-and-appends the
    * [[SemanticDupIndex]] and hands each batch's above-threshold cosine
    * pairs to `onPairs` — the streaming twin of `q_dedup_semantic`. */
  def semanticDupStream(
      embs: DataFrame, index: SemanticDupIndex,
      onPairs: (Long, DataFrame) => Unit,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      checkpointDir: Option[String] = None): StreamingQuery = {
    val w = embs.writeStream
      .outputMode("append")
      .queryName("semantic_dup_stream")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onPairs(batchId,
          index.probeAndAppend(batch.select("vec_id", "embedding"), batchId))
        ()
      }
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** Continuous near-dup detection over a document stream (doc_id, text):
    * foreachBatch probes-and-appends the [[NearDupIndex]] and hands the
    * batch's candidate pairs (doc_a, doc_b, est_jaccard — at least one
    * side in the batch) to `onCandidates`, whose jobs run labelled
    * `near:probe` (the index's own step is `near:signatures`). The only
    * state Spark itself
    * holds is the streaming offset log (durable under `checkpointDir`);
    * the index is the operator's own bounded signature table. Pass
    * `Trigger.AvailableNow()` for drain-and-stop runs (tests, backfills);
    * the default processing-time trigger runs continuously. */
  def nearDupStream(
      docs: DataFrame, index: NearDupIndex,
      onCandidates: (Long, DataFrame) => Unit,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      checkpointDir: Option[String] = None): StreamingQuery = {
    val w = docs.writeStream
      .outputMode("append")
      .queryName("near_dup_stream")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cands =
          index.probeAndAppend(batch.select("doc_id", "text"), batchId)
        // the sink's action is what runs the lazy probe
        JobLabel(batch.sparkSession, "near:probe")(
          onCandidates(batchId, cands))
        ()
      }
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** Continuous ANN SERVING over a query-vector stream (query_id, q_emb)
    * against a STATIC persisted RP index — the online half of
    * [[graft.llm.Similarity.saveRpIndex]]: per micro-batch each arriving
    * vector is projected with the shared MD5-parity matrix, coarse-
    * matched against the sketch store, exactly rescored against the
    * full-precision store, and the batch's top-k lists go to
    * `onResults`. The index never mutates here (contrast
    * [[semanticDupStream]], which appends) — store refresh is a
    * [[graft.scale.StoreMaint.replaceStore]] swap between runs.
    *
    * Scale shape per batch: the sketch scan is the only corpus-sized
    * input and it reads outDim doubles per vector; the batch side is
    * broadcast; rescore touches `rerank` rows per arriving query. */
  def annServeStream(
      queries: DataFrame, sketches: DataFrame, store: DataFrame,
      outDim: Int, dim: Int,
      onResults: (Long, DataFrame) => Unit,
      k: Int = 10, rerank: Int = 30,
      excludeSelfId: Boolean = false,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      checkpointDir: Option[String] = None): StreamingQuery = {
    val w = queries.writeStream
      .outputMode("append")
      .queryName("ann_serve_stream")
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        onResults(batchId, graft.llm.Similarity.searchRpQueries(
          sketches, store, batch.select("query_id", "q_emb"),
          outDim, dim, k, rerank, excludeSelfId))
        ()
      }
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** Streaming quality-classifier SCORING over a document stream
    * (doc_id, text) against a stored — [[graft.llm.Curation.loadLrModel]]
    * — weight table: the model-APPLY half of the classifier tier run
    * continuously, the way a production pipeline scores shards as they
    * land instead of re-batching the corpus. Per micro-batch the
    * arriving docs score through [[graft.llm.Curation.scoreWithLr]]
    * (one token pass + the broadcast ≤ buckets+1 weight join) and the
    * scored rows append to `outPath` parquet. STATELESS by
    * construction: a doc's hashed-unigram counts are entirely its own,
    * so per-shard scoring equals whole-corpus batch scoring row for
    * row — the replay entry's oracle IS the batch classifier's oracle,
    * and a green hash re-proves the equality every round. Model
    * refresh between runs is a
    * [[graft.scale.StoreMaint.replaceStore]] swap, like the RP serve
    * index and the BPE vocabulary.
    *
    * Delivery contract: foreachBatch is AT-LEAST-ONCE — a replayed
    * batch re-appends its rows; downstream consumers dedup on doc_id
    * (or read through a replaceStore-swapped compaction), the
    * vocab-drift monitor's batch_id discipline at row granularity. */
  def qualityScoreStream(
      docs: DataFrame, weights: DataFrame, buckets: Int,
      outPath: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      checkpointDir: Option[String] = None): StreamingQuery = {
    val w = docs.writeStream
      .outputMode("append")
      .queryName("quality_score_stream")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.llm.Curation.scoreWithLr(batch, weights, buckets)
          .write.mode("append").parquet(outPath)
        ()
      }
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** Streaming tokenizer-vocabulary DRIFT monitor over a document stream
    * (doc_id, text) against a trained — typically
    * [[graft.llm.Bpe.loadBpeModel]]-persisted — BPE model: the
    * monitoring loop the reference's AGENTS.md sketches (WHEN drift >
    * threshold THEN PUBLISH), composed from three existing tiers. Per
    * micro-batch the arriving docs are re-encoded against the static
    * vocabulary ([[graft.llm.Bpe.encode]] — the bounded (word, n_tokens)
    * projection broadcasts; the corpus side aggregates straight back to
    * doc_id), the batch OOV rate (words outside the trained vocabulary ÷
    * all words) folds from ONE further 1-row aggregation, and a rate
    * above `threshold` publishes a `vocab_drift` event through the
    * [[graft.dml.events.EventBus]] — the same alert contract as
    * [[graft.dml.events.Agents.driftAgent]]. `onBatch` receives
    * (batchId, oovRate) for metrics/test pinning; empty batches report
    * rate 0 and never alert. Vocabulary refresh between runs is a
    * [[graft.scale.StoreMaint.replaceStore]] swap, like the RP serve
    * path's index.
    *
    * Delivery contract: foreachBatch is AT-LEAST-ONCE — a failure after
    * the publish but before the batch commits replays the batch on
    * recovery and re-publishes its alert. The `batch_id` in the payload
    * is the idempotency key: downstream consumers dedup on it (batch
    * ids are stable across a checkpointed replay). */
  def vocabDriftStream(
      docs: DataFrame, model: graft.llm.Bpe.BpeModel,
      bus: graft.dml.events.EventBus,
      threshold: Double = 0.2,
      onBatch: (Long, Double) => Unit = (_, _) => (),
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      checkpointDir: Option[String] = None): StreamingQuery = {
    val w = docs.writeStream
      .outputMode("append")
      .queryName("vocab_drift_stream")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val agg = graft.llm.Bpe.encode(batch.select("doc_id", "text"), model)
          .agg(org.apache.spark.sql.functions.sum("n_words"),
            org.apache.spark.sql.functions.sum("n_oov_words"))
          .collect().head // 1 row — the bounded-metadata envelope
        val nWords = if (agg.isNullAt(0)) 0L else agg.getLong(0)
        val nOov = if (agg.isNullAt(1)) 0L else agg.getLong(1)
        val rate = if (nWords == 0L) 0.0 else nOov.toDouble / nWords
        if (nWords > 0L && rate > threshold)
          bus.publish("vocab_drift", Map(
            "batch_id" -> batchId.toString,
            "oov_rate" -> f"$rate%.6f",
            "n_words" -> nWords.toString), value = rate)
        onBatch(batchId, rate)
        ()
      }
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** A closed user session (emitted once the gap passes or event-time
    * timeout fires). */
  final case class Session(
      user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, value_sum: Double)

  /** Open-session state carried between micro-batches. */
  final case class SessState(start: Long, last: Long, n: Long, sum: Double)

  /** Streaming gap sessionizer — the stateful twin of the batch
    * `q_events_sessions` plan, via `flatMapGroupsWithState`: per-user state
    * is one open session; events extend it, a gap closes and emits it, and
    * the event-time timeout flushes sessions for users who went quiet.
    * State is one small record per active user — bounded by concurrent
    * users, independent of history. */
  def sessionizeStream(
      events: Dataset[Event], gapSeconds: Long = 6 * 3600,
      watermark: String = "1 hour"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapSeconds * 1000L

    def close(uid: Long, s: SessState): Session =
      Session(uid, new java.sql.Timestamp(s.start),
        new java.sql.Timestamp(s.last), s.n, s.sum)

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(close(uid, _)).iterator
            state.remove()
            out
          } else {
            // Classic interval merge over (prior open session + this
            // batch's events, time-sorted): any two intervals within the
            // gap fuse, so late in-batch events — including several older
            // than the open session — land in the right session instead of
            // fragmenting. Everything but the newest merged session is
            // emitted closed; cross-BATCH merging of already-emitted
            // sessions is the one thing this can't undo (emission happens
            // before the watermark passes — the price of prompt output).
            val intervals = (state.getOption.toSeq ++
              it.map(e => SessState(e.ts.getTime, e.ts.getTime, 1, e.value)))
              .sortBy(s => (s.start, s.last))
            val merged = intervals.foldLeft(Vector.empty[SessState]) {
              (acc, cur) =>
                acc.lastOption match {
                  case Some(p) if cur.start - p.last <= gapMs =>
                    acc.init :+ SessState(p.start,
                      math.max(p.last, cur.last), p.n + cur.n, p.sum + cur.sum)
                  case _ => acc :+ cur
                }
            }
            merged.lastOption.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            merged.dropRight(1).map(close(uid, _)).iterator
          }
      }
  }
}
