package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection: MinHash + banded LSH and SimHash
  * (SURVEY §2.8; VERDICT "bucketed MinHash … never all-pairs").
  *
  * MinHash here is hash-function-based (min over md5(shingle || seed)), not
  * permutation-based — deterministic, engine-portable, and entirely Column
  * algebra. Candidate generation is a self-join on (band_index, band_hash):
  * a shuffle keyed by band hash, so cost is O(candidates), never O(n²).
  *
  * At 100 TB: signatures are a projection (one pass); the band join
  * shuffles only (doc_id, band_hash) pairs — bytes per doc, not the text;
  * skewed bands (boilerplate dups) are bounded by band count and can be
  * salted if a single band bucket exceeds executor memory.
  */
object Dedup {

  /** k-word shingle array from a materialized `_w` token-array column
    * (split the text exactly once per row; never re-split per element).
    * Documents with fewer than k tokens get their whole text as the single
    * shingle. */
  private def withShingleCol(docs: DataFrame, k: Int): DataFrame =
    // coalesce keeps NULL-text docs in every shingle-based method (a null
    // input would null the signature and silently drop the doc from
    // candidates), mirroring the simhash path. Shingling is the fused
    // native expression (graft.functions.Kgrams, parity-pinned against
    // the kgramSql HOF chain), not the interpreted transform.
    // Spread first: the fused shingle/hash projection is the pipeline's
    // CPU cost, and a small-file scan otherwise runs it on 1-2 cores
    // (guide §2.5 — no-op whenever the scan already has >= cores splits).
    graft.scale.Spread.byKey(docs, "doc_id")
      .withColumn("_t", coalesce(col("text"), lit("")))
      .withColumn("_shingles",
        graft.functions.Kgrams.kgrams(col("_t"), k, keepShortWhole = true))

  /** k-word shingles → `numHashes` md5-based minhash signatures (the
    * oracle-checkable form: DuckDB reproduces md5 exactly). Shingles are
    * materialized once, and the hash family is derived by slicing each
    * 32-hex-char md5 into four 8-char (32-bit) members — ceil(n/4) md5
    * calls per shingle instead of n, the dominant cost of the pipeline.
    * 32-bit members are ample for minhash agreement counting (chance
    * agreement ~2^-32); md5's avalanche makes the slices independent. */
  def minhashSignatures(
      docs: DataFrame, k: Int = 3, numHashes: Int = 8): DataFrame = {
    // ONE native fused expression (graft.functions.MinhashSigs) instead of
    // the transform/array_min HOF chain: the HOFs all evaluate in
    // interpreted CodegenFallback and materialize the shingle and digest
    // arrays per row — measured as the dominant cost of the minhash tier.
    // Exact-parity with the HOF form (same split, CASE-short-doc, md5,
    // slicing, min order) is pinned in MatchExpressionsSpec and by the
    // DuckDB oracle hash gate.
    val sigsCol = graft.functions.MinhashSigs.minhashSigs(
      coalesce(col("text"), lit("")), k, numHashes)
    graft.scale.Spread.byKey(docs, "doc_id").withColumn("_sigs", sigsCol)
      .select(col("doc_id") +:
        (0 until numHashes).map(j =>
          element_at(col("_sigs"), j + 1).as(s"sig_$j")): _*)
  }

  /** One-row corpus-overlap card: union-MinHash Jaccard estimate between
    * two corpora's k-shingle sets — "how much n-gram content do these
    * datasets share" (Broder resemblance at CORPUS granularity), the
    * cross-snapshot / train-vs-benchmark overlap probe that needs no
    * join, no pair generation, and no shared partitioning at all. The
    * union sketch of a corpus is the component-wise min over its docs'
    * minhash signatures (min of per-doc mins = min over the shingle
    * UNION — the sketch composes), so each corpus costs exactly ONE
    * `numHashes`-wide partial-aggregated pass; the estimate is the
    * fraction of agreeing components, with ±1/numHashes resolution.
    * md5 family ([[minhashSignatures]]) — DuckDB-replayable, so the
    * card is oracle-hashed, not just sanity-checked.
    *
    * Scale shape: two independent corpus scans reducing to one row each
    * (map-side combine carries numHashes strings per partition); the
    * final crossJoin is 1-row × 1-row over DIFFERENT lineages. This is
    * the cheap first question to ask before paying for
    * [[Curation.decontaminate]]'s exact gram join. */
  def corpusOverlapSketch(
      a: DataFrame, b: DataFrame, k: Int = 3, numHashes: Int = 8)
      : DataFrame = {
    def sketch(docs: DataFrame, side: String, nName: String): DataFrame =
      minhashSignatures(docs, k, numHashes).agg(
        count(lit(1)).cast("bigint").as(nName),
        (0 until numHashes)
          .map(j => min(col(s"sig_$j")).as(s"${side}_$j")): _*)
    val agree = (0 until numHashes)
      .map(j => when(col(s"a_$j") === col(s"b_$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    sketch(a, "a", "n_docs_a").crossJoin(sketch(b, "b", "n_docs_b"))
      .select(col("n_docs_a"), col("n_docs_b"),
        lit(numHashes).as("n_hashes"),
        agree.cast("bigint").as("n_agree"),
        round(agree.cast("double") / numHashes, 6).as("est_jaccard"))
  }

  /** Fast minhash signatures for the candidate-generation path: ONE
    * xxhash64 per shingle, then `numHashes` affine rehashes
    * (a_j·h + b_j, wrapping 64-bit arithmetic — deterministic). ~8× fewer
    * hash computations than the md5 form; not DuckDB-reproducible, which
    * is fine since candidates are recall-tested, not oracle-hashed. */
  private def fastSignatures(
      docs: DataFrame, k: Int, numHashes: Int): DataFrame = {
    // ONE fused native pass (graft.functions.FastMinhashSigs) calling the
    // same XXH64 primitives the xxhash64 builtin generates — signature
    // values are bit-identical to the transform/array_min chain it
    // replaced (pinned in MatchExpressionsSpec), without the interpreted
    // lambdas or the per-row shingle/hash arrays
    val sigsCol = graft.functions.FastMinhashSigs.fastMinhashSigs(
      coalesce(col("text"), lit("")), k, numHashes)
    graft.scale.Spread.byKey(docs, "doc_id").withColumn("_sigs", sigsCol)
      .select(col("doc_id") +:
        (0 until numHashes).map(j =>
          element_at(col("_sigs"), j + 1).as(s"sig_$j")): _*)
  }

  /** Exploded (doc_id, sig, band_idx, band_hash) bucket rows — the shuffle
    * key of everything banded is the band hash, so only same-bucket docs
    * ever meet. Shared by candidate generation and the skew audit. */
  private def bandedBuckets(
      docs: DataFrame, k: Int, numHashes: Int, bands: Int,
      oracleHashes: Boolean): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val sigs =
      if (oracleHashes) minhashSignatures(docs, k, numHashes)
      else fastSignatures(docs, k, numHashes)
    val bandCols = (0 until bands).map { b =>
      bandHash((b * rows until (b + 1) * rows).map(j => col(s"sig_$j")))
        .as(s"band_$b")
    }
    sigs.select((col("doc_id") +:
        (0 until numHashes).map(j => col(s"sig_$j"))) ++ bandCols: _*)
      .select(
        col("doc_id"),
        array((0 until numHashes).map(j => col(s"sig_$j")): _*).as("sig"),
        posexplode(array((0 until bands).map(b => col(s"band_$b")): _*))
          .as(Seq("band_idx", "band_hash")))
  }

  /** A band's bucket key from its signature members, in band order. */
  private def bandHash(members: Seq[Column]): Column =
    xxhash64(concat_ws("|", members: _*))

  /** The persistable signature index: one row per (doc, band) with the
    * full signature array and the band hash — exactly the table a 100 TB
    * corpus stores once (ideally bucketed on band_hash, see
    * graft.scale.Bucketing) so incremental batches can probe it without
    * re-hashing a single historical document. Feed it to
    * [[incrementalCandidates]]. */
  def signatureIndex(
      docs: DataFrame, k: Int = 3, numHashes: Int = 8, bands: Int = 4,
      oracleHashes: Boolean = false): DataFrame =
    bandedBuckets(docs, k, numHashes, bands, oracleHashes)

  /** Retire documents from a persisted [[signatureIndex]] without
    * re-hashing anything: the retired ids anti-join away in one pass over
    * the index. With the id set DataFrame-shaped it is broadcast (retire
    * batches are small relative to any corpus); with a
    * (band_idx, band_hash)-bucketed store the rewrite touches no
    * exchange. The retired docs stop producing candidates immediately —
    * a long-lived incremental pipeline needs deletion to honor takedowns
    * without a full corpus re-hash. */
  def retireFromIndex(index: DataFrame, retiredIds: DataFrame): DataFrame =
    index.join(broadcast(retiredIds.select(col("doc_id"))),
      Seq("doc_id"), "left_anti")

  /** [[retireFromIndex]] for a driver-held id batch. */
  def retireFromIndex(index: DataFrame, retiredIds: Seq[Long]): DataFrame =
    index.filter(!col("doc_id").isInCollection(retiredIds))

  /** In-place maintenance of a parquet-persisted index store: drop the
    * retired docs and rewrite the store once (also compacting the small
    * files incremental appends accumulate). The swap discipline —
    * replacement verified readable before the live store is touched,
    * backups never pre-deleted, restore on a failed swap-in — lives in
    * [[graft.scale.StoreMaint.replaceStore]] and is shared with the
    * event log's [[graft.dml.events.EventBus.compact]]. Returns the
    * retained row count. */
  def compactIndexStore(
      spark: org.apache.spark.sql.SparkSession, path: String,
      retiredIds: Seq[Long]): Long =
    graft.scale.StoreMaint.replaceStore(spark, path,
      retireFromIndex(spark.read.parquet(path), retiredIds))

  /** Incremental near-dup detection: candidate pairs between a NEW batch
    * and an existing corpus, plus pairs inside the batch — without
    * re-hashing the corpus. `index` is the persisted [[signatureIndex]] of
    * the historical docs (built with the same k, numHashes and bands);
    * only `newDocs` pays shingle/signature cost. Output matches
    * [[minhashCandidates]] over (corpus ∪ batch) restricted to pairs
    * touching the batch — pinned by an equivalence test. The probe is
    * [[candidatesFromBuckets]].
    *
    * Ids must be disjoint between index and batch (same contract as any
    * union-based dedup). */
  def incrementalCandidates(
      index: DataFrame, newDocs: DataFrame, k: Int = 3, numHashes: Int = 8,
      bands: Int = 4, minEstJaccard: Double = 0.5,
      oracleHashes: Boolean = false): DataFrame =
    candidatesFromBuckets(index,
      probeBatch(bandedBuckets(newDocs, k, numHashes, bands, oracleHashes)),
      numHashes, bands, minEstJaccard)

  /** A probe's batch side, materialized once by [[probeBatch]]: `rows`
    * is checkpointed (so it can also join long-lived index state), and
    * its row count and distinct doc ids were observed on the
    * checkpoint's own job. */
  private[graft] final case class ProbeBatch(
      rows: DataFrame, nRows: Long, ids: Seq[Any])

  /** Materialize a batch's [[signatureIndex]] or [[shingleIndex]] rows
    * for the probes below in ONE job: the row count (the broadcast
    * decision) and the doc ids (the disjointness guard) are
    * `Dataset.observe` metrics of the checkpoint, not queries of their
    * own. One id per batch doc is held on the driver. */
  private[graft] def probeBatch(rows: DataFrame): ProbeBatch = {
    val seen = org.apache.spark.sql.Observation()
    val ckpt = rows.observe(seen, count(lit(1)).as("n"),
      collect_set(col("doc_id")).as("ids")).localCheckpoint(true)
    val m = seen.get
    ProbeBatch(ckpt, m("n").asInstanceOf[Long],
      m("ids").asInstanceOf[Seq[Any]])
  }

  /** The two sides of a probe join on `keys`. The index is pruned
    * first by a broadcast semi-join on the batch's keys, so only index
    * rows sharing a key with the batch reach the join (the key column
    * broadcasts as is: duplicates are harmless to a semi-join, and a
    * distinct would cost a shuffle). The batch side is broadcast when
    * it fits the session's autoBroadcastJoinThreshold, so the join has
    * no exchange at all; otherwise the join is sort-merge, and only the
    * pruned index rows shuffle (none with an index bucketed on `keys`).
    * The batch is sized by Spark's rule for local relations, rows ×
    * (schema default width + 8): a checkpoint carries no size the
    * planner can read (its estimate is the source's default,
    * exabytes), so unhinted it always plans as a sort-merge join, and
    * AQE shuffles the index before switching to a broadcast. A
    * threshold of -1 never broadcasts the batch. */
  private def probeSides(index: DataFrame, batch: ProbeBatch,
      batchSide: DataFrame, keys: Seq[String]): (DataFrame, DataFrame) = {
    val pruned = index.join(broadcast(batch.rows.select(keys.map(col): _*)),
      keys, "left_semi")
    val limit =
      batch.rows.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val fits = limit >= 0 &&
      batch.nRows.toDouble * (batch.rows.schema.defaultSize + 8) <= limit
    (pruned, if (fits) broadcast(batchSide) else batchSide)
  }

  /** [[incrementalCandidates]] core, shared with the streaming
    * [[graft.streaming.StreamingPipeline.NearDupIndex]] and the
    * paragraph probe: the batch's [[signatureIndex]] rows, built with
    * `numHashes` and `bands` like the index, probe the index and each
    * other.
    *
    * Scale shape per batch: TWO band-key joins — index × batch and
    * batch × batch — rather than one join against (index ∪ batch), run
    * as one query by the consumer's action. A union erases the index
    * side's partitioning, so the single-join form re-shuffles the index;
    * keeping it pure lets a (band_idx, band_hash)-bucketed index table
    * (graft.scale.Bucketing) join with ZERO exchange on the index — only
    * the batch shuffles, at any index size. Both joins build the same
    * batch side, so its broadcast runs once. There is no distinct:
    * a pair that shares several bands is emitted only at the lowest,
    * tested on the two signatures the joined row already carries, so a
    * broadcast probe has no exchange at all — three Spark jobs: the
    * key broadcast of the index prune, the batch broadcast and the
    * result (the first batch, with an empty index, has no prune). */
  private[graft] def candidatesFromBuckets(
      index: DataFrame, batch: ProbeBatch, numHashes: Int, bands: Int,
      minEstJaccard: Double): DataFrame = {
    val keys = Seq("band_idx", "band_hash")
    def sided(df: DataFrame, side: String): DataFrame = df.select(
      col("band_idx"), col("band_hash"),
      col("doc_id").as(s"id_$side"), col("sig").as(s"sig_$side"))
    val (indexSide, l) =
      probeSides(index, batch, sided(batch.rows, "l"), keys)
    // band b < band_idx is shared iff its key, recomputed from the two
    // signatures, agrees: the test the join applied at band_idx
    val rows = numHashes / bands
    def keyOf(sig: String, b: Int): Column = bandHash(
      (b * rows until (b + 1) * rows).map(j => element_at(col(sig), j + 1)))
    val sharesLowerBand = (0 until bands - 1)
      .map(b => lit(b) < col("band_idx") &&
        keyOf("sig_l", b) === keyOf("sig_r", b))
      .foldLeft(lit(false))(_ || _)
    def pairs(r: DataFrame): DataFrame =
      sided(r, "r").join(l, keys).filter(!sharesLowerBand)
    val matches =
      graft.functions.MatchExpressions.arrayEqCount(col("sig_l"), col("sig_r"))
    pairs(indexSide).filter(col("id_l") =!= col("id_r"))
      .unionAll(pairs(batch.rows).filter(col("id_l") < col("id_r")))
      .select(
        least(col("id_l"), col("id_r")).as("doc_a"),
        greatest(col("id_l"), col("id_r")).as("doc_b"),
        (matches.cast("double") / size(col("sig_l"))).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Skew audit for [[minhashCandidates]]'s `maxBucketSize` guard: the
    * band buckets a given cap would exclude, with their member counts —
    * run it to size the cap, or after a capped run to quantify what was
    * skipped (pair-wise: sum of n_docs·(n_docs−1)/2). One aggregation over
    * the bucket projection; never touches the text. */
  def oversizedBuckets(
      docs: DataFrame, maxBucketSize: Int, k: Int = 3, numHashes: Int = 8,
      bands: Int = 4, oracleHashes: Boolean = false): DataFrame =
    bandedBuckets(docs, k, numHashes, bands, oracleHashes)
      .groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucketSize)

  /** Banded LSH candidate pairs: signatures split into `bands` bands of
    * rows; docs sharing any band hash become candidates; pairs are scored
    * by signature agreement (estimated Jaccard).
    *
    * `oracleHashes = true` swaps the xxhash64 fast family for the md5 one
    * (minhashSignatures) — same algorithm, DuckDB-reproducible output, so
    * the full banded pipeline can be hash-checked against the oracle.
    * Production runs keep the default fast family (~8× fewer hashes).
    *
    * `maxBucketSize` is the 100 TB skew guard: a boilerplate band bucket
    * (templated pages, empty docs) with m members emits m² candidate
    * pairs — one 10M-doc bucket is 10¹⁴ pairs and a dead executor.
    * Buckets above the cap are excluded from candidate GENERATION (pairs
    * that also share a healthy bucket still surface through it); their
    * members are boilerplate-identical at that band and belong to exact
    * dedup, which handles them at O(n). Capping beats salting here:
    * salting a band splits its bucket arbitrarily and silently loses
    * pairs with no bound on which, while the cap's exclusions are
    * well-defined (whole pathological buckets) and auditable via
    * [[oversizedBuckets]]. Default ∞ keeps small-corpus behavior exact. */
  def minhashCandidates(
      docs: DataFrame, k: Int = 3, numHashes: Int = 8, bands: Int = 4,
      minEstJaccard: Double = 0.5, oracleHashes: Boolean = false,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // The bucket rows are persisted AND materialized up front because BOTH
    // sides of the self-join scan them: lazily-cached branches race to
    // populate and the whole shingle→signature pipeline (the expensive
    // part) executes twice. Materialized by a noop-sink write: one job
    // fewer than count()'s aggregate. Footprint is doc_id + signatures —
    // bytes per doc, cacheable even at corpus scale (MEMORY_AND_DISK
    // spills, never OOMs).
    val buckets = graft.scale.JobLabel(docs.sparkSession, "minhash:buckets") {
      val b = PipelineCaches.track(
        bandedBuckets(docs, k, numHashes, bands, oracleHashes)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      b.write.format("noop").mode("overwrite").save()
      b
    }

    // skew guard: drop whole over-cap buckets before the self-join. The
    // over-cap KEY set is tiny by construction (≤ rows/cap keys), so it
    // broadcasts; the anti-join reads the cached buckets, never the text.
    val eligible =
      if (maxBucketSize == Int.MaxValue) buckets
      else buckets.join(
        broadcast(buckets.groupBy("band_idx", "band_hash")
          .agg(count(lit(1)).as("_n")).filter(col("_n") > maxBucketSize)
          .select("band_idx", "band_hash")),
        Seq("band_idx", "band_hash"), "left_anti")

    val l = eligible.select(
      col("band_idx"), col("band_hash"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val r = eligible.select(
      col("band_idx"), col("band_hash"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))

    val matches =
      graft.functions.MatchExpressions.arrayEqCount(col("sig_a"), col("sig_b"))
    l.join(r, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (matches.cast("double") / size(col("sig_a"))).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Shared scaffold of the exact rescorers: candidate pairs annotated
    * with (n_inter, n_a, n_b) — distinct-shingle intersection and the
    * two set sizes. Each document's distinct k-shingles are ONE array
    * row, built by one shingle projection per document with no explode
    * and no aggregate; see [[pairSetCounts]] for the pair side.
    * Shingles compare as the k-word strings themselves, which is the
    * Jaccard's definition; md5 keys ([[pairShingleCountsFrom]]) pay off
    * only where a relation shuffles by shingle, and nothing here does.
    * Candidate columns pass through, so callers keep extras like
    * est_jaccard. */
  private def pairShingleCounts(
      docs: DataFrame, candidates: DataFrame, k: Int): DataFrame =
    pairSetCounts(
      withShingleCol(docs, k)
        .select(col("doc_id"), array_distinct(col("_shingles")).as("_set")),
      candidates)

  /** [[pairShingleCounts]] over an ALREADY-BUILT distinct
    * (doc_id, shingle) relation (the paragraph probe's index and batch
    * shingle rows, the containment join's persisted explode): one
    * doc-keyed aggregation folds it back into per-document sets, so it
    * is scanned once. */
  private[graft] def pairShingleCountsFrom(
      sh: DataFrame, candidates: DataFrame): DataFrame =
    pairSetCounts(
      sh.groupBy("doc_id").agg(collect_list(col("shingle")).as("_set")),
      candidates)

  /** Candidate pairs joined to the (doc_id, `_set`) rows of both
    * documents, with n_inter = |A∩B| and the set sizes (bigint) read
    * off the two arrays. Pairs with a document missing from `sets`
    * drop; every other candidate row comes out exactly once, since
    * `candidates` is read once. Both joins read the SAME `sets` plan, so
    * adaptive execution computes it once and reuses its exchange for the
    * second join: the broadcast, or the shuffle above the projection.
    * (A small input that Spread repartitions by doc_id already meets
    * both sort-merge joins' distribution, so without broadcasts each
    * join stage projects its side from that shared exchange.) */
  private def pairSetCounts(sets: DataFrame, candidates: DataFrame)
      : DataFrame = {
    def side(s: String): DataFrame = sets.select(
      col("doc_id").as(s"doc_$s"), col("_set").as(s"_set_$s"))
    candidates.join(side("a"), Seq("doc_a")).join(side("b"), Seq("doc_b"))
      .withColumn("n_inter", graft.functions.MatchExpressions
        .setIntersectSize(col("_set_a"), col("_set_b")).cast("bigint"))
      .withColumn("n_a", size(col("_set_a")).cast("bigint"))
      .withColumn("n_b", size(col("_set_b")).cast("bigint"))
      .drop("_set_a", "_set_b")
  }

  /** Exact n-gram Jaccard for a candidate pair set (rescoring step after
    * LSH pruning): |A∩B| / |A∪B| over distinct k-shingles. */
  def jaccardRescore(
      docs: DataFrame, candidates: DataFrame, k: Int = 3): DataFrame =
    pairShingleCounts(docs, candidates, k)
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")))
      .select("doc_a", "doc_b", "est_jaccard", "jaccard")

  /** Exact shingle CONTAINMENT for a candidate pair set — the asymmetric
    * companion to [[jaccardRescore]]: containment_a = |A∩B| / |A| (how
    * much of doc_a lives inside doc_b), and symmetrically containment_b.
    * Jaccard misses subset duplication by construction — a short doc
    * quoted whole inside a long one scores |A|/|B| ≈ 0 Jaccard but
    * containment_a = 1 — and "wholly-contained document" is its own
    * standard dedup rule (Broder 1997's resemblance vs containment
    * split). Same joins and scale shape as the Jaccard rescore; all
    * three scores come out of one pass. Counts are exact ints so the
    * double divisions replay bit-identically in the oracle. */
  def containmentRescore(
      docs: DataFrame, candidates: DataFrame, k: Int = 3): DataFrame =
    containmentProjection(pairShingleCounts(docs, candidates, k))

  /** [[containmentRescore]] over a prebuilt distinct (doc_id, shingle)
    * relation — lets the containment join feed its PERSISTED shingle
    * table into the rescore instead of paying a second corpus shingle
    * pass. */
  private[graft] def containmentRescoreFrom(
      sh: DataFrame, candidates: DataFrame): DataFrame =
    containmentProjection(pairShingleCountsFrom(sh, candidates))

  private def containmentProjection(pc: DataFrame): DataFrame =
    pc.select(col("doc_a"), col("doc_b"),
      (col("n_inter").cast("double") / col("n_a")).as("containment_a"),
      (col("n_inter").cast("double") / col("n_b")).as("containment_b"),
      (col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))

  /** Candidate-pair Jaccard HISTOGRAM — the LSH threshold-tuning card
    * that closes the loop [[lshPlan]] opens: generate the banded
    * candidate pairs, rescore each with EXACT shingle Jaccard, and
    * bucket into 0.05-wide bins (one row per occupied bin with pair
    * count and share). A mass of candidates below the intended
    * threshold means the band/row split is over-recalling (wasted
    * rescore work); an empty shoulder above it means near-dups are
    * escaping candidate generation. Bin 20 holds exact duplicates
    * (jaccard = 1 only — floor(1·20)).
    *
    * Exactly oracle-replayable: the Jaccard is a double of exact
    * shingle-set integers, the bin is floor(j·20) on that double (both
    * engines execute the same IEEE multiply), the share total windows
    * the ≤21-row card. Scale shape: candidate generation is the banded
    * self-join with skew caps ([[minhashCandidates]]), never all
    * pairs; everything after the rescore is bin-bounded. */
  def pairJaccardHist(docs: DataFrame, k: Int = 3, numHashes: Int = 8,
      bands: Int = 4, oracleHashes: Boolean = false): DataFrame = {
    // the rescore reads the candidate set once, so it stays lazy
    val cands = minhashCandidates(docs, k, numHashes, bands,
      minEstJaccard = 0.0, oracleHashes = oracleHashes)
    jaccardRescore(docs, cands, k)
      .groupBy(floor(col("jaccard") * 20).cast("int").as("bin"))
      .agg(count(lit(1)).as("_n"))
      .select(col("bin"),
        round(col("bin").cast("double") * 0.05, 2).as("bin_lo"),
        col("_n").cast("bigint").as("n_pairs"),
        round(col("_n").cast("double") /
          sum("_n").over(Sampling.allRows).cast("double"), 6).as("share"))
  }

  /** EXACT set-similarity self-join via PREFIX FILTERING (Chaudhuri et
    * al. 2006's prefix lemma / Bayardo et al. 2007 "Scaling Up All
    * Pairs"): EVERY pair (doc_a < doc_b) whose distinct-k-shingle
    * Jaccard ≥ `threshold` — complete by construction, unlike the
    * probabilistic MinHash band join, and without all-pairs work. The
    * tool for when recall 1.0 is a REQUIREMENT (benchmark
    * decontamination sign-off, legal dedup attestations).
    *
    * How: a qualifying pair shares o ≥ ceil(t·|x|) shingles with BOTH
    * endpoints' sizes, so under one global shingle order
    * (document-frequency ascending — rare first — then shingle) each
    * doc only needs to index its first |x| − ceil(t·|x|) + 1 shingles:
    * two qualifying docs MUST collide on an indexed prefix shingle
    * (pigeonhole). Candidates = the prefix equi-self-join + the
    * size-compatibility filter t·|x| ≤ |y| (both directions), then the
    * exact rescore keeps jaccard ≥ t. The α = ceil(t·sz) bounds are
    * computed as ceil(t·sz − 1e-9): the epsilon can only LOWER α
    * (longer prefix, more candidates) when float noise lands t·sz a
    * hair above an integer — conservative, so exactness never hinges
    * on float rounding. The oracle proves completeness, not a replay:
    * DuckDB computes the UNPRUNED all-pairs join and the hash gate
    * asserts set equality.
    *
    * Scale shape: one shingle explode; the df is a shingle-partitioned
    * window count; ONE doc-keyed aggregation sorts each doc's shingles
    * into the global order, and that sorted set feeds both the prefix
    * (its head, exploded) and the rescore (the whole set, read by
    * [[pairSetCounts]]); candidate generation is an equi-join on prefix
    * shingles whose buckets the rare-first order keeps small (the
    * AllPairs observation), with the size filter pruning inside a
    * bucket; the rescore is candidate-bounded. No stage is
    * corpus-quadratic unless the output itself is. Nothing is persisted
    * and no job runs before the caller's action: the shingle pass and
    * the doc aggregation each run once in that query (the second
    * reader reuses the exchange). */
  def jaccardJoinExact(docs: DataFrame, threshold: Double, k: Int = 3)
      : DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // md5 the shingle at the explode (r18 optimization round, guide §2.3
    // "shuffle keys and metadata instead of payloads"): the df window and
    // the doc aggregation shuffle every (doc, shingle) row, and the prefix
    // self-join keys on the shingle; the raw k-word string shuffled
    // 181 MB into the prefix window at sf0.1 where the 32-hex key
    // shuffles a third of that. Exactness is unchanged: md5 is the
    // exact-equality convention of the whole containment tier
    // ([[shingleIndex]] — "constant-width keys, prose never enters the
    // index"), distinct counts and intersections are preserved, and the
    // prefix-filter completeness argument needs only SOME global total
    // order, which (df asc, md5 asc) is. explode_outer over the distinct
    // array attribute keeps the shingle projection to one evaluation per
    // doc (the [[shingleIndex]] note; kgrams never returns an empty array).
    val sh = withShingleCol(docs, k)
      .withColumn("_ds", array_distinct(col("_shingles")))
      .select(col("doc_id"), explode_outer(col("_ds")).as("_g"))
      .select(col("doc_id"), unhex(md5(col("_g"))).as("shingle"))
    // each doc's distinct shingles sorted by (df asc, shingle asc)
    val ordered = sh
      .withColumn("_df", count(lit(1)).over(Window.partitionBy("shingle")))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("_df"), col("shingle"))))
        .as("_ord"))
    def alphaCeil(sz: Column): Column =
      ceil(sz.cast("double") * lit(threshold) - lit(1e-9))
    val sz = size(col("_ord"))
    val prefix = ordered
      .select(col("doc_id"), sz.as("_sz"), explode(slice(col("_ord"), lit(1),
        (sz - alphaCeil(sz) + 1).cast("int"))).as("_e"))
      .select(col("_e.shingle").as("shingle"), col("doc_id"), col("_sz"))
    val cands = prefix
      .select(col("shingle"), col("doc_id").as("doc_a"), col("_sz").as("_sza"))
      .join(prefix.select(col("shingle"), col("doc_id").as("doc_b"),
        col("_sz").as("_szb")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(col("_szb") >= alphaCeil(col("_sza")) &&
        col("_sza") >= alphaCeil(col("_szb")))
      .select("doc_a", "doc_b").distinct()
    val sets = ordered.select(col("doc_id"),
      transform(col("_ord"), e => e.getField("shingle")).as("_set"))
    containmentProjection(pairSetCounts(sets, cands))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** EXACT set-CONTAINMENT self-join — [[jaccardJoinExact]]'s
    * asymmetric twin, recall 1.0 by construction: every ORDERED pair
    * (doc_a, doc_b), a ≠ b, with |Sa ∩ Sb| / |Sa| ≥ threshold — doc_a
    * at least threshold-contained in doc_b. Jaccard dedup provably
    * misses subset duplication (a half-doc excerpt scores ~0.5 Jaccard
    * but containment 1 — Broder 1997's resemblance/containment split);
    * this join is the ground truth an excerpt-dedup release sheet
    * quotes, exactly as the Jaccard exact join grounds the LSH audit.
    *
    * Prefix-filter completeness (the AllPairs argument, one-sided): in
    * the global (df asc, shingle asc) order, if B misses ALL of A's
    * first |A| − ceil(t·|A|) + 1 shingles then |A∩B| ≤ ceil(t·|A|) − 1
    * < t·|A| — so joining A-prefixes against the FULL shingle index
    * loses nothing. Containment admits only one size prune (|B| ≥
    * ceil(t·|A|) — a host smaller than the required intersection is
    * impossible); unlike the symmetric join the HOST side cannot be
    * prefixed, so this join prices by the df mass of prefix shingles —
    * rare-first ordering keeps that the rare tail. The conservative
    * ceil(x − 1e-9) only LENGTHENS prefixes under float noise (more
    * candidates, never fewer — the completeness direction).
    *
    * Scale shape: one shingle explode (persisted, three consumers),
    * df/size aggs, the prefix row_number over per-doc shingle lists,
    * one shingle-keyed equi-join, and the exact rescore on the
    * candidate-bounded pairs. Plan-pinned no-cartesian. Run on an
    * audit sample at 100 TB — like the exact Jaccard join, it prices
    * by 1 − t. */
  def containmentJoinExact(docs: DataFrame, threshold: Double,
      k: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // md5 keys at the explode — the jaccardJoinExact rationale verbatim
    // (constant-width shuffle keys, the containment tier's existing
    // exact-equality convention; the one-sided prefix argument holds
    // under any global total order)
    val sh = PipelineCaches.track(withShingleCol(docs, k)
      .select(col("doc_id"),
        expr("explode(array_distinct(_shingles))").as("_g"))
      .select(col("doc_id"), unhex(md5(col("_g"))).as("shingle"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("_sz"))
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("_df"))
    def alphaCeil(sz: Column): Column =
      ceil(sz.cast("double") * lit(threshold) - lit(1e-9))
    val prefix = sh.join(dfreq, Seq("shingle"))
      .join(sizes, Seq("doc_id"))
      .withColumn("_r", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("_df").asc, col("shingle").asc)))
      .filter(col("_r") <= col("_sz") - alphaCeil(col("_sz")) + 1)
      .select(col("shingle"), col("doc_id").as("doc_a"),
        col("_sz").as("_sza"))
    // the rescore reads the candidate set once, so it stays lazy, and
    // so does prefix (consumed once here)
    val cands = prefix
      .join(sh.select(col("shingle"), col("doc_id").as("doc_b")),
        Seq("shingle"))
      .filter(col("doc_a") =!= col("doc_b"))
      .join(sizes.select(col("doc_id").as("doc_b"),
        col("_sz").as("_szb")), Seq("doc_b"))
      .filter(col("_szb") >= alphaCeil(col("_sza")))
      .select("doc_a", "doc_b").distinct()
    containmentRescoreFrom(sh, cands)
      .filter(col("containment_a") >= threshold)
      .select("doc_a", "doc_b", "containment_a")
  }

  /** LSH threshold-SENSITIVITY curve — [[pairJaccardHist]] read the way
    * a dedup operator tunes it: for every 0.05 Jaccard bin, how many
    * candidate pairs sit AT OR ABOVE it (`n_pairs_ge` and its share).
    * Pick the dedup threshold where the curve knees: everything below
    * is rescore work the banding wasted, everything above is dup mass
    * the threshold would keep. Windows run over the ≤21-row bin card —
    * never the pair stream. */
  /** MinHash ESTIMATOR-error card — the third leg of the sketch-audit
    * family (HLL and CMS ship theirs; this audits the signature
    * estimate itself): over every banded candidate pair, compare the
    * signature's est_jaccard (a k/numHashes rational) against the exact
    * shingle Jaccard and report mean/max absolute error plus the share
    * of pairs within one estimator notch (1/numHashes). A mean error
    * far above the binomial expectation means the hash family or band
    * layout is biased, not just noisy.
    *
    * Error terms are 12-dp rounded then DECIMAL-summed
    * (order-independent); the card is a 1-row agg over the
    * candidate-bounded pair relation. */
  def minhashEstQuality(docs: DataFrame, k: Int = 3, numHashes: Int = 8,
      bands: Int = 4, oracleHashes: Boolean = false): DataFrame = {
    // the rescore carries est_jaccard through, so the candidate set is
    // read once and stays lazy
    val cands = minhashCandidates(docs, k, numHashes, bands,
      minEstJaccard = 0.0, oracleHashes = oracleHashes)
    val err = jaccardRescore(docs, cands, k)
      .select(round(abs(col("est_jaccard") - col("jaccard")), 12)
        .as("_e"))
    val notch = 1.0 / numHashes
    err.agg(
      count(lit(1)).cast("bigint").as("n_pairs"),
      round(sum(col("_e").cast("decimal(28,12)")).cast("double") /
        count(lit(1)), 6).as("mean_abs_err"),
      round(max("_e"), 6).as("max_abs_err"),
      round(sum(when(col("_e") <= notch, 1L).otherwise(0L))
        .cast("double") / count(lit(1)), 6).as("share_within_notch"))
  }

  /** Measured LSH recall/precision audit — the governance row the exact
    * join unlocks: run [[jaccardJoinExact]] (ground truth, recall 1.0
    * by construction) and the banded [[minhashCandidates]] (the
    * production path) over the SAME corpus and report how many true
    * ≥-threshold pairs the bands actually caught. [[lshPlan]] predicts
    * the S-curve from (bands, rows); this card MEASURES it on real
    * data — the number a dedup run's release sheet should quote.
    *
    * One full-outer merge of the two pair relations feeds a single
    * 1-row aggregate (no per-side count jobs, no one-row cross joins);
    * every statistic is an integer or a guarded integer ratio.
    *
    * Scale shape: both inputs are pair-bounded relations with
    * non-quadratic generation (prefix filter / banded buckets); the
    * merge is an equi-join on the pair key. Run it on an AUDIT SAMPLE
    * at 100 TB — the exact join prices by 1−t, which is the point of
    * sampling the audit rather than skipping it. */
  def lshRecallAudit(docs: DataFrame, threshold: Double = 0.8,
      k: Int = 3, numHashes: Int = 8, bands: Int = 4,
      oracleHashes: Boolean = false): DataFrame = {
    // the exact join is lazy (no job before the action below), so the
    // banded generator's eager bucket materialization is the only work
    // done here; the audit query runs both pipelines' stages side by side
    val truth = jaccardJoinExact(docs, threshold, k)
      .select("doc_a", "doc_b").withColumn("_t", lit(1L))
    val cand = minhashCandidates(docs, k, numHashes, bands,
        minEstJaccard = 0.0, oracleHashes = oracleHashes)
      .select("doc_a", "doc_b").withColumn("_c", lit(1L))
    truth.join(cand, Seq("doc_a", "doc_b"), "full")
      .agg(
        coalesce(sum("_t"), lit(0L)).cast("bigint").as("n_truth"),
        coalesce(sum("_c"), lit(0L)).cast("bigint").as("n_candidates"),
        sum(when(col("_t").isNotNull && col("_c").isNotNull, 1L)
          .otherwise(0L)).cast("bigint").as("n_hit"))
      .select(lit(threshold).as("threshold"),
        col("n_truth"), col("n_candidates"), col("n_hit"),
        when(col("n_truth") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_hit").cast("double") /
            col("n_truth").cast("double"), 6)).as("recall"),
        when(col("n_candidates") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_hit").cast("double") /
            col("n_candidates").cast("double"), 6))
          .as("candidate_precision"))
  }

  /** Containment-dedup TREATMENT — the drop rule the exact join
    * grounds (diagnosis [[containmentJoinExact]] → audit
    * [[containmentRecallAudit]] → THIS): drop every doc that is
    * ≥ threshold contained in a doc that survives, under the
    * deterministic Broder-style rule
    *   drop a  ⇔  ∃ b: C(a,b) ≥ t ∧ (C(b,a) < t ∨ b < a)
    * — a strictly-contained doc (an excerpt) always drops in favor of
    * its host; mutually-contained docs (near-identical) keep the
    * LOWEST doc_id (the keep-one convention of the whole dedup tier).
    * The rule needs no iteration: a mutual-containment CHAIN keeps
    * exactly its minimum (every other member sees a lower mutual
    * partner), and a strict containment a⊂b never needs b to survive —
    * b can only itself drop toward an even larger host or a lower
    * mutual twin, and transitivity of ≥t containment does NOT hold in
    * general, so the safe (and standard) contract is "dropped by
    * SOME witness pair", which this one-pass rule implements exactly.
    *
    * Returns every doc with (is_dropped, n_hosts — the number of
    * witness pairs). Rows preserved; pair work is the exact join's
    * envelope plus one pair-keyed merge and a doc-keyed agg. */
  def dropContained(docs: DataFrame, threshold: Double = 0.8,
      k: Int = 3): DataFrame = {
    val pairs = PipelineCaches.track(
      containmentJoinExact(docs, threshold, k)
        .select(col("doc_a"), col("doc_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // materialize before the self-join below references it twice —
    // two lazily-cached branches race to populate and the exact join
    // executes twice (r17 optimization round; the minhashCandidates
    // buckets comment documents the same race)
    pairs.count()
    // orient: does the reverse pair exist (mutual containment)?
    val rev = pairs.select(col("doc_a").as("doc_b"),
      col("doc_b").as("doc_a")).withColumn("_mutual", lit(1))
    val witnesses = pairs.join(rev, Seq("doc_a", "doc_b"), "left")
      .filter(col("_mutual").isNull || col("doc_b") < col("doc_a"))
    val dropped = witnesses.groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_hosts"))
    docs.select("doc_id").join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_hosts").isNotNull.as("is_dropped"),
        coalesce(col("n_hosts"), lit(0L)).as("n_hosts"))
  }

  /** The persistable CONTAINMENT index: one row per (doc, distinct
    * md5 k-shingle) with the doc's shingle-set size denormalized onto
    * every row — the [[signatureIndex]] analog for the excerpt/host
    * question, and the state table of
    * [[graft.streaming.StreamingPipeline.ContainmentIndex]]. At corpus
    * scale store it bucketed on `sh` (graft.scale.Bucketing) so
    * incremental probes join with zero exchange on the index side;
    * retire via [[retireFromIndex]] (the id anti-join is schema-
    * agnostic) and compact via [[graft.scale.StoreMaint.replaceStore]].
    * Constant-width keys — prose never enters the index. */
  def shingleIndex(docs: DataFrame, k: Int = 3): DataFrame =
    // n_sh per ROW from the distinct array's size, no shuffle at all
    // (r18 optimization round, guide §2.4 "remove shuffles outright"):
    // n_sh is the doc's distinct-shingle count, which is exactly
    // size(array_distinct(_shingles)) BEFORE the explode — the earlier
    // doc-keyed window form (itself the round-15 fix for a self-join
    // that re-ran the explode+md5 pipeline per reference) shuffled and
    // sorted the ENTIRE shingle relation by doc_id just to recount
    // rows the array already knew. Same rows, same values, same
    // (doc_id, sh, n_sh) store schema — n_sh stays BIGINT.
    //
    // explode_OUTER, deliberately: with a plain explode over the _ds
    // ATTRIBUTE, InferFiltersFromGenerate adds `size(_ds) > 0 AND
    // isnotnull(_ds)` and predicate pushdown substitutes the alias —
    // kgrams+array_distinct re-evaluated TWICE per doc in a filter
    // below the exchange (plan-verified; the isolated A/B read ~1.4x
    // slower than the window form it was replacing). The outer form is
    // value-identical here — kgrams(coalesce(text,''), k,
    // keepShortWhole=true) never returns an empty or null array — and
    // the rule skips outer generates, so kgrams runs once per doc.
    withShingleCol(docs, k)
      .withColumn("_ds", array_distinct(col("_shingles")))
      .select(col("doc_id"),
        size(col("_ds")).cast("bigint").as("n_sh"),
        explode_outer(col("_ds")).as("_g"))
      .select(col("doc_id"), md5(col("_g")).as("sh"), col("n_sh"))

  /** Incremental EXACT containment detection: every ORDERED pair
    * (doc_a, doc_b, containment_a ≥ threshold) TOUCHING the new batch —
    * batch docs probed both as EXCERPT and as HOST against the
    * persisted [[shingleIndex]] of the historical corpus, plus in-batch
    * pairs — without re-shingling a single historical document. EXACT,
    * not banded: a qualifying pair shares ≥ 1 shingle and one probe
    * side is always the (small) batch, so one shingle-keyed join
    * against the index computes every batch-touching intersection
    * completely (the index pruned by a broadcast semi-join on the
    * batch's keys — the [[incrementalCandidates]] discipline; a
    * sh-bucketed index store joins with zero exchange).
    * Output matches [[containmentJoinExact]] over (corpus ∪ batch)
    * restricted to pairs touching the batch — the oracle proves it
    * every round. Ids must be disjoint between index and batch —
    * ENFORCED by a one-job id filter inside the shared primitive
    * (round-15 advice), so an overlapping id fails loudly instead of
    * double-counting. */
  def incrementalContainmentPairs(index: DataFrame, newDocs: DataFrame,
      threshold: Double = 0.8, k: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    containmentPairsFromShingles(index,
      probeBatch(shingleIndex(newDocs, k)), threshold)
  }

  /** [[incrementalContainmentPairs]] core for callers already holding
    * the batch's materialized [[shingleIndex]] rows (the streaming path
    * computes them once and both probes and appends them). The
    * disjointness guard runs here, eagerly; the pairs are a lazy frame
    * over the two materialized inputs.
    *
    * Scale shape per batch: the guard is one id-filtered scan of the
    * index; the consumer's action then runs the probe as one query, in
    * which the index is pruned by a broadcast semi-join on the batch's
    * keys, the two shingle-keyed joins (index × batch, batch × batch)
    * build the same batch side (one broadcast when it fits), feed ONE
    * pair aggregate (the query's only shuffle), and each scored pair
    * row yields both orientations — four Spark jobs when the batch
    * broadcasts, three on an empty index. */
  private[graft] def containmentPairsFromShingles(index: DataFrame,
      batch: ProbeBatch, threshold: Double): DataFrame = {
    // loud disjointness guard (round-15 advice): an id on both sides
    // would silently emit duplicate/spurious pairs (the id_x =!= id_y
    // filter treats its two copies as distinct docs). One job: the
    // batch's observed ids filter the index scan, and the collect is
    // empty unless the guard fires (a limit-1 take would scan the
    // partitions in rounds, one job per round).
    val overlap = graft.scale.JobLabel(index.sparkSession, "contain:guard") {
      index.filter(col("doc_id").isInCollection(batch.ids))
        .select("doc_id").collect()
    }
    require(overlap.isEmpty,
      s"batch doc ids must be disjoint from the index; found " +
        s"overlapping doc_id ${overlap.head.get(0)}")
    def sided(df: DataFrame, side: String) = df.select(col("sh"),
      col("doc_id").as(s"id_$side"), col("n_sh").as(s"n_$side"))
    val (indexSide, y) =
      probeSides(index, batch, sided(batch.rows, "y"), Seq("sh"))
    def inters(x: DataFrame) = sided(x, "x").join(y, Seq("sh"))
    // index×batch pairs appear once; in-batch pairs restricted to
    // id_x < id_y so each unordered pair is scored once — BOTH
    // orientations are then emitted from the one scored row. One row
    // per batch-touching co-shingle pair — batch-bounded.
    def orient(a: String, b: String, n: String): Column = struct(
      col(a).as("doc_a"), col(b).as("doc_b"),
      (col("_i").cast("double") / col(n)).as("containment_a"))
    inters(indexSide).filter(col("id_x") =!= col("id_y"))
      .unionAll(inters(batch.rows).filter(col("id_x") < col("id_y")))
      .groupBy("id_x", "id_y", "n_x", "n_y")
      .agg(count(lit(1)).as("_i"))
      .select(inline(array(orient("id_x", "id_y", "n_x"),
        orient("id_y", "id_x", "n_y"))))
      .filter(col("containment_a") >= threshold)
  }

  /** Containment-recall governance audit — [[lshRecallAudit]]'s twin
    * for the ASYMMETRIC threshold the exact containment join grounds:
    * how many true containment-≥t ordered pairs does the banded
    * Jaccard-MinHash candidate generator actually surface? This number
    * is EXPECTED to be low — Jaccard-based LSH is blind to
    * low-Jaccard/high-containment pairs BY CONSTRUCTION (a half-doc
    * excerpt sits near J 0.5, far below the band S-curve's knee at
    * 0.8) — and that measured gap is precisely the governance row
    * justifying [[containmentJoinExact]] (or a dedicated containment
    * index) in an excerpt-dedup pipeline: "the dedup run's candidate
    * generator missed X% of whole-excerpt duplication" is a release-
    * sheet sentence, not a guess.
    *
    * Truth = the exact ordered containment pairs; a truth pair counts
    * as HIT when its unordered pair appears among the banded
    * candidates. Same merge-and-one-agg shape as the Jaccard audit;
    * run on an audit sample at 100 TB (the exact side prices by the
    * prefix df mass). */
  def containmentRecallAudit(docs: DataFrame, threshold: Double = 0.8,
      k: Int = 3, numHashes: Int = 8, bands: Int = 4,
      oracleHashes: Boolean = false): DataFrame = {
    // the exact join is lazy, as in lshRecallAudit. Candidates are
    // unordered (doc_a < doc_b); each truth pair orients onto that key
    // below.
    val truth = containmentJoinExact(docs, threshold, k)
      .select("doc_a", "doc_b").withColumn("_t", lit(1L))
    val cand = minhashCandidates(docs, k, numHashes, bands,
        minEstJaccard = 0.0, oracleHashes = oracleHashes)
      .select(col("doc_a").as("_lo"), col("doc_b").as("_hi"))
      .withColumn("_c", lit(1L))
    truth
      .withColumn("_lo", least(col("doc_a"), col("doc_b")))
      .withColumn("_hi", greatest(col("doc_a"), col("doc_b")))
      .join(cand, Seq("_lo", "_hi"), "left")
      .agg(
        count(lit(1)).cast("bigint").as("n_truth"),
        coalesce(sum("_c"), lit(0L)).cast("bigint").as("n_hit"))
      .select(lit(threshold).as("threshold"),
        col("n_truth"), col("n_hit"),
        when(col("n_truth") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_hit").cast("double") /
            col("n_truth").cast("double"), 6)).as("recall"))
  }

  def lshSensitivity(docs: DataFrame, k: Int = 3, numHashes: Int = 8,
      bands: Int = 4, oracleHashes: Boolean = false): DataFrame = {
    val hist = pairJaccardHist(docs, k, numHashes, bands, oracleHashes)
    val wDesc = Window.partitionBy(lit(0)).orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.select(col("bin"), col("bin_lo"), col("n_pairs"),
      sum("n_pairs").over(wDesc).cast("bigint").as("n_pairs_ge"),
      round(sum("n_pairs").over(wDesc).cast("double") /
        sum("n_pairs").over(Sampling.allRows).cast("double"), 6)
        .as("share_ge"))
  }

  /** 64-bit SimHash from token md5s: bit b of each token's hash votes ±1;
    * the sign of the per-bit vote sum is bit b of the signature (stored as
    * a 64-char bitstring — overflow-free and join-friendly). Near-dups have
    * small Hamming distance. md5 + hex→int is reproduced exactly by the
    * DuckDB oracle (CAST('0x'||hex AS BIGINT)). */
  def simhash(docs: DataFrame): DataFrame =
    // ONE native zero-shuffle projection (graft.functions.SimhashBits):
    // the signature is a per-row function of the text, so the previous
    // explode → md5 → 64-column vote aggregation paid a corpus-wide
    // shuffle (64 longs per doc) that never needed to exist. Parity with
    // the aggregate form (same split/empty-token, md5-word, vote, and
    // bit-order semantics) is pinned in MatchExpressionsSpec and by the
    // DuckDB oracle hash gate. coalesce keeps NULL-text docs in the
    // output, mirroring the old explode-keeping behavior.
    docs.select(col("doc_id"),
      graft.functions.SimhashBits.simhashBits(
        coalesce(col("text"), lit(""))).as("simhash_bits"))

  /** Hamming distance between two simhash bitstrings. Native codegen
    * expression ([[graft.functions.StringHamming]]) — result-identical to
    * the split + zip_with + filter chain, without the two per-row char
    * arrays and interpreted lambdas. */
  def hamming(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    graft.functions.MatchExpressions.stringHamming(a, b)

  /** SimHash near-duplicate PAIRS at hamming distance ≤ `maxHamming`, via
    * the pigeonhole multi-index (the classic web-dedup trick): split the
    * 64-bit signature into `blocks` equal substrings — two signatures
    * within `blocks − 1` differing bits must agree on AT LEAST one whole
    * block — bucket-join on (block_idx, block_bits), then exact hamming
    * rescore of the distinct candidate pairs. Requires
    * `maxHamming < blocks` or the guarantee (and recall) breaks.
    *
    * Scale shape: the only join is the block equi-join (the SimHash twin
    * of the MinHash band join) carrying (block, doc_id, 64-char sig);
    * never an all-pairs comparison. `maxBucketSize` is the same skew
    * guard as [[minhashCandidates]] — a degenerate block (e.g. all-zero
    * high bits across a template-heavy corpus) would emit m² pairs, so
    * over-cap buckets are excluded wholesale. */
  def simhashNearDup(
      docs: DataFrame, maxHamming: Int = 3, blocks: Int = 4,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(blocks > 0 && 64 % blocks == 0, "blocks must divide 64")
    require(maxHamming >= 0 && maxHamming < blocks,
      s"pigeonhole needs maxHamming < blocks (got $maxHamming ≥ $blocks)")
    val width = 64 / blocks
    // both self-join sides read the signatures — materialize once (same
    // rationale as minhashCandidates / cosineNearDup)
    val sigs = PipelineCaches.track(
      simhash(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    sigs.count()
    val blocked = sigs.select(col("doc_id"), col("simhash_bits"),
      posexplode(array((0 until blocks).map(b =>
        substring(col("simhash_bits"), b * width + 1, width)): _*))
        .as(Seq("block_idx", "block_bits")))
    val banded =
      if (maxBucketSize == Int.MaxValue) blocked
      else blocked.join(
        broadcast(blocked.groupBy("block_idx", "block_bits")
          .agg(count(lit(1)).as("_n")).filter(col("_n") > maxBucketSize)
          .select("block_idx", "block_bits")),
        Seq("block_idx", "block_bits"), "left_anti")
    val l = banded.select(col("block_idx"), col("block_bits"),
      col("doc_id").as("doc_a"), col("simhash_bits").as("sig_a"))
    val r = banded.select(col("block_idx"), col("block_bits"),
      col("doc_id").as("doc_b"), col("simhash_bits").as("sig_b"))
    l.join(r, Seq("block_idx", "block_bits"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sig_a", "sig_b").distinct()
      .select(col("doc_a"), col("doc_b"),
        hamming(col("sig_a"), col("sig_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** MinHash-LSH parameter planner — the (bands, rows) design card for a
    * dedup run: for every factorization b·r = `nSig`, the S-curve
    * P(match | s) = 1 − (1 − s^r)^b integrated on a midpoint grid gives
    * the false-positive area below `threshold` and the false-negative
    * area above it (Leskovec et al., MMDS §3.4); `is_best` marks the
    * minimum-total-error row. Run this BEFORE a corpus-sized LSH job:
    * banding is baked into every signature, so a mis-planned (b, r)
    * costs a full re-shingle at 100 TB.
    *
    * Cross-engine determinism: both `pow` results round to 12 dp (the
    * temperatureShares convention — last-ulp libm drift can't survive),
    * grid terms sum as DECIMAL, and the grid uses midpoints so no
    * sample ever sits exactly on the threshold. The relation is
    * divisors × grid rows — driver-trivial, expressed as a plan so the
    * card composes with the rest of the catalog. */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, nSig: Int,
      threshold: Double, gridSteps: Int = 100): DataFrame = {
    require(nSig > 0, s"signature length must be positive, got $nSig")
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0, 1), got $threshold")
    require(gridSteps > 0, s"gridSteps must be positive, got $gridSteps")
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val zero = lit(0).cast(dec)
    val combos = (1 to nSig).filter(nSig % _ == 0)
      .map(b => (b, nSig / b)).toDF("bands", "rows_per_band")
    val grid = spark.range(1, gridSteps + 1L)
      .select(((col("id").cast("double") - 0.5) / gridSteps).as("_s"))
    val terms = combos.crossJoin(grid)
      .withColumn("_sr",
        round(pow(col("_s"), col("rows_per_band").cast("double")), 12))
      .withColumn("_p", lit(1.0) -
        round(pow(lit(1.0) - col("_sr"), col("bands").cast("double")), 12))
      .withColumn("_fp", when(col("_s") < threshold,
        round(col("_p"), 12).cast(dec)).otherwise(zero))
      .withColumn("_fn", when(col("_s") >= threshold,
        round(lit(1.0) - col("_p"), 12).cast(dec)).otherwise(zero))
    val areas = terms.groupBy("bands", "rows_per_band")
      .agg(
        round(sum("_fp").cast("double") * (1.0 / gridSteps), 6).as("fp_area"),
        round(sum("_fn").cast("double") * (1.0 / gridSteps), 6).as("fn_area"))
      .withColumn("est_threshold",
        round(pow(lit(1.0) / col("bands").cast("double"),
          lit(1.0) / col("rows_per_band").cast("double")), 6))
      .withColumn("total_err", round(col("fp_area") + col("fn_area"), 6))
    areas.withColumn("is_best",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(lit(0)).orderBy(col("total_err"), col("bands"))) === 1)
      .select("bands", "rows_per_band", "est_threshold", "fp_area",
        "fn_area", "total_err", "is_best")
  }
}
