package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Corpus-curation operators a 100 TB training-data pipeline runs after
  * dedup (SURVEY §2.8 "beyond-reference" tier): benchmark decontamination,
  * repetition-based quality metrics, PII scrubbing, and duplicate-group
  * assignment over the MinHash candidate graph.
  *
  * Everything is Column algebra (codegen'd, partial-aggregation-friendly);
  * the only iteration is the star rounds of [[dupGroups]], which
  * checkpoint each round's edge set.
  */
/** A trained [[Curation.logisticQuality]] classifier as a persistable
  * artifact: the (bucket, weight) table (≤ buckets+1 rows, bucket -1 =
  * intercept) plus the training hyperparameters, mirroring
  * [[Bpe.BpeModel]]'s store shape. */
case class LrModel(weights: DataFrame, buckets: Int, iters: Int,
  lr: Double)

object Curation {

  /** Integral-doc_id schema guard for operators building Long composite
    * keys out of doc_id (chunk keys): a non-integral doc_id would cast
    * implicitly (double past 2^53 loses key ordering; a non-numeric
    * string casts to NULL and slips past data-level bounds checks). */
  private[graft] def requireIntegralDocId(docs: DataFrame, op: String)
      : Unit = {
    import org.apache.spark.sql.types._
    val dt = docs.schema("doc_id").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"$op needs an integral doc_id to build collision-free Long " +
        s"chunk keys; got ${dt.simpleString} — renumber doc ids first")
  }

  /** Distinct word k-grams per doc as (doc_id, gram_key) rows, gram_key =
    * md5(gram): constant-width join key (16 bytes vs arbitrary gram text —
    * the shuffle carries hashes, not prose) that DuckDB reproduces exactly
    * for the oracle. Docs shorter than k words contribute their whole text
    * as the single gram, mirroring [[Dedup]]'s shingle convention. */
  private def gramKeys(docs: DataFrame, k: Int): DataFrame =
    // Spread first (r18, guide §2.5): the kgram+md5 explode is the
    // per-row CPU cost and otherwise inherits a small scan's 1-2
    // splits; no-op whenever the input already has >= cores partitions
    graft.scale.Spread.byKey(docs, "doc_id")
      .withColumn("_t", coalesce(col("text"), lit("")))
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.Kgrams.kgrams(
          col("_t"), k, keepShortWhole = true))).as("_g"))
      .select(col("doc_id"), md5(col("_g")).as("gram_key"))

  /** Benchmark decontamination: flag training docs sharing any word k-gram
    * with a held-out benchmark set (the standard guard against test-set
    * leakage into pretraining data).
    *
    * Plan shape: the benchmark gram set is DISTINCT-ed and broadcast —
    * benchmarks are MB-scale by construction while the train side is the
    * 100 TB corpus, so the big side never shuffles; contamination is a
    * broadcast semi-join-shaped aggregation keyed by doc_id. */
  def decontaminate(train: DataFrame, benchmark: DataFrame, k: Int = 5)
      : DataFrame = {
    val benchGrams = gramKeys(benchmark, k).select("gram_key").distinct()
    val shared = gramKeys(train, k)
      .join(broadcast(benchGrams), Seq("gram_key"))
      .groupBy("doc_id")
      // gramKeys is distinct per doc, so count(*) = distinct shared grams
      .agg(count(lit(1)).as("n_shared"))
    train.select("doc_id")
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Build the benchmark's Bloom fingerprint: every distinct k-gram key
    * sets `hashes` bits (independent md5 slices mod mBits — see
    * [[graft.functions.BloomHit]]). The collect is bounded by mBits
    * DISTINCT positions (64k longs worst case, index-metadata-sized),
    * never by benchmark row count. */
  def bloomBits(benchmark: DataFrame, k: Int = 5,
      mBits: Int = 65536, hashes: Int = 3): Array[Long] = {
    require(mBits > 0 && mBits % 64 == 0,
      s"mBits must be a positive multiple of 64, got $mBits")
    require(hashes >= 1 && hashes <= 4,
      s"hashes must be in [1,4], got $hashes")
    val slices = (0 until hashes).map(j =>
      conv(substring(col("gram_key"), 1 + 8 * j, 8), 16, 10)
        .cast("long") % mBits)
    val positions = gramKeys(benchmark, k).select("gram_key").distinct()
      .select(explode(array(slices: _*)).as("_pos"))
      .distinct().collect().map(_.getLong(0))
    val bits = new Array[Long](mBits / 64)
    positions.foreach { p =>
      bits((p >>> 6).toInt) |= (1L << (p & 63).toInt)
    }
    bits
  }

  /** Bloom-fingerprint decontamination: [[decontaminate]]'s semantics with
    * the benchmark compressed to an mBits bitset instead of a broadcast
    * gram table — the shape for benchmarks too large (or too many: every
    * eval suite at once) to ship as a set, or for reuse across many
    * training runs (the fingerprint is a tiny, persistable artifact). A
    * gram "hits" when ALL `hashes` of its bit positions are set; a doc is
    * flagged when ANY gram hits. May over-flag (Bloom false positives —
    * safe in the contamination direction: a false positive only quarantines
    * a clean doc) but never under-flags; with deterministic md5-slice
    * positions the exact false-positive set is reproducible, and the
    * DuckDB oracle hash-gates it rather than waving at an error rate.
    *
    * Scale shape: the train side is ONE zero-join projection (the bitset
    * rides along as a codegen reference object) followed by the per-doc
    * aggregation — no benchmark-side join at any corpus size. */
  def decontaminateBloom(train: DataFrame, bits: Array[Long], k: Int = 5,
      mBits: Int = 65536, hashes: Int = 3): DataFrame = {
    val hitRows = gramKeys(train, k)
      .select(col("doc_id"), graft.functions.BloomExpressions
        .bloomHit(col("gram_key"), bits, mBits, hashes).as("_hit"))
      .groupBy("doc_id")
      .agg(sum(when(col("_hit"), 1L).otherwise(0L)).as("n_gram_hits"))
    train.select("doc_id")
      .join(hitRows, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_gram_hits"), lit(0L)).as("n_gram_hits"),
        (coalesce(col("n_gram_hits"), lit(0L)) > 0)
          .as("contaminated_bloom"))
  }

  /** Per-document n-gram NOVELTY against a reference corpus — the
    * memorization/contamination complement (Carlini et al. 2022's
    * k-gram overlap, the RefinedWeb release-sheet "fraction of test
    * n-grams seen in train"): for every TEST doc, how many of its
    * distinct word k-grams occur anywhere in TRAIN, and
    * novelty = 1 − seen/total. Novelty ~0 means the doc is effectively
    * memorized/leaked; ~1 means genuinely held out.
    *
    * Scale shape: the mirror of [[decontaminate]] — the TEST side is
    * the small one by construction, so its DISTINCT gram keys broadcast
    * to the train side; train grams semi-join against that broadcast
    * (the 100 TB side never shuffles) down to a test-bounded seen-key
    * set, which broadcasts back onto the per-test-doc gram table. Docs
    * with no text still count their whole-text gram (the [[Dedup]]
    * shingle convention); test docs absent from the gram table keep a
    * NULL novelty. */
  def ngramNovelty(train: DataFrame, test: DataFrame, k: Int = 8)
      : DataFrame = {
    val testGrams = PipelineCaches.track(gramKeys(test, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val distinctTest = testGrams.select("gram_key").distinct()
    val seen = gramKeys(train, k)
      .join(broadcast(distinctTest), Seq("gram_key"))
      .select("gram_key").distinct()
    val perDoc = testGrams
      .join(broadcast(seen.withColumn("_seen", lit(1L))),
        Seq("gram_key"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_seen"), lit(0L))).as("n_seen"))
    test.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).cast("bigint").as("n_grams"),
        coalesce(col("n_seen"), lit(0L)).cast("bigint").as("n_seen"),
        when(coalesce(col("n_grams"), lit(0L)) === 0,
          lit(null).cast("double"))
          .otherwise(round(lit(1.0) - col("n_seen").cast("double") /
            col("n_grams").cast("double"), 6)).as("novelty"))
  }

  /** Longest-verbatim-overlap contamination card — the LENGTH read the
    * contamination studies actually report (Lee et al. 2021 / GPT-3
    * appendix C style), where [[decontaminate]] answers yes/no and
    * [[ngramNovelty]] answers how-much: for each TEST doc, the longest
    * run of consecutive token positions whose k-grams all occur
    * somewhere in train, i.e. the longest shared verbatim token span
    * (≥ k, via run + k − 1; whole-short-doc matches cap at the doc's
    * own token count). A 50-token span is memorization evidence; five
    * scattered 8-gram hits are phrase reuse — this card separates them.
    *
    * Integer-exact end to end (run lengths via the pos − row_number
    * islands identity), so the oracle replays it bit-for-bit.
    *
    * Scale shape: [[ngramNovelty]]'s broadcast discipline — distinct
    * TEST gram keys broadcast to train, the seen-key set broadcasts
    * back onto the positional test gram stream; the 100 TB train side
    * never shuffles on gram keys. The islands window partitions by test
    * doc_id (benchmark-sized relation, per-doc partitions). */
  def contaminationSpan(train: DataFrame, test: DataFrame, k: Int = 8)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val grams = PipelineCaches.track(test
      .withColumn("_t", coalesce(col("text"), lit("")))
      .select(col("doc_id"),
        size(TextOps.tokens(col("_t"))).cast("bigint").as("n_tokens"),
        posexplode(graft.functions.Kgrams.kgrams(
          col("_t"), k, keepShortWhole = true)).as(Seq("pos", "_g")))
      .select(col("doc_id"), col("n_tokens"), col("pos"),
        md5(col("_g")).as("gram_key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val distinctTest = grams.select("gram_key").distinct()
    val seen = gramKeys(train, k)
      .join(broadcast(distinctTest), Seq("gram_key"))
      .select("gram_key").distinct()
    val hits = grams
      .join(broadcast(seen.withColumn("_hit", lit(1))), Seq("gram_key"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy(col("doc_id"), (col("pos") - col("_rn")).as("_isl"))
      .agg(count(lit(1)).as("_run"))
      .groupBy("doc_id").agg(
        sum("_run").cast("bigint").as("n_matched"),
        max("_run").as("_maxrun"))
    val perDoc = grams.groupBy("doc_id").agg(
      max("n_tokens").as("n_tokens"),
      count(lit(1)).cast("bigint").as("n_grams"))
    perDoc.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        // explicit NULL branch: least() SKIPS nulls in both engines, so
        // coalesce(least(NULL + k-1, n), 0) would silently yield n
        when(col("_maxrun").isNull, lit(0L))
          .otherwise(least(col("_maxrun") + lit(k - 1), col("n_tokens")))
          .cast("bigint").as("longest_span"))
      .withColumn("contam_frac", round(
        col("longest_span").cast("double") /
          col("n_tokens").cast("double"), 6))
  }

  /** DSIR data-selection importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw-corpus document by how target-domain-like its hashed
    * unigram distribution is. Features are md5-bucketed tokens (the
    * repo's cross-engine hash convention, `buckets` bins); the target
    * and raw bucket distributions get add-alpha smoothing, and a doc's
    * log importance weight is the sum over its tokens of
    * log p_target(bucket) - log p_raw(bucket). Resampling composes
    * downstream: feed exp(log_weight) to [[Sampling.weightedSample]]
    * (A-ES), exactly the paper's sampled-without-replacement step.
    *
    * Scale shape: both n-gram distributions are BUCKET-keyed partial
    * aggregations bounded by `buckets` (1024 rows, not corpus rows); the
    * per-bucket log-ratio table broadcasts; the only corpus-sized
    * shuffle is the per-doc weight aggregation keyed by doc_id. The
    * target corpus is typically MB-scale (a quality seed like wiki) but
    * nothing here requires it — both sides stream through the same
    * bounded-bucket agg. Docs with no tokens keep a NULL weight (rows
    * preserved, the decontaminate convention). */
  def dsirWeights(raw: DataFrame, target: DataFrame,
      buckets: Int = 1024, alpha: Double = 0.5): DataFrame =
    raw.select("doc_id")
      .join(dsirWeightsAgg(raw, target, buckets, alpha), Seq("doc_id"),
        "left")

  /** [[dsirWeights]] without the row-preserving join: one row per doc
    * WITH tokens. The DSL kernel path attaches this straight onto the
    * user relation (one corpus join instead of two). */
  private[graft] def dsirWeightsAgg(raw: DataFrame, target: DataFrame,
      buckets: Int = 1024, alpha: Double = 0.5): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(alpha > 0, s"alpha must be positive, got $alpha")
    def bucketed(df: DataFrame): DataFrame = df
      .withColumn("_t", coalesce(col("text"), lit("")))
      .select(col("doc_id"),
        explode(TextOps.tokens(col("_t"))).as("_w"))
      .select(col("doc_id"),
        (conv(substring(md5(col("_w")), 1, 8), 16, 10).cast("long")
          % buckets).as("_b"))
    val rawTok = bucketed(raw)
    val tgtC = bucketed(target).groupBy("_b").agg(count(lit(1)).as("_ct"))
    val rawC = rawTok.groupBy("_b").agg(count(lit(1)).as("_cr"))
    // <= `buckets` rows after the outer join; absent side counts are 0.
    // Totals ride whole-relation windows over the bucket-bounded joined
    // table: sum() skips NULLs, so sum(_ct) over the full join equals the
    // tgtC total exactly. Broadcast-agg totals here would plan BOTH
    // corpus tokenize passes twice (the same-lineage crossJoin trap —
    // see Sampling.allRows)
    val ratio = tgtC.join(rawC, Seq("_b"), "full")
      .withColumn("_nt", sum("_ct").over(Sampling.allRows).cast("double"))
      .withColumn("_nr", sum("_cr").over(Sampling.allRows).cast("double"))
      .select(col("_b"),
        (log((coalesce(col("_ct"), lit(0L)) + alpha) /
            (col("_nt") + alpha * buckets)) -
          log((coalesce(col("_cr"), lit(0L)) + alpha) /
            (col("_nr") + alpha * buckets))).as("_lw"))
    rawTok.join(broadcast(ratio), Seq("_b"))
      .groupBy("doc_id").agg(
        count(lit(1)).cast("bigint").as("n_tokens"),
        round(sum(col("_lw")), 6).as("log_weight"))
  }

  /** Discriminative quality classifier — [[dsirWeights]]' sibling on the
    * other side of the generative/discriminative divide: full-batch
    * gradient-descent LOGISTIC REGRESSION over hashed bag-of-words
    * features, trained entirely in-plan. The GPT-3/LLaMA-style curation
    * stage ("train a linear classifier on trusted-vs-raw pages, keep
    * what scores trusted") re-expressed as Spark aggregations whose
    * training arithmetic is EXACT: bucket counts are integers, weights
    * and probabilities live on a 6-dp decimal lattice, and every
    * gradient is an exact DECIMAL sum — so an independent engine can
    * replay all `iters` gradient steps bit-for-bit (the oracle does).
    *
    * Model: features are md5-bucketed unigram counts (the [[dsirWeights]]
    * bucket convention) plus an intercept carried as synthetic bucket -1
    * with count 1 per doc — one code path trains bias and weights. Each
    * step, with w on the 6-dp lattice:
    * score_d = Σ_b c_db·w_b (exact decimal), p_d = round(σ(score_d), 6),
    * g_b = Σ_d c_db·(p_d − y_d) (exact decimal),
    * w'_b = round(w_b − lr·g_b/n, 6). Rounding p and w each step is the
    * SPEC, not sloppiness: it pins the whole trajectory to a
    * cross-engine-reproducible lattice (the [[Similarity.embTopPc]]
    * exact-decimal discipline), at a precision far below any effect on
    * classifier quality.
    *
    * Scale shape: the classifier's entire view of the corpus is the
    * persisted (doc_id, y, bucket, count) relation — built once, read
    * `iters`+1 times. Weights are ≤ buckets+1 rows: they broadcast out
    * and the per-bucket gradient collects back (bounded metadata, the
    * centroid-table convention). Per iteration the distributed work is
    * one broadcast join + doc-keyed partial agg + doc-keyed join back +
    * bucket-keyed partial agg — no shuffle ever carries more than the
    * count relation, and nothing driver-side grows with the corpus. */
  def logisticQuality(docs: DataFrame, isPositive: Column,
      buckets: Int = 256, iters: Int = 5, lr: Double = 0.5): DataFrame = {
    val (c, wDf) = lrTrainImpl(docs, isPositive, buckets, iters, lr)
    scoreLrCounts(c, wDf)
  }

  /** Train only — the final (bucket, weight) table of
    * [[logisticQuality]]'s trajectory, for persisting via
    * [[saveLrModel]]. Production trains ONCE and audits/scores many
    * times against the store; retraining inside every audit (the r13
    * bench shape) triples the most expensive stage of the tier. */
  def lrWeights(docs: DataFrame, isPositive: Column,
      buckets: Int = 256, iters: Int = 5, lr: Double = 0.5): DataFrame = {
    val (_, wDf) = lrTrainImpl(docs, isPositive, buckets, iters, lr)
    wDf
  }

  /** Score a corpus against a trained/stored weight table — the apply
    * half of the classifier, shaped exactly like [[logisticQuality]]'s
    * final projection: one token explode + doc-keyed agg against the
    * broadcast weights. Buckets unseen at training time carry weight 0
    * (left join + coalesce), matching what training would have learned
    * for a never-hit bucket. */
  def scoreWithLr(docs: DataFrame, weights: DataFrame,
      buckets: Int = 256): DataFrame =
    scoreLrCounts(lrCounts(docs, lit(false), buckets), weights)

  /** The (doc_id, y, bucket, count) relation both training and scoring
    * read: md5-bucketed unigram counts + the intercept row (synthetic
    * bucket -1, count 1) per doc; counts as DECIMAL(12,0) so every
    * downstream product/sum stays exact decimal. NOT persisted here —
    * training persists it (read iters+1 times), scoring reads it once. */
  private def lrCounts(docs: DataFrame, isPositive: Column,
      buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    // Spread first (r18, guide §2.5): the token explode + md5 bucketing
    // is the tier's corpus-sized stage and otherwise inherits a small
    // scan's 1-2 splits; no-op at scale
    val base = graft.scale.Spread.byKey(docs, "doc_id")
      .select(col("doc_id"),
        when(isPositive, lit(1)).otherwise(lit(0)).as("_y"),
        coalesce(col("text"), lit("")).as("_t"))
    base
      .select(col("doc_id"), col("_y"),
        explode(TextOps.tokens(col("_t"))).as("_w"))
      .select(col("doc_id"), col("_y"),
        (conv(substring(md5(col("_w")), 1, 8), 16, 10).cast("long")
          % buckets).as("_b"))
      .groupBy("doc_id", "_y", "_b")
      .agg(count(lit(1)).cast("decimal(12,0)").as("_c"))
      .unionByName(base.select(col("doc_id"), col("_y"),
        lit(-1L).as("_b"), lit(1).cast("decimal(12,0)").as("_c")))
  }

  /** Final scoring projection over a count relation and a weight table:
    * (doc_id, n_tokens, score, prob, predicted). Left join so unseen
    * buckets score 0 instead of silently dropping their token counts. */
  private def scoreLrCounts(c: DataFrame, weights: DataFrame): DataFrame =
    c.join(broadcast(weights), Seq("_b"), "left")
      .withColumn("_wt0",
        coalesce(col("_wt"), lit(0).cast("decimal(18,6)")))
      .groupBy("doc_id").agg(
        sum(when(col("_b") >= 0, col("_c")).otherwise(lit(0)))
          .cast("bigint").as("n_tokens"),
        sum(col("_c") * col("_wt0")).as("_s"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("_s").cast("double"), 6).as("score"),
        round(lit(1.0) / (lit(1.0) + exp(-col("_s").cast("double"))), 6)
          .as("prob"),
        (col("_s") > 0).as("predicted"))

  /** Large-`buckets` evidence (BASELINE.md, "Round-15: classifier
    * large-buckets evidence"; measured at sf0.1 with a diversified token
    * space): 256 buckets / 257 occupied weights fits in min-of-3
    * 4.07 s; 2560 buckets / 2047 occupied weights in 3.19 s — flat
    * within host noise. The per-iteration driver collect is ≤
    * occupied-buckets rows of metadata and the re-literalized weight
    * table broadcasts, so neither grows a measurable cost at 10× the
    * bucket budget; the single corpus-sized stage (the persisted,
    * doc_id-partitioned count relation) dominates regardless. The
    * current one-job-per-iteration shape is the right one — a
    * treeAggregate-style fold would save only the bounded collect it
    * already pays. */
  private def lrTrainImpl(docs: DataFrame, isPositive: Column,
      buckets: Int, iters: Int, lr: Double): (DataFrame, DataFrame) = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(lr > 0, s"lr must be positive, got $lr")
    val spark = docs.sparkSession
    // persist PRE-PARTITIONED on doc_id: every iteration's sigmoid agg
    // and gradient join-back are doc_id-keyed, so the cached
    // partitioning satisfies both and no iteration ever re-shuffles
    // the corpus-sized count relation (measured 4.66s -> see floor)
    val c = PipelineCaches.track(lrCounts(docs, isPositive, buckets)
      .repartition(col("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val n = docs.count()
    require(n > 0, "logisticQuality: empty corpus")
    // occupied buckets only: an unhit bucket's gradient is 0 forever, so
    // its weight stays 0 — bounded driver state (<= buckets + 1 rows)
    val bSet: Seq[Long] = c.select("_b").distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    var w: Map[Long, BigDecimal] =
      bSet.map(_ -> BigDecimal(0).setScale(6)).toMap
    // re-literalized per step via plain strings -> DECIMAL(18,6): exact,
    // and each iteration's lineage starts from a literal weight table
    // instead of the whole training history
    def wDf: DataFrame = {
      import spark.implicits._
      w.toSeq.map { case (b, v) => (b, v.underlying.toPlainString) }
        .toDF("_b", "_ws")
        .select(col("_b"), col("_ws").cast("decimal(18,6)").as("_wt"))
    }
    for (_ <- 1 to iters) {
      val p = c.join(broadcast(wDf), Seq("_b"))
        .groupBy("doc_id").agg(max("_y").as("_y"),
          sum(col("_c") * col("_wt")).as("_s"))
        .select(col("doc_id"), col("_y"),
          round(lit(1.0) / (lit(1.0) + exp(-col("_s").cast("double"))), 6)
            .cast("decimal(18,6)").as("_p"))
      val g = c.join(p.select("doc_id", "_p"), Seq("doc_id"))
        .groupBy("_b")
        .agg(sum(col("_c") * (col("_p") - col("_y"))).as("_g"))
        .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
      // the double expression mirrors the oracle's
      // round(w - lr*g/n, 6) verbatim; BigDecimal(double).setScale is
      // Spark's own Round semantic for DoubleType
      w = w.map { case (b, wv) =>
        val gd = g.get(b).map(_.doubleValue).getOrElse(0.0)
        b -> BigDecimal(wv.doubleValue - lr * gd / n)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
    }
    (c, wDf)
  }

  /** Persist a trained classifier: the (bucket, weight) table plus a
    * one-row meta (buckets, iters, lr) — the [[graft.llm.Bpe.saveBpeModel]]
    * trained-artifact layout. Refreshing a LIVE store goes through
    * [[graft.scale.StoreMaint.replaceStore]]; this writes the initial
    * layout. */
  def saveLrModel(model: LrModel, path: String): Unit = {
    model.weights.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/weights")
    val spark = model.weights.sparkSession
    spark.range(1).select(
      lit(model.buckets).as("buckets"),
      lit(model.iters).as("iters"),
      lit(model.lr).as("lr"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Reload a persisted classifier. The weight table is bounded
    * (≤ buckets+1 rows) and broadcasts at every scoring site. */
  def loadLrModel(spark: org.apache.spark.sql.SparkSession,
      path: String): LrModel = {
    val meta = spark.read.parquet(s"$path/meta").collect()(0)
    LrModel(spark.read.parquet(s"$path/weights"),
      meta.getAs[Int]("buckets"), meta.getAs[Int]("iters"),
      meta.getAs[Double]("lr"))
  }

  /** Domain long-tail coverage card — [[concentrationCard]]'s
    * complement (HHI/Gini say how concentrated the head is; THIS says
    * how long the tail is): the number of domains, largest-first, needed
    * to cover 50 / 90 / 99% of total token mass, with each cutoff's
    * exact covered share. A corpus where 3 of 900 sources carry 90% of
    * tokens and the remaining 897 carry noise is a different curation
    * problem from a flat one — this row is how release sheets say which.
    *
    * All-integer decisions: a domain counts toward the k% cutoff while
    * 100·cum_tokens < k·total_tokens fails, i.e. the cutoff rank is the
    * first where 100·cum ≥ k·total — integer comparisons only, the
    * ks_drift cross-multiplication trick. One map-side domain agg; the
    * rank windows see only the domain-count table. */
  def domainTailCard(docs: DataFrame, groupCol: String = "source")
      : DataFrame = {
    val dom = docs
      .select(col(groupCol).as("_d"),
        TextOps.tokenCount(coalesce(col("text"), lit("")))
          .cast("long").as("_t"))
      .groupBy("_d").agg(sum("_t").as("_tok"))
    // deliberate single-partition windows over the domain-count table
    // (bounded by domain cardinality — the Sampling.allRows convention)
    val wCum = Window.partitionBy(lit(0))
      .orderBy(col("_tok").desc, col("_d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(lit(0))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = dom
      .withColumn("_cum", sum("_tok").over(wCum))
      .withColumn("_tot", sum("_tok").over(wAll))
      .withColumn("_rk", row_number().over(Window.partitionBy(lit(0))
        .orderBy(col("_tok").desc, col("_d").asc)))
    val cuts = Seq(50, 90, 99)
    val aggs = cuts.flatMap { k =>
      val reached = col("_cum") * 100 >= col("_tot") * k
      Seq(
        min(when(reached, col("_rk"))).cast("bigint")
          .as(s"domains_p$k"),
        round(min(when(reached, col("_cum"))).cast("double") /
          max("_tot").cast("double"), 6).as(s"share_p$k"))
    }
    ranked.agg(
      count(lit(1)).cast("bigint").as("n_domains"),
      (max("_tot").cast("bigint").as("total_tokens") +: aggs): _*)
  }

  /** Exact-dup token-savings card — the number release notes actually
    * quote ("dedup removed X% of tokens"): group by content
    * fingerprint, keep the smallest doc_id per group (the established
    * keeper policy), and price everything else in docs AND tokens.
    * [[dupSizeCard]] describes the group-size distribution; this card
    * prices it.
    *
    * One fingerprint-keyed agg carrying (count, token sum, min id,
    * keeper's tokens) — per-group state is four numbers, and the final
    * card is a 1-row aggregate over the group table. All-integer. */
  def dedupSavings(docs: DataFrame): DataFrame = {
    val t = TextOps.tokenCount(coalesce(col("text"), lit("")))
      .cast("long")
    val groups = docs
      .select(md5(coalesce(col("text"), lit(""))).as("_fp"),
        col("doc_id"), t.as("_t"))
      .groupBy("_fp").agg(
        count(lit(1)).as("_n"),
        sum("_t").as("_tok"),
        // identical text -> identical token count, so the keeper's
        // tokens are any member's tokens
        min("_t").as("_keepTok"))
    groups.agg(
        sum("_n").cast("bigint").as("n_docs"),
        count(lit(1)).cast("bigint").as("n_distinct"),
        sum("_tok").cast("bigint").as("tokens_total"),
        sum(col("_tok") - col("_keepTok")).cast("bigint")
          .as("tokens_saved"))
      .select(col("n_docs"), col("n_distinct"),
        (col("n_docs") - col("n_distinct")).cast("bigint")
          .as("n_dup_docs"),
        col("tokens_total"), col("tokens_saved"),
        round(col("tokens_saved").cast("double") /
          col("tokens_total").cast("double"), 6).as("saved_frac"))
  }

  /** Corpus snapshot diff — the release CHANGELOG between two corpus
    * versions ([[corpusReport]] describes one snapshot; release
    * engineering needs what moved between two): per status
    * added/removed/changed/unchanged, doc counts and old/new/delta
    * token masses, decided by doc_id presence and an md5 content
    * fingerprint. The row a "what changed since v1.2" audit actually
    * reads; all-integer.
    *
    * Scale shape: each side reduces to (doc_id, fingerprint,
    * token_count) — constant width regardless of document size — and
    * the diff is one doc_id-keyed full join + a 4-group agg. Nothing
    * carries text past the fingerprint projection. */
  def corpusDiff(oldCorpus: DataFrame, newCorpus: DataFrame): DataFrame = {
    def prep(df: DataFrame, f: String, t: String): DataFrame =
      df.select(col("doc_id"),
        md5(coalesce(col("text"), lit(""))).as(f),
        TextOps.tokenCount(coalesce(col("text"), lit("")))
          .cast("long").as(t))
    prep(oldCorpus, "_fa", "_ta")
      .join(prep(newCorpus, "_fb", "_tb"), Seq("doc_id"), "full")
      .withColumn("status",
        when(col("_fa").isNull, lit("added"))
          .when(col("_fb").isNull, lit("removed"))
          .when(col("_fa") === col("_fb"), lit("unchanged"))
          .otherwise(lit("changed")))
      .groupBy("status").agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        coalesce(sum("_ta"), lit(0L)).cast("bigint").as("tokens_old"),
        coalesce(sum("_tb"), lit(0L)).cast("bigint").as("tokens_new"))
      .withColumn("token_delta",
        (col("tokens_new") - col("tokens_old")).cast("bigint"))
  }

  /** Calibration audit of [[logisticQuality]] — the reliability-diagram
    * card (Guo et al. 2017's ECE read): bin every doc by predicted
    * probability (decile bins, INTEGER-exact off the 6-dp probability
    * lattice — no float×10 boundary hazard), compare each bin's mean
    * predicted probability against its empirical positive rate, and
    * close with a NULL-bin total row whose gap column is the expected
    * calibration error. Train in-plan, audit in-plan: a quality filter
    * whose threshold means what it says, or a card that shows it
    * doesn't.
    *
    * Scale shape: one extra doc-keyed join + a bins-bounded agg on top
    * of the classifier's own envelope; everything after the per-bin agg
    * reads a ≤ bins-row card. */
  def calibrationCard(docs: DataFrame, isPositive: Column,
      buckets: Int = 256, iters: Int = 5, lr: Double = 0.5): DataFrame =
    calibrationFromScored(
      logisticQuality(docs, isPositive, buckets, iters, lr),
      docs.select(col("doc_id"),
        when(isPositive, lit(1L)).otherwise(lit(0L)).as("_y")))

  /** [[calibrationCard]] over an ALREADY-SCORED relation (the
    * production shape: score once against the [[loadLrModel]] store,
    * audit many). `y` = (doc_id, _y ∈ {0,1}). */
  def calibrationFromScored(scored: DataFrame, y: DataFrame): DataFrame = {
    val perBin = scored.join(y, Seq("doc_id"))
      .withColumn("_pd", col("prob").cast("decimal(18,6)"))
      .withColumn("bin",
        least(floor(col("_pd") * 10).cast("int"), lit(9)))
      .groupBy("bin").agg(
        count(lit(1)).cast("bigint").as("n"),
        sum("_y").cast("bigint").as("n_pos"),
        round(sum("_pd").cast("double") / count(lit(1)), 6)
          .as("mean_prob"),
        round(sum("_y").cast("double") / count(lit(1)), 6).as("frac_pos"))
      .withColumn("gap",
        round(abs(col("mean_prob") - col("frac_pos")), 6))
    val total = perBin.agg(
        sum("n").cast("bigint").as("n"),
        sum("n_pos").cast("bigint").as("n_pos"),
        round(sum(col("gap") * col("n")) / sum("n"), 6).as("gap"))
      .select(lit(null).cast("int").as("bin"), col("n"), col("n_pos"),
        lit(null).cast("double").as("mean_prob"),
        lit(null).cast("double").as("frac_pos"), col("gap"))
    perBin.select("bin", "n", "n_pos", "mean_prob", "frac_pos", "gap")
      .unionByName(total)
  }

  /** Exact ROC-AUC of [[logisticQuality]] via the Mann–Whitney U
    * identity — [[calibrationCard]] audits whether the probabilities
    * MEAN anything; this audits whether the RANKING works (a filter
    * keeps the top X%, so ranking quality is the operational metric).
    * Tie handling is the textbook half-credit, computed ALL-INTEGER on
    * the 6-dp score lattice: over the (score, n_pos, n_neg) histogram,
    * 2U = Σ_s n_pos(s) · (2·Σ_{s'<s} n_neg(s') + n_neg(s)), and
    * AUC = 2U / (2·n_pos·n_neg) — one division at the very end, so the
    * oracle replays the statistic bit-for-bit.
    *
    * One-row card: n_pos, n_neg, u2 (the integer 2U — the auditable
    * raw statistic), auc. Degenerate one-class corpora get NULL auc
    * (never a fake 0.5). Scale shape: the classifier's envelope + a
    * score-histogram agg whose size is bounded by distinct 6-dp scores,
    * with the cumulative window over that histogram only. */
  def classifierAuc(docs: DataFrame, isPositive: Column,
      buckets: Int = 256, iters: Int = 5, lr: Double = 0.5): DataFrame =
    aucFromScored(logisticQuality(docs, isPositive, buckets, iters, lr),
      docs.select(col("doc_id"),
        when(isPositive, lit(1L)).otherwise(lit(0L)).as("_y")))

  /** [[classifierAuc]] over an ALREADY-SCORED relation (score once
    * against the [[loadLrModel]] store, audit many). `y` = (doc_id,
    * _y ∈ {0,1}). */
  def aucFromScored(scored: DataFrame, y: DataFrame): DataFrame = {
    // histogram on the exact decimal score (finer than prob and
    // monotone-equivalent: same AUC, fewer tie groups)
    val hist = scored.join(y, Seq("doc_id"))
      .select(round(col("score"), 6).cast("decimal(18,6)").as("_s"),
        col("_y"))
      .groupBy("_s").agg(
        sum("_y").cast("bigint").as("_np"),
        sum(lit(1L) - col("_y")).cast("bigint").as("_nn"))
    // deliberate single-partition window over the score HISTOGRAM only
    // (the Sampling.allRows convention — bounded by distinct 6-dp scores)
    val cum = hist.withColumn("_nnBelow",
      coalesce(sum("_nn").over(Window.partitionBy(lit(0)).orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    cum.agg(
        sum("_np").cast("bigint").as("n_pos"),
        sum("_nn").cast("bigint").as("n_neg"),
        sum(col("_np") * (lit(2L) * col("_nnBelow") + col("_nn")))
          .cast("bigint").as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        when(col("n_pos") === 0 || col("n_neg") === 0,
          lit(null).cast("double"))
          .otherwise(round(col("u2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc"))
  }

  /** Gopher-style repetition metrics per doc: duplicate-word ratio,
    * most-frequent-bigram mass fraction, and singleton-word fraction. High
    * dup ratio / top-bigram mass marks boilerplate and degenerate repeated
    * text; all three are order-independent aggregates (round(6) so the
    * oracle compares bitwise).
    *
    * Two explode→partial-agg pipelines (words, bigrams) joined on doc_id:
    * the shuffles carry (doc_id, token) counts, never the text. */
  def repetitionMetrics(docs: DataFrame): DataFrame = {
    // every metric is a per-row function of the text, so the whole
    // operator is ONE zero-shuffle projection over the fused
    // graft.functions.TokenStats pass — the previous two explode →
    // partial-agg → join pipelines shuffled (doc_id, token) counts at
    // corpus scale for nothing. Parity (token/bigram construction,
    // <2-word docs → fraction 0) is pinned in MatchExpressionsSpec and
    // by the DuckDB oracle gate.
    docs
      .withColumn("_s", graft.functions.TokenStats.tokenStats(
        coalesce(col("text"), lit(""))))
      .select(col("doc_id"),
        col("_s.n_words").as("n_words"),
        round(lit(1.0) -
          col("_s.n_distinct") / col("_s.n_words").cast("double"), 6)
          .as("dup_word_ratio"),
        round(col("_s.n_single") / col("_s.n_words").cast("double"), 6)
          .as("singleton_word_frac"),
        when(col("_s.n_bigrams") > 0,
          round(col("_s.top_bigram") / col("_s.n_bigrams").cast("double"), 6))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1, adapted
    * to a whitespace corpus): word-count band, mean-word-length band,
    * stopword floor, and top-word dominance cap (the "repetition" signal
    * at word granularity). Each rule is emitted as its own boolean next to
    * the metric it tests, plus the conjunctive `keep` — a pipeline can
    * audit WHY a doc dropped, not just that it did.
    *
    * Pure per-row projection: the dominance fraction is computed with
    * array HOFs over the materialized token array (O(distinct × n) per
    * row), so the operator has ZERO shuffles at any corpus size. Rules
    * compare the round(6) metrics, so the DuckDB oracle replays the
    * booleans bit-for-bit. */
  def gopherFilter(
      docs: DataFrame,
      minWords: Int = 50, maxWords: Int = 100000,
      minAvgWordLen: Double = 2.0, maxAvgWordLen: Double = 10.0,
      minStopwordHits: Int = 2, maxTopWordFrac: Double = 0.2): DataFrame = {
    // counts come from the fused TokenStats pass: the old top-word chain
    // (array_max over transform/filter) was interpreted AND
    // O(distinct × n) per row where the hash count is O(n)
    val base = docs
      .withColumn("_t", coalesce(col("text"), lit("")))
      .withColumn("_s", graft.functions.TokenStats.tokenStats(col("_t")))
    val n = col("_s.n_words")
    // identical to TextOps.avgTokenLen but from the TokenStats count —
    // the Column form re-splits the text twice for its own tokenCount
    val avgLen =
      (length(col("_t")) - (n - 1)).cast("double") / n
    base.select(
      col("doc_id"),
      n.cast("bigint").as("n_words"),
      round(avgLen, 6).as("avg_word_len"),
      col("_s.n_stopwords").cast("bigint").as("stopword_hits"),
      round(col("_s.top_word").cast("double") / n, 6).as("top_word_frac"))
      .withColumn("ok_words",
        col("n_words").between(minWords, maxWords))
      .withColumn("ok_avg_len",
        col("avg_word_len").between(minAvgWordLen, maxAvgWordLen))
      .withColumn("ok_stopwords", col("stopword_hits") >= minStopwordHits)
      .withColumn("ok_top_word", col("top_word_frac") <= maxTopWordFrac)
      .withColumn("keep", col("ok_words") && col("ok_avg_len") &&
        col("ok_stopwords") && col("ok_top_word"))
  }

  /** C4-style page-level cleaning rules (Raffel et al. 2020 §2.2,
    * adapted to doc granularity on a whitespace corpus): the boilerplate
    * MARKER drops — "lorem ipsum" placeholder text, a curly brace
    * (source code), cookie/privacy-policy phrases, and
    * enable-javascript notices — plus the minimum-length floor (C4's
    * ≥-5-words-per-line rule at page granularity). Like
    * [[gopherFilter]], every rule is emitted as its own boolean next to
    * the conjunctive `keep`, so a pipeline audits WHY a page dropped.
    *
    * Marker matching is case-insensitive over a ONE-pass lowered copy of
    * the text; each marker family is a plain `contains` disjunction —
    * substring scans, no regex engine in the hot path. Pure per-row
    * projection: ZERO shuffles at any corpus size, and every output is
    * integer/boolean so the DuckDB oracle replays bit-for-bit. */
  private val LoremMarkers = Seq("lorem ipsum")
  private val PolicyMarkers = Seq(
    "privacy policy", "cookie policy", "terms of use", "uses cookies")
  private val JsMarkers = Seq("enable javascript", "javascript required")

  /** [[c4Rules]]'s page-level keep predicate as ONE reusable Column over
    * the `text` column — the zero-join form compositions filter with
    * (the release-sheet pipeline applies it straight on its persisted
    * base relation instead of joining the audit card back by doc_id).
    * Kept definitionally identical to `c4Rules(...).filter(col("keep"))`
    * by sharing the marker lists; `CurationSpec` pins the equality. */
  def c4Keep(minWords: Int = 5): Column = {
    val lowered = lower(coalesce(col("text"), lit("")))
    def anyMarker(markers: Seq[String]): Column =
      markers.map(m => lowered.contains(m)).reduce(_ || _)
    val nWords = graft.functions.TokenStats
      .tokenStats(coalesce(col("text"), lit("")))
      .getField("n_words").cast("bigint")
    (nWords >= minWords) && !anyMarker(LoremMarkers) &&
      !lowered.contains("{") && !anyMarker(PolicyMarkers) &&
      !anyMarker(JsMarkers)
  }

  def c4Rules(docs: DataFrame, minWords: Int = 5): DataFrame = {
    val lowered = lower(coalesce(col("text"), lit("")))
    def anyMarker(markers: Seq[String]): Column =
      markers.map(m => lowered.contains(m)).reduce(_ || _)
    docs
      .withColumn("n_words",
        graft.functions.TokenStats.tokenStats(coalesce(col("text"), lit("")))
          .getField("n_words").cast("bigint"))
      .withColumn("has_lorem", anyMarker(LoremMarkers))
      .withColumn("has_brace", lowered.contains("{"))
      .withColumn("has_policy", anyMarker(PolicyMarkers))
      .withColumn("has_js", anyMarker(JsMarkers))
      .withColumn("ok_words", col("n_words") >= minWords)
      .select(col("doc_id"), col("n_words"), col("has_lorem"),
        col("has_brace"), col("has_policy"), col("has_js"), col("ok_words"))
      .withColumn("keep", col("ok_words") && !col("has_lorem") &&
        !col("has_brace") && !col("has_policy") && !col("has_js"))
  }

  /** Exact-duplicate group-size distribution card — one row per group
    * size: how many identical-text groups have that size, how many docs
    * they hold, and their corpus share. The release-sheet view of
    * duplication (Dolma/RefinedWeb report exactly this table): a heavy
    * tail of large groups means crawl explosion, share at size 1 is the
    * unique fraction.
    *
    * Scale shape: one md5-fingerprint aggregation over the corpus (the
    * exactDedup key), then a size-keyed rollup on the group table; the
    * share total rides a whole-relation window over the size-
    * distribution table — a handful of rows at any corpus size. */
  def dupSizeCard(docs: DataFrame): DataFrame = {
    val sizes = docs
      .withColumn("_fp", md5(coalesce(col("text"), lit(""))))
      .groupBy("_fp").agg(count(lit(1)).as("_sz"))
    sizes.groupBy(col("_sz").as("group_size"))
      .agg(count(lit(1)).cast("bigint").as("n_groups"),
        sum("_sz").cast("bigint").as("n_docs"))
      .withColumn("share",
        round(col("n_docs").cast("double") /
          sum("n_docs").over(Sampling.allRows).cast("double"), 6))
  }

  /** Domain-concentration card — ONE row of crawl-governance numbers
    * over a domain/source column: document count, domain count,
    * Herfindahl–Hirschman index (Σ share², the antitrust concentration
    * measure — 1/k at perfect balance, 1.0 when one domain owns the
    * corpus), the population Gini coefficient of per-domain mass, and
    * the top-1 / top-10 domain shares. The release-sheet answer to
    * "is this corpus secretly one website?" — RefinedWeb/Dolma report
    * exactly these top-domain tables.
    *
    * Exactly oracle-replayable: every statistic reduces to INTEGER
    * sums over the per-domain count table — HHI's numerator is
    * Σ cnt² and Gini's is 2·Σ rank·cnt − (k+1)·Σ cnt with ranks
    * ascending by (count, domain) — ties swap equal values between
    * ranks, so the sum is order-stable. Floats appear only in the
    * final 6-dp ratio rounding. NULL domains are excluded. Counts
    * must stay < 3·10⁹ so Σ cnt² fits in BIGINT.
    *
    * Scale shape: one map-side-combined domain aggregation over the
    * corpus; the rank windows and the closing 1-row aggregate run on
    * the domain-bounded count table, never the corpus. */
  def concentrationCard(docs: DataFrame, domainCol: String): DataFrame = {
    val counts = PipelineCaches.track(docs
      .filter(col(domainCol).isNotNull)
      .groupBy(col(domainCol).as("_d")).agg(count(lit(1)).as("_c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // deliberate single-partition rank over the domain-bounded count
    // table — partitionBy(lit(0)) is the repo convention for bounded
    // collapses (see Sampling.allRows) and silences the planner's
    // moving-all-data warning
    val wAsc = Window.partitionBy(lit(0)).orderBy(col("_c").asc, col("_d").asc)
    val wDesc = Window.partitionBy(lit(0)).orderBy(col("_c").desc, col("_d").asc)
    counts
      .withColumn("_r", row_number().over(wAsc))
      .withColumn("_rd", row_number().over(wDesc))
      .agg(
        sum("_c").as("_n"), count(lit(1)).as("_k"),
        sum(col("_c") * col("_c")).as("_s2"),
        sum(col("_r") * col("_c")).as("_rx"),
        max("_c").as("_mx"),
        sum(when(col("_rd") <= 10, col("_c")).otherwise(0L)).as("_t10"))
      .select(
        col("_n").cast("bigint").as("n_docs"),
        col("_k").cast("bigint").as("n_domains"),
        round(col("_s2").cast("double") /
          (col("_n").cast("double") * col("_n").cast("double")), 6)
          .as("hhi"),
        round((lit(2L) * col("_rx") - (col("_k") + 1L) * col("_n"))
            .cast("double") /
          (col("_k").cast("double") * col("_n").cast("double")), 6)
          .as("gini"),
        round(col("_mx").cast("double") / col("_n").cast("double"), 6)
          .as("top1_share"),
        round(col("_t10").cast("double") / col("_n").cast("double"), 6)
          .as("top10_share"))
  }

  /** THE RELEASE SHEET — the governance tier composed the way a
    * pretraining-data team ships it (the Dolma/RefinedWeb release
    * artifact): C4 page filter → exact-dedup groups → leakage-safe
    * train/val/test split, then FIVE release cards (per-split volumes,
    * train-split packing plan at `seqLen`, per-(lang, source) ROLLUP
    * report, dup-size distribution, source concentration), normalized
    * to one (section, row_key, n1, n2, v1, v2) sheet schema so a single
    * hash gate covers every card.
    *
    * Scale shape: the corpus is scanned ONCE — the C4-kept base
    * persists and every stage/card reads the cache (PlanAuditSpec pins
    * `Scan parquet` ≤ 1 in the whole sheet plan); all joins are the
    * doc_id split attach and the bounded dup-count attach. Input needs
    * doc_id, lang, source, n_chars, text. */
  def releaseSheet(docs: DataFrame, seqLen: Int = 64,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val kept = PipelineCaches.track(docs
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"), col("text"))
      .filter(c4Keep(minWords = 5))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    releaseCards(kept, seqLen, trainPct, valPct)
  }

  /** [[releaseSheet]] with the CLASSIFIER as the page filter — the
    * GPT-3/LLaMA pipeline shape the classifier tier exists for: keep
    * the top `keepSharePct`% of docs by stored-[[LrModel]] score (an
    * absolute prob cut is the wrong production filter — a classifier's
    * calibration drifts with the corpus mix, so real pipelines rank
    * and keep a share), then ship the same five governance cards.
    *
    * The cutoff is the exact type-1 (100−keepSharePct) percentile off
    * the 6-dp score histogram — integer cross-multiplied comparisons
    * on a decimal lattice, so DuckDB replays the threshold bit-for-bit;
    * ties at the cutoff are all kept (deterministic, never a
    * rank-order lottery). The corpus still scans ONCE: the projected
    * base persists first, the scoring pass and keep-join read the
    * cache, every card reads the kept cache; the histogram and its
    * windows are bounded by distinct 6-dp scores. */
  def releaseSheetScored(docs: DataFrame, weights: DataFrame,
      buckets: Int = 256, keepSharePct: Int = 50, seqLen: Int = 64,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(keepSharePct >= 1 && keepSharePct <= 100,
      s"keepSharePct must be in [1,100], got $keepSharePct")
    val base = PipelineCaches.track(docs
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val scored = PipelineCaches.track(
      scoreWithLr(base, weights, buckets)
        .select(col("doc_id"),
          col("score").cast("decimal(18,6)").as("_s"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val wCum = Window.partitionBy(lit(0)).orderBy("_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cut = scored.groupBy("_s").agg(count(lit(1)).as("_c"))
      .withColumn("_cum", sum("_c").over(wCum))
      .withColumn("_n", sum("_c").over(Sampling.allRows))
      // smallest s with 100*cum >= n*(100-keep): everything >= s is
      // the kept top share (plus cutoff ties)
      .agg(min(when(col("_cum") * 100 >= col("_n") * (100 - keepSharePct),
        col("_s"))).as("_cut"))
    val kept = PipelineCaches.track(base
      .join(scored.crossJoin(broadcast(cut))
        .filter(col("_s") >= col("_cut")).select("doc_id"),
        Seq("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    releaseCards(kept, seqLen, trainPct, valPct)
  }

  /** The five-card sheet over an already-persisted kept base —
    * [[releaseSheet]]'s body, shared by the C4-filtered and
    * classifier-scored variants so the two can never drift. */
  private def releaseCards(kept: DataFrame, seqLen: Int,
      trainPct: Int, valPct: Int): DataFrame = {
    val wAll = Window.partitionBy(lit(0)) // bounded card-row collapse
    val splits = leakageSafeSplit(
      TextOps.exactDedup(kept).select("doc_id", "dup_group"),
      trainPct, valPct).select("doc_id", "split")
    val keptSplit = PipelineCaches.track(kept
      .join(splits, Seq("doc_id"))
      .withColumn("n_tokens",
        TextOps.tokenCount(coalesce(col("text"), lit(""))).cast("bigint"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nullD = lit(null).cast("double")
    val splitCard = keptSplit.groupBy("split")
      .agg(count(lit(1)).cast("bigint").as("n1"),
        sum("n_tokens").cast("bigint").as("n2"))
      .select(lit("split").as("section"), col("split").as("row_key"),
        col("n1"), col("n2"),
        round(col("n1").cast("double") /
          sum("n1").over(wAll).cast("double"), 6).as("v1"),
        nullD.as("v2"))
    val packCard = TextOps
      .packPlan(keptSplit.filter(col("split") === "train"), seqLen)
      .select(lit("pack").as("section"),
        lit(s"train_seq$seqLen").as("row_key"),
        col("packed_seqs").cast("bigint").as("n1"),
        col("overflow_tokens").cast("bigint").as("n2"),
        col("pad_waste_pct").cast("double").as("v1"),
        col("p90_tokens").cast("double").as("v2"))
    val reportCard = corpusReport(kept)
      .select(lit("report").as("section"),
        concat(coalesce(col("lang"), lit("ALL")), lit("/"),
          coalesce(col("source"), lit("ALL"))).as("row_key"),
        col("n_docs").as("n1"), col("total_tokens").as("n2"),
        col("avg_doc_tokens").cast("double").as("v1"),
        col("n_exact_dup").cast("double").as("v2"))
    val dupCard = dupSizeCard(kept)
      .select(lit("dup_size").as("section"),
        col("group_size").cast("string").as("row_key"),
        col("n_groups").as("n1"), col("n_docs").as("n2"),
        col("share").cast("double").as("v1"), nullD.as("v2"))
    val concCard = concentrationCard(kept, "source")
      .select(lit("concentration").as("section"),
        lit("source").as("row_key"),
        col("n_docs").as("n1"), col("n_domains").as("n2"),
        col("hhi").cast("double").as("v1"),
        col("gini").cast("double").as("v2"))
    splitCard.unionAll(packCard).unionAll(reportCard)
      .unionAll(dupCard).unionAll(concCard)
  }

  /** CCNet-style LM quality scoring (Wenzek et al. 2020): fit an
    * add-α-smoothed word-bigram language model on the corpus itself, then
    * score every document by its cross-entropy under that model —
    * boilerplate and degenerate text sit in the low-perplexity tail,
    * incoherent noise in the high tail, and a percentile cut on either
    * side is the standard quality filter. (CCNet uses a pretrained KenLM;
    * the corpus-fitted bigram model is the same scoring shape with the
    * fit expressed as two aggregations, no external model artifact.)
    *
    * P(cur|prev) = (c(prev,cur) + α) / (c(prev) + α·V), V = vocabulary
    * size; cross_entropy = −mean ln P over the doc's bigrams; perplexity
    * = exp(cross_entropy).
    *
    * Scale shape: the count relations are vocabulary-bounded (≤ V and
    * ≤ distinct-bigram rows — far below corpus size), so AQE broadcasts
    * them when small and falls back to shuffle joins when not; the only
    * corpus-sized shuffle is the per-doc aggregation keyed by doc_id.
    * The 1-row V relation is an explicit broadcast. Docs with < 2 tokens
    * have no bigrams: NULL entropy, rows preserved. */
  def lmPerplexity(docs: DataFrame, alpha: Double = 0.5): DataFrame =
    lmPerplexityAgainst(docs, docs, alpha)

  /** [[lmPerplexity]] with the FIT decoupled from the SCORE: the bigram
    * model fits on `lmCorpus` and scores `docs`. Self-scoring
    * (`lmCorpus eq docs`) is exactly the original operator — every
    * scored gram is then present in the counts, so the left joins below
    * never miss. Cross-scoring is the Moore–Lewis half: grams/tokens the
    * LM corpus never saw take count 0 and survive on the add-alpha
    * floor alone (P = alpha / (c_prev + alpha*V) — the standard
    * unseen-event smoothing, no special OOV token needed). */
  def lmPerplexityAgainst(docs: DataFrame, lmCorpus: DataFrame,
      alpha: Double = 0.5): DataFrame =
    docs.select("doc_id")
      .join(lmPerplexityAgainstAgg(docs, lmCorpus, alpha), Seq("doc_id"),
        "left")

  /** [[lmPerplexityAgainst]] without the row-preserving join: one row per
    * doc WITH >= 1 bigram ([[crossEntropyDelta]] composes two of these
    * and re-preserves rows once at the end). */
  private def lmPrep(df: DataFrame): DataFrame = df
    // NO spread here (r18, measured decline — the chunkRelation lesson):
    // the bigram explode is cheap per byte and the LM count relations
    // are vocabulary-bounded partial aggs, so the extra exchange cost
    // more than the parallelism bought (paired full-bench runs:
    // lm_perplexity 0.63→0.88, ce_delta 1.10→1.38, ccnet 1.22→1.35
    // with the spread; reverted)
    .withColumn("_t", coalesce(col("text"), lit("")))
    .withColumn("_w", TextOps.tokens(col("_t")))

  private def lmGrams(df: DataFrame): DataFrame = df.select(col("doc_id"),
    explode(graft.functions.Kgrams.kgrams(
      col("_t"), 2, keepShortWhole = false)).as("gram"))

  /** Persisted unigram count table of a prepped LM corpus. The persist
    * matters: the table has TWO consumers (the _prev count join and the
    * vocabulary-size V aggregate) and is vocabulary-bounded, while
    * unpersisted each consumer replays the corpus explode+aggregate —
    * ScanMeter measured the vdf reuse as a full extra corpus pass per
    * LM fit. */
  private def lmUnigrams(prepped: DataFrame): DataFrame =
    // explode_OUTER (r18): with a plain explode over the _w attribute,
    // InferFiltersFromGenerate adds size(_w) > 0 and pushdown
    // substitutes the alias — a SECOND full split of every corpus row
    // in a filter below the explode (plan-verified in the whole LM
    // family). _w = split(coalesce(text,''), ' ') is never null or
    // empty (split yields [''] on empty text), so the outer form is
    // value-identical and the rule skips it.
    PipelineCaches.track(prepped
      .select(explode_outer(col("_w")).as("_prev"))
      .groupBy("_prev").agg(count(lit(1)).as("_cu"))
      .persist(StorageLevel.MEMORY_AND_DISK))

  private[graft] def lmPerplexityAgainstAgg(docs: DataFrame,
      lmCorpus: DataFrame, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val lmBase = lmPrep(lmCorpus)
    val uni = lmUnigrams(lmBase)
    val vdf = uni.agg(count(lit(1)).cast("double").as("_v"))
    val bc = lmGrams(lmBase).groupBy("gram").agg(count(lit(1)).as("_cb"))
    val scored = lmGrams(lmPrep(docs))
      .join(bc, Seq("gram"), "left")
      .withColumn("_prev", split(col("gram"), " ").getItem(0))
      .join(uni, Seq("_prev"), "left")
      .crossJoin(broadcast(vdf))
      .withColumn("_lp",
        log((coalesce(col("_cb"), lit(0L)) + alpha) /
          (coalesce(col("_cu"), lit(0L)) + col("_v") * alpha)))
    scored.groupBy("doc_id").agg(
      count(lit(1)).cast("bigint").as("n_bigrams"),
      round(-avg(col("_lp")), 6).as("cross_entropy"),
      round(exp(-avg(col("_lp"))), 6).as("perplexity"))
  }

  /** Moore–Lewis cross-entropy-difference selection (Moore & Lewis 2010,
    * "Intelligent Selection of Language Model Training Data"): score
    * every raw doc under TWO bigram LMs — one fitted on the target
    * domain, one on the raw corpus itself — and rank by the difference
    * H_target(doc) - H_raw(doc). Strongly negative = reads much more
    * like the target than like generic corpus text; the classic
    * domain-data selection filter (threshold or take the bottom
    * fraction), and DSIR's generative-classifier sibling
    * ([[dsirWeights]] ranks by hashed-feature likelihood ratio; this
    * ranks by sequence likelihood ratio).
    *
    * Scale shape: two vocabulary-bounded count relations per LM (AQE
    * broadcasts them when small); the corpus-sized work is the shared
    * gram explode and the final doc_id aggregations — the same envelope
    * as running [[lmPerplexity]] twice. */
  def crossEntropyDelta(raw: DataFrame, target: DataFrame,
      alpha: Double = 0.5): DataFrame =
    raw.select("doc_id")
      .join(crossEntropyDeltaAgg(raw, target, alpha), Seq("doc_id"), "left")

  /** [[crossEntropyDelta]] without the row-preserving join: one row per
    * doc WITH >= 1 bigram (the DSL kernel attaches this straight onto
    * the user relation — one corpus join instead of two). */
  private[graft] def crossEntropyDeltaAgg(raw: DataFrame,
      target: DataFrame, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    // ONE fused scoring pass under BOTH LMs, not two
    // lmPerplexityAgainstAgg calls: composing the single-LM scorer
    // twice explodes the raw corpus's gram stream twice and joins it
    // back on doc_id — ScanMeter measured the composed form at 9 corpus
    // passes vs 5 fused (two LM fits, one scoring pass, value-identical
    // per-gram arithmetic)
    val rawP = lmPrep(raw)
    val tgtP = lmPrep(target)
    val uniT = lmUnigrams(tgtP)
    val uniR = lmUnigrams(rawP)
    val vT = uniT.agg(count(lit(1)).cast("double").as("_vt"))
    val vR = uniR.agg(count(lit(1)).cast("double").as("_vr"))
    val bcT = lmGrams(tgtP).groupBy("gram").agg(count(lit(1)).as("_cbt"))
    val bcR = lmGrams(rawP).groupBy("gram").agg(count(lit(1)).as("_cbr"))
    val scored = lmGrams(rawP)
      .join(bcT, Seq("gram"), "left")
      .join(bcR, Seq("gram"), "left")
      .withColumn("_prev", split(col("gram"), " ").getItem(0))
      .join(uniT.withColumnRenamed("_cu", "_cut"), Seq("_prev"), "left")
      .join(uniR.withColumnRenamed("_cu", "_cur"), Seq("_prev"), "left")
      .crossJoin(broadcast(vT))
      .crossJoin(broadcast(vR))
      .withColumn("_lpt",
        log((coalesce(col("_cbt"), lit(0L)) + alpha) /
          (coalesce(col("_cut"), lit(0L)) + col("_vt") * alpha)))
      .withColumn("_lpr",
        log((coalesce(col("_cbr"), lit(0L)) + alpha) /
          (coalesce(col("_cur"), lit(0L)) + col("_vr") * alpha)))
    scored.groupBy("doc_id").agg(
        count(lit(1)).cast("bigint").as("n_bigrams"),
        round(-avg(col("_lpt")), 6).as("ce_target"),
        round(-avg(col("_lpr")), 6).as("ce_raw"))
      .select(col("doc_id"), col("n_bigrams"), col("ce_target"),
        col("ce_raw"),
        round(col("ce_target") - col("ce_raw"), 6).as("ce_delta"))
  }

  /** CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.3): rank
    * every document's [[lmPerplexity]] WITHIN ITS LANGUAGE and cut the
    * per-language distribution at `loCut`/`hiCut` — head = the
    * lowest-perplexity (most fluent) third, tail = the highest. Ranking
    * per language is the point of the design: a single global cut would
    * assign whole low-resource languages to the tail because their LM is
    * worse calibrated, exactly the bias CCNet's per-language percentile
    * scheme removes.
    *
    * percent_rank is computed from the per-language VALUE HISTOGRAM
    * (count per (lang, perplexity), prefix-sum over the distinct values,
    * broadcast join back — [[Sampling.percentRank]]'s trick with a
    * language partition key) rather than a per-language row window: the
    * window form makes one partition per language, and at corpus scale
    * the dominant language IS most of the corpus in one task. The
    * histogram is distinct-(lang, 6-dp-perplexity)-sized; its prefix-sum
    * window orders ties identically to SQL percent_rank (ties share the
    * strictly-smaller count).
    *
    * Docs with < 2 tokens have NULL perplexity — no rank, NULL bucket,
    * row preserved (CCNet drops them downstream; the keep/drop policy
    * belongs to the caller, not the scorer). */
  def ccnetBuckets(
      docs: DataFrame, loCut: Double = 1.0 / 3, hiCut: Double = 2.0 / 3,
      alpha: Double = 0.5): DataFrame = {
    require(loCut > 0 && hiCut > loCut && hiCut < 1,
      s"need 0 < loCut < hiCut < 1, got $loCut/$hiCut")
    // row preservation and the lang attach fused into ONE join: going
    // through row-preserving lmPerplexity here would add a doc_id-only
    // corpus pass just to re-preserve rows this join already preserves.
    // Persisted (3 narrow columns, the percentRankContinuous pattern)
    // because BOTH the histogram and the output join consume it —
    // unpersisted, each replays the whole LM fit+score lineage
    val scored = PipelineCaches.track(docs.select(col("doc_id"), col("lang"))
      .join(lmPerplexityAgainstAgg(docs, docs, alpha)
        .select(col("doc_id"), col("perplexity")), Seq("doc_id"), "left")
      .persist(StorageLevel.MEMORY_AND_DISK))
    val hist = scored.filter(col("perplexity").isNotNull)
      .groupBy("lang", "perplexity").agg(count(lit(1)).as("_c"))
    val wPrev = Window.partitionBy("lang").orderBy("perplexity")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy("lang")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = hist
      .withColumn("_smaller", coalesce(sum("_c").over(wPrev), lit(0L)))
      .withColumn("_n", sum("_c").over(wAll))
      .withColumn("percent_rank",
        when(col("_n") > 1,
          round(col("_smaller").cast("double") /
            (col("_n") - 1).cast("double"), 6))
          .otherwise(lit(0.0)))
      .select("lang", "perplexity", "percent_rank")
    scored.join(broadcast(ranked), Seq("lang", "perplexity"), "left")
      .withColumn("bucket",
        when(col("percent_rank").isNull, lit(null).cast("string"))
          .when(col("percent_rank") < loCut, lit("head"))
          .when(col("percent_rank") < hiCut, lit("middle"))
          .otherwise(lit("tail")))
      .select("doc_id", "lang", "perplexity", "percent_rank", "bucket")
  }

  /** Corpus data card: the per-(lang, source) statistics sheet every
    * curated-release ships (docs, token volume, length profile, exact-dup
    * mass), with ROLLUP margins so the same pass yields per-language and
    * whole-corpus totals. One grouping-sets aggregation (partial aggs per
    * grouping, no per-group windows) plus the exact-dup hash join — the
    * [[graft.llm.TextOps.exactDedup]] md5(lower(text)) convention — so
    * the report stays two shuffles at any corpus size. */
  def corpusReport(docs: DataFrame): DataFrame = {
    val enriched = docs
      .withColumn("_tok",
        TextOps.tokenCount(coalesce(col("text"), lit(""))).cast("long"))
      .withColumn("_h", md5(lower(coalesce(col("text"), lit("")))))
    // aliased self-join: dupCounts shares enriched's lineage, and the
    // post-join rollup columns would otherwise be flagged ambiguous
    val dupCounts = enriched.groupBy("_h").agg(count(lit(1)).as("_nh"))
    enriched.alias("d")
      .join(dupCounts.alias("c"), col("d._h") === col("c._h"))
      .rollup(col("d.lang").as("lang"), col("d.source").as("source")).agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum("_tok").cast("bigint").as("total_tokens"),
        round(avg(col("_tok").cast("double")), 6).as("avg_doc_tokens"),
        round(avg(col("n_chars").cast("double")), 6).as("avg_chars"),
        sum(when(col("_nh") > 1, 1L).otherwise(0L)).cast("bigint")
          .as("n_exact_dup"))
  }

  /** RE2-compatible patterns (identical semantics in Java regex and DuckDB,
    * so the scrub is oracle-checkable). Counts are taken on the ORIGINAL
    * text; emails are replaced first so digit runs inside an address are
    * never double-scrubbed as phones. */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\+?[0-9][0-9() -]{6,}[0-9]"

  /** The one scrub expression all three surfaces share (DataFrame operator
    * here, DSL `pii_scrub` kernel, SQL `pii_scrub` function) — extending
    * the pattern set in one place updates every entry point. */
  def scrub(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** PII scrub: redact email addresses and phone-shaped digit runs, keep
    * per-doc redaction counts for audit. Pure per-row projection — no
    * shuffle at any scale.
    *
    * Audit counts mirror what the scrub actually replaced: emails are
    * counted on the original text, phones on the email-scrubbed text —
    * a phone-shaped digit run inside an email (user12345678@x.com) is
    * redacted as <EMAIL>, so it must not inflate n_phones. */
  def piiScrub(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val emailScrubbed = regexp_replace(t, EmailRe, "<EMAIL>")
    docs.select(col("doc_id"),
      regexp_replace(emailScrubbed, PhoneRe, "<PHONE>").as("scrubbed"),
      regexp_count(t, lit(EmailRe)).as("n_emails"),
      regexp_count(emailScrubbed, lit(PhoneRe)).as("n_phones"))
  }

  /** Duplicate-group assignment: the connected components of the
    * candidate-pair graph, every node labeled with its component's
    * minimum doc_id (singletons keep their own id). Alternating
    * large-star/small-star rounds (Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14 — public algorithm) contract every
    * component to a star rooted at its minimum in O(log² n) rounds
    * worst-case (~log₂ n observed on a chain) whatever its diameter, so a
    * long near-dup chain (A~B~C~… boilerplate drift across a crawl) is
    * labeled in full, not cut off after a fixed number of hops.
    *
    *  - large-star: every node's strictly-larger neighbors re-attach to
    *    the minimum of its closed neighborhood (never loses connectivity,
    *    strictly shrinks large-id chains);
    *  - small-star: every node and its smaller neighbors re-attach to
    *    their minimum, consolidating local stars.
    *
    * Each star op takes a node's minimum neighbor with a window over the
    * edges partitioned by node, not a grouped min joined back. A round is
    * a small-star then a large-star, materialized with ONE eager
    * `localCheckpoint` (job label `cc:star`; the first large-star over the
    * canonical edges is `cc:edges`): the checkpoint cuts the lineage a
    * round would otherwise stack on the last, and its blocks are reclaimed
    * by the ContextCleaner once the round's reference is dropped; nothing
    * is cached. The rounds stop when the edge set the large-star reads is
    * a star set — a node with a smaller neighbor has no other neighbor, so
    * every component is a root (its minimum) and leaves. That is the
    * joint fixpoint, so no extra round has to prove it, and the test is a
    * `Dataset.observe` metric of the checkpoint's own job, not a query of
    * its own.
    *
    * @param nodes      one row per doc_id needing a group
    * @param candidates (doc_a, doc_b) near-dup pairs, e.g. from
    *                   [[Dedup.minhashCandidates]] */
  def dupGroups(nodes: DataFrame, candidates: DataFrame): DataFrame =
    dupGroupsCounted(nodes, candidates)._1

  /** [[dupGroups]] plus the number of star rounds executed — the
    * measurable form of the O(log n) claim (ScaleProbe grows a chain and
    * watches rounds grow logarithmically). A candidate graph that is
    * already a star set takes 0 rounds. Hitting `maxRounds` throws. */
  private[graft] def dupGroupsCounted(
      nodes: DataFrame, candidates: DataFrame, maxRounds: Int = 100)
      : (DataFrame, Int) = {
    // localCheckpoint blocks live on executors: fast, but an executor
    // loss mid-iteration kills the job (no lineage left to recompute
    // from). On a long-lived cluster run, set a checkpoint dir
    // (sc.setCheckpointDir) and spark.graft.cc.reliableCheckpoint=true to
    // write rounds to reliable storage instead — same truncation, loss-
    // tolerant, one HDFS/S3 round-trip per round of pair-sized rows.
    val spark = nodes.sparkSession
    val reliable = spark.conf
      .getOption("spark.graft.cc.reliableCheckpoint").contains("true") &&
      spark.sparkContext.getCheckpointDir.isDefined
    val byU = Window.partitionBy("u")

    // a symmetric edge set (both orientations of every edge), deduplicated
    // inside ONE exchange by u, which the large-star's window then reuses
    def byNode(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v")).repartition(col("u")).distinct()

    // large-star over a symmetric edge set, checkpointed; returns its
    // directed (u > v) output and whether the input was a star set,
    // observed on the checkpoint's job: a node with a smaller neighbor
    // (m < u) and any second neighbor is off-star. On a star set the
    // output is that set, each leaf → root edge once.
    def largeStar(sym: DataFrame, label: String): (DataFrame, Boolean) = {
      val seen = Observation()
      val w = sym.select(col("u"), col("v"),
        least(min(col("v")).over(byU), col("u")).as("m"),
        count(lit(1)).over(byU).as("deg"))
        .observe(seen, count(when(col("m") < col("u") && col("deg") > 1, true))
          .as("off_star"))
        .filter(col("v") > col("u")) // strictly-larger neighbors re-attach
        .select(col("v").as("u"), col("m").as("v"))
      val out = graft.scale.JobLabel(spark, label) {
        if (reliable) w.checkpoint(true) else w.localCheckpoint(true)
      }
      (out, seen.get("off_star") == 0L)
    }

    // e is directed large→small (u > v) and may repeat an edge: every node
    // and its smaller neighbors re-attach to their minimum m
    def smallStar(e: DataFrame): DataFrame = byNode(e
      .select(col("u"), col("v"), min(col("v")).over(byU).as("m"))
      .selectExpr("stack(4, v, m, m, v, u, m, m, u) AS (u, v)"))

    var (edges, star) = largeStar(byNode(candidates
      .selectExpr("stack(2, doc_a, doc_b, doc_b, doc_a) AS (u, v)")), "cc:edges")
    var round = 0
    while (!star && round < maxRounds) {
      val (next, s) = largeStar(smallStar(edges), "cc:star")
      edges = next
      star = s
      round += 1
    }

    // Mid-iteration the edge set can hold several rows per node — only
    // the FIXPOINT is a star set. Labeling from a non-converged state
    // would emit conflicting multi-labels per doc (and a downstream
    // doc_id join would multiply corpus rows), so a cap hit is an error,
    // not a result. ~log₂(n) rounds are observed in practice, so the
    // default cap of 100 sits far above any real corpus (n ≈ 2⁵⁰).
    if (!star)
      throw new IllegalStateException(
        s"connected components did not converge within $maxRounds star " +
          s"rounds; raise maxRounds")
    // star set = leaf → root edges; label the roots and the untouched
    // singletons with themselves
    val labeled = nodes.select(col("doc_id"))
      .join(edges.select(col("u").as("doc_id"), col("v").as("_root")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_root"), col("doc_id")).as("dup_group"))
    (labeled, round)
  }

  /** Representative selection after dup-grouping — the PRODUCTION keep
    * rule: keep the BEST-scoring member of every dup group instead of
    * [[dupGroups]]' min-id convention — Lee et al. 2022 keep the
    * longest member, C4-style stacks the highest quality score. One
    * bounded-state partial aggregation: `max_by(doc_id, (score,
    * −doc_id))` per group (the −doc_id makes the argmax key unique, so
    * ties break to the SMALLEST id and the result is partition-order-
    * independent ⇒ hash-oracled); the shuffle carries one argmax state
    * per (group, partition), never a group's member list, so a
    * million-member boilerplate group costs the same shuffle as a pair.
    * `groups` = (doc_id, dup_group); `scores` = (doc_id, score) — ONE
    * row per doc (a duplicate-keyed score table is a caller contract
    * violation and would duplicate output rows). Returns EVERY doc in
    * `groups` with its group, score, the group's kept doc and an
    * `is_kept` flag — filter `is_kept` for the deduped corpus. A doc
    * missing from `scores` still participates (LEFT join, score −∞):
    * it can only be kept if its whole group is unscored — the smallest
    * id then wins — and it surfaces with score −∞ rather than silently
    * vanishing from the output (an inner join would delete it from the
    * deduped corpus with no error). */
  def keepBestPerGroup(groups: DataFrame, scores: DataFrame): DataFrame = {
    val scored = groups.join(scores, Seq("doc_id"), "left")
      .withColumn("score",
        coalesce(col("score"), lit(Double.NegativeInfinity)))
    val kept = scored.groupBy("dup_group")
      .agg(max_by(col("doc_id"),
        struct(col("score"), col("doc_id") * lit(-1L))).as("kept_doc"))
    scored.join(kept, Seq("dup_group"))
      .select(col("doc_id"), col("dup_group"), col("score"),
        col("kept_doc"), (col("doc_id") === col("kept_doc")).as("is_kept"))
  }

  /** Leakage-safe train/val/test assignment: every member of a near-dup
    * group lands in the SAME split, so near-duplicates of a held-out doc
    * can never sit in train — the eval-contamination channel that
    * doc-level hash splitting leaves wide open (a trimmed or lightly
    * edited copy hashes to a different bucket than its original).
    * Splits by the [[Sampling.md5Bucket]] of the GROUP label: rerun-
    * stable, independent of group membership order, and consistent with
    * every other hash-sampled artifact of the corpus. Buckets 0 to
    * trainPct−1 → train, to trainPct+valPct−1 → val, rest → test.
    *
    * Scale shape: a pure projection over the `groups` relation (from
    * [[dupGroups]]) — zero additional shuffle
    * at any corpus size; the group machinery is the whole cost.
    *
    * @param groups (doc_id, dup_group) as produced by [[dupGroups]]
    *               (singletons carry their own id) */
  def leakageSafeSplit(
      groups: DataFrame, trainPct: Int, valPct: Int): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"split percentages must satisfy trainPct > 0, valPct >= 0, " +
        s"trainPct + valPct < 100 (the remainder is test); got " +
        s"train=$trainPct val=$valPct")
    groups.select(col("doc_id"), col("dup_group"),
      Sampling.md5Bucket(col("dup_group")).as("bucket"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** The default keep score: UTF-8 byte length of the text (Lee et al.
    * keep-longest) — shared by the oracle entry and the DSL kernel so
    * the two can never diverge. */
  def byteLenScore(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      octet_length(coalesce(col("text"), lit(""))).cast("double")
        .as("score"))

  /** Repeated-span removal (the exact-substring dedup of Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499, at segment granularity): documents are cut into
    * non-overlapping `window`-word segments; a segment occurring in ≥
    * `minDocs` DISTINCT documents is boilerplate and is dropped from every
    * document EXCEPT the lowest-doc_id occurrence (keep-one, the C4/Lee
    * policy — deleting all copies would erase legitimate prose that merely
    * got syndicated). Returns one row per input doc: segment counts and
    * the reassembled `clean_text`.
    *
    * Plan shape at 100 TB: segments are a single split + explode
    * projection; the frequency table is a partial-aggregated groupBy on
    * md5(segment) (constant-width key, prose never in the shuffle key) and
    * is filtered to the over-threshold set BEFORE the join back — that set
    * is boilerplate-sized (orders of magnitude smaller than the corpus),
    * so AQE turns the left join into a broadcast join; reassembly is one
    * shuffle keyed by doc_id. Within-doc repeats of a non-shared segment
    * are never dropped (count is per DISTINCT doc). */
  def spanDedup(docs: DataFrame, window: Int = 3, minDocs: Int = 2)
      : DataFrame = {
    require(window > 0 && minDocs >= 2,
      s"need window > 0 and minDocs >= 2, got window=$window minDocs=$minDocs")
    val segs = docs
      .withColumn("_w", split(coalesce(col("text"), lit("")), " "))
      .withColumn("_ns", ceil(size(col("_w")) / lit(window.toDouble))
        .cast("bigint"))
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("_ns") - 1)).as("seg_idx"),
        col("_w"))
      .select(col("doc_id"), col("seg_idx"),
        array_join(slice(col("_w"),
          (col("seg_idx") * window + 1).cast("int"), lit(window)), " ")
          .as("seg"))
      .withColumn("_k", md5(col("seg")))
    val repeated = segs
      .groupBy(col("_k"))
      .agg(countDistinct(col("doc_id")).as("_nd"),
        min(col("doc_id")).as("_keeper"))
      .filter(col("_nd") >= minDocs)
    segs.join(repeated, Seq("_k"), "left")
      .withColumn("_keep",
        (col("_nd").isNull || col("doc_id") === col("_keeper")).cast("int"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(lit(1) - col("_keep")).as("n_dropped"),
        // sort by seg_idx (first struct field), keep survivors, rejoin —
        // deterministic regardless of partition arrival order
        expr("array_join(transform(filter(array_sort(" +
          "collect_list(struct(seg_idx, _keep, seg))), " +
          "x -> x._keep = 1), x -> x.seg), ' ')").as("clean_text"))
  }

  /** Paragraph-granularity dedup CAPSTONE (r14 verdict task 6 — the
    * Lee et al. 2021 paragraph dedup that doc-LEVEL Jaccard and
    * aligned-span removal both under-treat): cut every document into
    * non-overlapping `chunkSize`-word paragraphs ([[TextOps.chunkDocs]]
    * with stride = chunkSize — the zero-shuffle chunker), find
    * near-duplicate paragraphs corpus-wide through the BANDED MinHash
    * candidate generator + exact Jaccard rescore (never all-pairs),
    * drop every paragraph with a qualifying lower-keyed partner
    * (keep-one at paragraph granularity: chunk keys order by (doc_id,
    * chunk_idx), so the earliest occurrence survives — within-doc
    * repeats included, the Lee et al. policy), and reassemble each
    * document from its surviving paragraphs in order.
    *
    * Returns one row per input doc: (doc_id, n_chunks, n_dropped,
    * clean_text) — rows preserved (every doc emits ≥ 1 chunk).
    *
    * Scale shape — EXACT-FIRST, the factorization that survives 100 TB:
    * repeated paragraphs cluster into exact-duplicate CLIQUES
    * (boilerplate, syndication, planted fillers), and a banded join
    * over raw chunks would emit C(m, 2) candidate pairs per m-member
    * clique (measured 92× pair growth for 10× rows on the tiled
    * corpus). So stage 1 is exact paragraph dedup — one md5(chunk_text)
    * hash-aggregation, O(n), every clique collapsing to its min-key
    * representative — and the banded MinHash join + exact rescore run
    * ONLY over distinct-text representatives. This is result-IDENTICAL
    * to the all-chunks witness rule: identical texts have identical
    * signatures (always co-banded, Jaccard exactly 1 ≥ any t), so the
    * minimal witness of any chunk is always reachable through group
    * minima — drop x ⇔ x > least(min(group(x)), min over qualifying
    * partner groups of their min key). The oracle replays the
    * all-chunks rule and the hash gate re-proves the factorization
    * every round. Otherwise ONE corpus scan (the persisted chunk
    * relation serves grouping, candidates, and reassembly), the
    * rescore candidate-bounded over representatives, reassembly one
    * doc-keyed aggregation (prose crosses exactly that shuffle,
    * spanDedup's cost class). `maxBucketSize` guards the residual
    * near-identical-but-distinct boilerplate case exactly as in
    * [[Dedup.minhashCandidates]]. */
  def paragraphDedup(docs: DataFrame, chunkSize: Int = 8,
      threshold: Double = 0.8, k: Int = 3, numHashes: Int = 8,
      bands: Int = 4, oracleHashes: Boolean = false,
      maxChunksPerDoc: Long = 100000L,
      maxBucketSize: Int = Int.MaxValue,
      minEstJaccard: Double = 0.5): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // the estimator prefilter must not sit above the exact threshold,
    // or sub-prefilter thresholds would silently under-dedup; callers
    // wanting a low threshold lower the prefilter consciously (the
    // candidate tier stays probabilistic either way — recall-1 lives
    // in the exact-join tier)
    require(minEstJaccard <= threshold,
      s"minEstJaccard ($minEstJaccard) must be <= threshold " +
        s"($threshold) or qualifying pairs are pre-filtered away")
    // chunk_key = doc_id * maxChunksPerDoc + chunk_idx is Long
    // arithmetic; a string/float/decimal doc_id would implicitly cast
    // through DOUBLE (losing keep-one ordering precision past 2^53, and
    // a non-numeric string casts to NULL — slipping past the bounds
    // guard below while the overflow check still passes). Integral
    // types only, checked loudly up front (round-15 advice).
    requireIntegralDocId(docs, "paragraphDedup")
    val chunks = PipelineCaches.track(
      chunkRelation(docs, chunkSize, maxChunksPerDoc)
        .persist(StorageLevel.MEMORY_AND_DISK))
    // stage 1: exact cliques -> min-key representative, persisted: the
    // banded candidates, the rescore and the reassembly all read it.
    // ONE write to the noop sink (no count aggregate on top) materializes
    // it, fills the chunk cache on the way, and observes the key guards'
    // bounds on the chunk rows, so both guards throw before anything
    // else runs.
    val seen = Observation()
    val groups = PipelineCaches.track(
      chunkGroups(chunks.observe(seen, chunkKeyBounds.head,
        chunkKeyBounds.tail: _*)).persist(StorageLevel.MEMORY_AND_DISK))
    graft.scale.JobLabel(docs.sparkSession, "para:chunks") {
      groups.write.format("noop").mode("overwrite").save()
    }
    checkChunkKeys(seen.get, maxChunksPerDoc, "paragraphDedup")
    val reps = groups.select(col("rep_key").as("doc_id"), col("text"))
    // stage 2: banded near-dup + exact rescore over REPRESENTATIVES,
    // lazy: the rescore reads the candidates once and the threat minimum
    // below reads the qualifying pairs once, so both run inside the
    // caller's action (only the band buckets are materialized, inside
    // minhashCandidates)
    val repPairs = Dedup.jaccardRescore(reps,
        Dedup.minhashCandidates(reps, k, numHashes, bands,
          minEstJaccard = minEstJaccard, oracleHashes = oracleHashes,
          maxBucketSize = maxBucketSize), k)
      .filter(col("jaccard") >= threshold)
    // per group, the smallest qualifying PARTNER representative. Pairs
    // are value-ordered (doc_a < doc_b), so only doc_b's group has a
    // lower partner; a higher partner never lowers least(rep_key, _thr)
    val thr = repPairs.groupBy(col("doc_b").as("rep_key"))
      .agg(min("doc_a").as("_thr"))
    chunks
      .join(groups.select("_h", "rep_key"), Seq("_h"))
      .join(thr, Seq("rep_key"), "left")
      .withColumn("_keep", (col("chunk_key") <= least(col("rep_key"),
        coalesce(col("_thr"), lit(Long.MaxValue)))).cast("int"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_chunks"),
        sum(lit(1) - col("_keep")).cast("bigint").as("n_dropped"),
        expr("array_join(transform(filter(array_sort(" +
          "collect_list(struct(chunk_idx, _keep, chunk_text))), " +
          "x -> x._keep = 1), x -> x.chunk_text), ' ')").as("clean_text"))
  }

  /** The shared chunk base of the paragraph-dedup family: fixed
    * non-overlapping chunks with the Long composite key and the exact
    * text hash. Callers persist it and check its keys, through
    * [[chunkKeyGuards]] or [[chunkKeyBounds]] observed on their first
    * action over it. */
  private[graft] def chunkRelation(docs: DataFrame, chunkSize: Int,
      maxChunksPerDoc: Long): DataFrame =
    // not spread: the chunk explode + md5 runs on the scan's own
    // partitions. Repartitioning the docs first measured slower (r18,
    // reverted) — per Spread's rule, spreading pays only before
    // hash-heavy per-row work, and chunking is light next to the
    // shingle and signature passes that spread their own inputs.
    TextOps.chunkDocs(docs, chunkSize, stride = chunkSize)
      .withColumn("chunk_key",
        col("doc_id") * maxChunksPerDoc + col("chunk_idx"))
      .withColumn("_h", md5(col("chunk_text")))

  /** BOTH key-collision guards in one single action: chunk_idx must
    * fit under maxChunksPerDoc and doc_id must survive the
    * multiplication PLUS the chunk_idx addend (hash-derived 63-bit ids
    * would silently wrap and invert keep-one ordering corpus-wide). The
    * action also fills a persisted `chunks`' cache. */
  private[graft] def chunkKeyGuards(chunks: DataFrame,
      maxChunksPerDoc: Long, op: String): Unit = {
    val mx = graft.scale.JobLabel(chunks.sparkSession, "para:guards") {
      chunks.agg(chunkKeyBounds.head, chunkKeyBounds.tail: _*).collect()(0)
    }
    checkChunkKeys(mx.getValuesMap[Any](mx.schema.fieldNames.toSeq),
      maxChunksPerDoc, op)
  }

  /** The guards' bounds over chunk rows, as aggregate columns: max
    * chunk_idx and the doc_id range. Bounds via max AND min — abs() is
    * a trap here (abs(Long.MinValue) stays negative and would slip past
    * a max) — and the cast keeps narrower doc_id types (int corpora)
    * from failing the Long read. */
  private val chunkKeyBounds: Seq[Column] = Seq(
    max("chunk_idx").as("_max_idx"),
    max(col("doc_id").cast("long")).as("_max_id"),
    min(col("doc_id").cast("long")).as("_min_id"))

  /** Throws unless the [[chunkKeyBounds]] (NULL on no chunks) keep
    * chunk_key = doc_id * maxChunksPerDoc + chunk_idx collision-free. */
  private def checkChunkKeys(b: collection.Map[String, Any],
      maxChunksPerDoc: Long, op: String): Unit = {
    def get(k: String): Option[Long] =
      Option(b(k)).map(_.asInstanceOf[Number].longValue)
    require(get("_max_idx").forall(_ < maxChunksPerDoc),
      s"$op: a doc has > $maxChunksPerDoc chunks; raise " +
        "maxChunksPerDoc so chunk keys stay collision-free")
    val idBound = (Long.MaxValue - (maxChunksPerDoc - 1)) / maxChunksPerDoc
    val (lo, hi) = (get("_min_id"), get("_max_id"))
    require(hi.forall(_ <= idBound) && lo.forall(_ >= -idBound),
      s"$op: doc_id range [${lo.getOrElse(0L)}, ${hi.getOrElse(0L)}] " +
        s"overflows chunk_key = doc_id * $maxChunksPerDoc + chunk_idx; " +
        "renumber doc ids or lower maxChunksPerDoc")
  }

  /** Exact paragraph cliques → min-key representative (min over
    * identical strings IS the string, so the text rides the same agg). */
  private def chunkGroups(chunks: DataFrame): DataFrame =
    chunks.groupBy("_h")
      .agg(min("chunk_key").as("rep_key"), min("chunk_text").as("text"))

  /** The persistable PARAGRAPH-dedup index — [[paragraphDedup]]'s state
    * split into the relations an incremental/streaming pipeline stores
    * once and probes per batch ([[graft.llm.Dedup.shingleIndex]]
    * / signatureIndex discipline, per-paragraph):
    *
    *   - `exact`: (_h, rep_key) — every distinct historical chunk text
    *     (md5) with its min-key representative, the O(1)-per-chunk
    *     exact-duplicate test;
    *   - `bands`: [[Dedup.signatureIndex]] rows over the DISTINCT-TEXT
    *     representatives (doc_id = rep_key) — banded candidate
    *     generation against new paragraphs without re-hashing history;
    *   - `shingles`: [[Dedup.shingleIndex]] rows over the same
    *     representatives — the exact-Jaccard rescore side;
    *   - `members`: (doc_id, chunk_key, _h) — every historical chunk's
    *     group membership, the narrow (keys + md5, NO text) relation
    *     that makes [[retireFromParagraphIndex]] possible without
    *     re-chunking history: dropping a doc must RE-ELECT the
    *     representatives of the groups whose rep died, and membership
    *     is exactly the information the three probe relations compress
    *     away. Probes never read it — it costs probe time nothing.
    *
    * `maxRepKey` is the ordering-contract watermark (max rep_key over
    * `exact`) carried as WRITE-TIME METADATA (r16 verdict task 5):
    * every builder/appender maintains it, so the per-probe contract
    * check is a metadata compare instead of a full index scan. None =
    * unknown (hand-built model, or post-retire) — the probe falls back
    * to the one-row agg, and [[saveParagraphIndex]] resolves it from
    * the written store.
    *
    * At corpus scale store `bands` bucketed on (band_idx, band_hash)
    * and `shingles` on sh (graft.scale.Bucketing) so batch probes join
    * with zero index exchange; retire via
    * [[retireFromParagraphIndex]] (doc removal + representative
    * re-election) and compact via [[compactParagraphIndexStore]]
    * ([[graft.scale.StoreMaint.replaceStore]]'s swap discipline per
    * relation). */
  case class ParagraphIndexModel(
      exact: DataFrame, bands: DataFrame, shingles: DataFrame,
      members: DataFrame,
      chunkSize: Int, k: Int, numHashes: Int, nBands: Int,
      oracleHashes: Boolean, maxChunksPerDoc: Long,
      maxRepKey: Option[Long] = None)

  /** Build the [[ParagraphIndexModel]] over a historical corpus: ONE
    * chunk pass (persisted), exact grouping, then band/shingle passes
    * over representatives only; the watermark agg doubles as the group
    * relation's materializing action. */
  def paragraphIndex(docs: DataFrame, chunkSize: Int = 8, k: Int = 3,
      numHashes: Int = 8, nBands: Int = 4, oracleHashes: Boolean = false,
      maxChunksPerDoc: Long = 100000L): ParagraphIndexModel = {
    requireIntegralDocId(docs, "paragraphIndex")
    val chunks = PipelineCaches.track(
      chunkRelation(docs, chunkSize, maxChunksPerDoc)
        .persist(StorageLevel.MEMORY_AND_DISK))
    chunkKeyGuards(chunks, maxChunksPerDoc, "paragraphIndex")
    val groups = PipelineCaches.track(chunkGroups(chunks)
      .persist(StorageLevel.MEMORY_AND_DISK))
    val reps = groups.select(col("rep_key").as("doc_id"), col("text"))
    val mx = groups.agg(max("rep_key")).collect()(0)
    ParagraphIndexModel(
      groups.select("_h", "rep_key"),
      Dedup.signatureIndex(reps, k, numHashes, nBands, oracleHashes),
      Dedup.shingleIndex(reps, k),
      chunks.select(col("doc_id").cast("long").as("doc_id"),
        col("chunk_key"), col("_h")),
      chunkSize, k, numHashes, nBands, oracleHashes, maxChunksPerDoc,
      maxRepKey = if (mx.isNullAt(0)) None else Some(mx.getLong(0)))
  }

  /** Persist a [[ParagraphIndexModel]]: the four relations plus a
    * one-row meta table — the [[graft.llm.Bpe.saveBpeModel]] /
    * saveIvfIndex trained-artifact layout. An unknown watermark
    * (maxRepKey None — a post-retire model) is resolved here from the
    * WRITTEN exact relation (a narrow scan of data just written), so a
    * loaded store always probes metadata-cheap. At corpus scale write
    * `bands`/`shingles` through graft.scale.Bucketing instead (bucketed
    * on their probe keys); retire via [[retireFromParagraphIndex]] and
    * compact via [[compactParagraphIndexStore]]. */
  def saveParagraphIndex(index: ParagraphIndexModel, path: String): Unit = {
    index.exact.write.mode("overwrite").parquet(s"$path/exact")
    index.bands.write.mode("overwrite").parquet(s"$path/bands")
    index.shingles.write.mode("overwrite").parquet(s"$path/shingles")
    index.members.write.mode("overwrite").parquet(s"$path/members")
    val spark = index.exact.sparkSession
    val resolved = index.maxRepKey.orElse {
      val r = spark.read.parquet(s"$path/exact")
        .agg(max("rep_key")).collect()(0)
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    writeParagraphMeta(index, resolved, path)
  }

  private def writeParagraphMeta(index: ParagraphIndexModel,
      maxRepKey: Option[Long], path: String): Unit =
    index.exact.sparkSession.range(1).select(
        lit(index.chunkSize).as("chunk_size"), lit(index.k).as("k"),
        lit(index.numHashes).as("num_hashes"), lit(index.nBands).as("n_bands"),
        lit(index.oracleHashes).as("oracle_hashes"),
        lit(index.maxChunksPerDoc).as("max_chunks_per_doc"),
        maxRepKey.map(v => lit(v)).getOrElse(lit(null))
          .cast("long").as("max_rep_key"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")

  /** Reload a persisted paragraph index (one-row meta collect; the
    * four relations stay distributed scans). */
  def loadParagraphIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): ParagraphIndexModel = {
    val m = spark.read.parquet(s"$path/meta").collect()(0)
    ParagraphIndexModel(
      spark.read.parquet(s"$path/exact"),
      spark.read.parquet(s"$path/bands"),
      spark.read.parquet(s"$path/shingles"),
      spark.read.parquet(s"$path/members"),
      m.getAs[Int]("chunk_size"), m.getAs[Int]("k"),
      m.getAs[Int]("num_hashes"), m.getAs[Int]("n_bands"),
      m.getAs[Boolean]("oracle_hashes"),
      m.getAs[Long]("max_chunks_per_doc"),
      maxRepKey = if (m.isNullAt(m.fieldIndex("max_rep_key"))) None
        else Some(m.getAs[Long]("max_rep_key")))
  }

  /** Remove a set of documents from a [[ParagraphIndexModel]] WITHOUT
    * re-chunking history (r16 verdict task 4 — crawl deletions and
    * takedowns; the store-maintenance contract every other index
    * already has). The result equals `paragraphIndex(corpus ∖ retired)`
    * — the StoreMaintSpec round-trip re-proves it — and the
    * interesting part is representative RE-ELECTION: a group whose
    * min-key representative belonged to a retired doc re-elects the
    * smallest SURVIVING member, and because every member of an exact
    * group carries the IDENTICAL text, re-election never re-hashes or
    * re-bands anything — the group's band/shingle rows just renumber
    * from the dead rep key to the new one. Groups with no surviving
    * member drop from all relations.
    *
    * Scale shape: one anti-join over the narrow members relation, a
    * semi-join-bounded re-election agg (bounded by the retired docs'
    * chunk count), and a renumber join of bands/shingles against the
    * (old_rep → new_rep) mapping (same bound; the group-level election
    * relations are eagerly checkpointed — they are retired-set-bounded
    * and multiply-consumed). The returned model's OUTPUT relations stay
    * lazy, and maxRepKey is None — re-election can RAISE the watermark
    * (the old min died), and resolving it eagerly would materialize
    * them; the next probe's fallback agg or [[saveParagraphIndex]]
    * resolves it. */
  def retireFromParagraphIndex(index: ParagraphIndexModel,
      retiredIds: DataFrame): ParagraphIndexModel = {
    val retired = retiredIds.select(col("doc_id").cast("long").as("doc_id"))
    // chunk keys owned by retired docs — the keys whose death matters
    val retiredKeys = index.members
      .join(retired, Seq("doc_id"), "left_semi")
      .select(col("chunk_key").as("rep_key"))
    val members2 = index.members.join(retired, Seq("doc_id"), "left_anti")
    // the two ELECTION relations are retired-set-bounded and each is
    // consumed 2-3x by the output relations (exact2, both renumbers,
    // the mapping); eagerly checkpointed so a retire+compact (or the
    // streaming retire's four-relation checkpoint) runs the election
    // joins ONCE, not once per downstream consumer. members2 stays
    // lazy — it is corpus-sized and scanned, never re-derived.
    // groups whose CURRENT representative dies:
    val affected = index.exact
      .join(retiredKeys, Seq("rep_key"), "left_semi")
      .localCheckpoint(true)
    // re-election: smallest surviving member per affected group
    // (absent = the whole group died)
    val reElected = members2
      .join(affected.select("_h"), Seq("_h"), "left_semi")
      .groupBy("_h").agg(min("chunk_key").as("rep_key"))
      .localCheckpoint(true)
    val exact2 = index.exact
      .join(affected.select("_h"), Seq("_h"), "left_anti")
      .unionByName(reElected.select("_h", "rep_key"))
    // old rep -> new rep (NULL = dead group); old reps are globally
    // unique chunk keys, so the renumber join replicates nothing
    // mapping stays LAZY (r18 optimization round): it is one broadcast
    // join of two already-checkpointed retired-set-bounded frames, so
    // its two renumber consumers re-derive it for pennies — the eager
    // checkpoint here was a whole extra job per retire, while the
    // expensive election joins stay checkpointed above
    val mapping = affected
      .select(col("_h"), col("rep_key").as("_old_rep"))
      .join(reElected.select(col("_h"), col("rep_key").as("_new_rep")),
        Seq("_h"), "left")
      .select("_old_rep", "_new_rep")
    def renumber(rel: DataFrame): DataFrame =
      rel.join(mapping, col("doc_id") === col("_old_rep"), "left")
        .filter(col("_old_rep").isNull || col("_new_rep").isNotNull)
        .withColumn("doc_id", coalesce(col("_new_rep"), col("doc_id")))
        .drop("_old_rep", "_new_rep")
    index.copy(exact = exact2, bands = renumber(index.bands),
      shingles = renumber(index.shingles), members = members2,
      maxRepKey = None)
  }

  /** [[retireFromParagraphIndex]] for a driver-held id batch. */
  def retireFromParagraphIndex(index: ParagraphIndexModel,
      retiredIds: Seq[Long]): ParagraphIndexModel = {
    import index.exact.sparkSession.implicits._
    retireFromParagraphIndex(index, retiredIds.toDF("doc_id"))
  }

  /** Retire + compact a PERSISTED paragraph store in place: load,
    * retire, MATERIALIZE the replacement (each replacement's lineage
    * reads the live relations — swapping `exact` first would make the
    * bands renumber re-read the already-retired exact and find nothing
    * to renumber), then swap every relation through
    * [[graft.scale.StoreMaint.replaceStore]]'s verified-rename
    * discipline and rewrite the meta LAST with the recomputed
    * watermark. Returns the retained exact-group count. Run from the
    * writer that owns the store (the replaceStore caveat, per
    * relation). */
  def compactParagraphIndexStore(
      spark: org.apache.spark.sql.SparkSession, path: String,
      retiredIds: Seq[Long], targetFiles: Int = 0): Long = {
    val retired = retireFromParagraphIndex(
      loadParagraphIndex(spark, path), retiredIds)
    // independent relations — overlapped materialization (guide §2.6)
    val cs = graft.scale.Par.checkpointAll(
      retired.exact, retired.bands, retired.shingles, retired.members)
    val materialized = retired.copy(
      exact = cs(0), bands = cs(1), shingles = cs(2), members = cs(3))
    val kept = graft.scale.StoreMaint.replaceStore(
      spark, s"$path/exact", materialized.exact, targetFiles)
    graft.scale.StoreMaint.replaceStore(
      spark, s"$path/bands", materialized.bands, targetFiles)
    graft.scale.StoreMaint.replaceStore(
      spark, s"$path/shingles", materialized.shingles, targetFiles)
    graft.scale.StoreMaint.replaceStore(
      spark, s"$path/members", materialized.members, targetFiles)
    val mx = materialized.exact.agg(max("rep_key")).collect()(0)
    writeParagraphMeta(materialized,
      if (mx.isNullAt(0)) None else Some(mx.getLong(0)), path)
    kept
  }

  /** Incremental paragraph dedup — the batch-probe twin of
    * [[paragraphDedup]] (r15 verdict task 6, the containment tier's
    * index+probe pattern at paragraph granularity): clean a NEW batch
    * of documents against the persisted [[ParagraphIndexModel]] of the
    * historical corpus without re-chunking, re-hashing, or re-banding
    * a single historical document. Output = [[paragraphDedup]] over
    * (history ∪ batch) RESTRICTED to the batch docs — the oracle
    * re-proves that restricted-recompute identity every round.
    *
    * The identity needs one ordering contract, checked loudly: every
    * batch chunk key must exceed every historical REPRESENTATIVE key
    * (crawl refreshes assign increasing doc ids, so this is the
    * production reality, and it is what makes "history wins" equal
    * global keep-one — a mixed exact group's representative is then
    * always the historical one, and history's own stored outputs stay
    * exactly valid). Threat minima need no ordering at all: candidate
    * pairs orient by VALUE (least/greatest), so a batch group's
    * smallest qualifying partner is found exactly whichever side it
    * lives on.
    *
    * Scale shape per batch: one batch chunk pass (persisted), the
    * O(1)-per-chunk exact probe (a broadcast-prunable _h equi-join),
    * banding over the batch's NEW representatives only, the
    * [[Dedup.incrementalCandidates]] pruned band probe, and a
    * candidate-bounded exact rescore whose index-side shingle scan is
    * pruned by a broadcast semi-join on the candidate rep ids. */
  def paragraphDedupIncremental(index: ParagraphIndexModel,
      docs: DataFrame, threshold: Double = 0.8,
      minEstJaccard: Double = 0.5): DataFrame = {
    requireIntegralDocId(docs, "paragraphDedupIncremental")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(minEstJaccard <= threshold,
      s"minEstJaccard ($minEstJaccard) must be <= threshold " +
        s"($threshold) or qualifying pairs are pre-filtered away")
    val chunks = PipelineCaches.track(
      chunkRelation(docs, index.chunkSize, index.maxChunksPerDoc)
        .persist(StorageLevel.MEMORY_AND_DISK))
    chunkKeyGuards(chunks, index.maxChunksPerDoc,
      "paragraphDedupIncremental")
    paragraphProbeCore(index, chunks, threshold, minEstJaccard)._1
  }

  /** Shared probe primitive of the incremental AND streaming paragraph
    * paths ([[graft.streaming.StreamingPipeline.ParagraphDedupIndex]]
    * delegates here — one primitive, so batch and streaming cannot
    * drift). `chunks` must be MATERIALIZED (persisted/checkpointed).
    * Returns (per-doc clean output, append delta) where the delta
    * holds the batch's NEW representatives' exact/band/shingle rows —
    * exactly what [[paragraphIndex]] would have produced for them —
    * plus ALL batch chunks' membership rows, and whose `maxRepKey` is
    * the POST-APPEND watermark (max of history's and the batch's new
    * reps'), so appenders adopt it directly. */
  private[graft] def paragraphProbeCore(index: ParagraphIndexModel,
      chunks: DataFrame, threshold: Double, minEstJaccard: Double)
      : (DataFrame, ParagraphIndexModel) = {
    // ordering contract (scaladoc above): a metadata compare when the
    // store carries its write-time watermark (r16 verdict task 5 —
    // previously a FULL index scan per probe/micro-batch), the bounded
    // one-row agg only for hand-built models that don't
    val maxHistOpt: Option[Long] = index.maxRepKey.orElse {
      val r = index.exact.agg(max("rep_key")).collect()(0)
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    val bGroups = PipelineCaches.track(chunkGroups(chunks)
      .join(index.exact.withColumnRenamed("rep_key", "_hist_rep"),
        Seq("_h"), "left")
      .persist(StorageLevel.MEMORY_AND_DISK))
    // ONE materializing agg instead of three jobs (r18 optimization
    // round, guide §1.2 "don't compute things you throw away" applied
    // to job count): this action populates the bGroups cache AND yields
    // the ordering-contract batch minimum (min rep_key over batch
    // groups == min batch chunk_key — rep_key is each group's min, so
    // the min over groups is the global min) AND the post-append
    // watermark (max new-rep key), which previously were a count() plus
    // two separate one-row aggs per probe/micro-batch.
    val meta = bGroups.agg(
      min("rep_key").as("_min_key"),
      max(when(col("_hist_rep").isNull, col("rep_key"))).as("_new_max"))
      .collect()(0)
    maxHistOpt.foreach { maxHist =>
      require(meta.isNullAt(0) || meta.getLong(0) > maxHist,
        s"batch chunk keys must exceed every historical representative " +
          s"key (batch min ${if (meta.isNullAt(0)) "none"
          else meta.getLong(0)} <= index max $maxHist); " +
          "assign new docs increasing ids (crawl-refresh contract)")
    }
    val newReps = bGroups.filter(col("_hist_rep").isNull)
      .select(col("rep_key").as("doc_id"), col("text"))
    // banded candidates: new reps probe the index bands + each other
    // (the incrementalCandidates discipline — index side pruned by the
    // batch's band keys); identical texts never re-band (their
    // representative is historical and already indexed)
    val nbBands = Dedup.probeBatch(
      Dedup.signatureIndex(newReps, index.k, index.numHashes,
        index.nBands, index.oracleHashes))
    // persisted + materialized: the candidate set is consumed THREE
    // times (the rep-id prune below + both pair sides of the
    // pair-count machinery), and each lazy reference would re-run the
    // banded join — pair-bounded by construction, so the cache is small
    val cands = PipelineCaches.track(
      Dedup.candidatesFromBuckets(index.bands, nbBands, index.numHashes,
        index.nBands, minEstJaccard)
        .persist(StorageLevel.MEMORY_AND_DISK))
    cands.count()
    // exact-Jaccard rescore: candidate-bounded — only candidate reps'
    // shingle rows are pulled from either side (broadcast semi-join
    // prune on the ≤2·|cands| id set)
    val nbShingles = PipelineCaches.track(
      Dedup.shingleIndex(newReps, index.k)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val candIds = cands.select(col("doc_a").as("doc_id"))
      .unionAll(cands.select(col("doc_b").as("doc_id"))).distinct()
    // persisted + materialized: the pair-count machinery references the
    // shingle relation THREE times (per-doc counts + both pair sides),
    // and each lazy reference would re-run the full shingle/md5
    // pipeline (the round-15 exact-join lesson). Candidate-bounded, so
    // the cache is small by construction.
    val shCand = PipelineCaches.track(
      index.shingles.select("doc_id", "sh")
        .unionAll(nbShingles.select("doc_id", "sh"))
        .join(broadcast(candIds), Seq("doc_id"), "left_semi")
        .withColumnRenamed("sh", "shingle")
        .persist(StorageLevel.MEMORY_AND_DISK))
    shCand.count()
    val qual = Dedup.pairShingleCountsFrom(shCand, cands)
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b")
    // a batch group's smallest qualifying partner: pairs are value-
    // ordered (doc_a < doc_b), so min(doc_a) per doc_b is exactly the
    // lowest threat, historical or in-batch
    val thr = qual.groupBy(col("doc_b").as("rep_key"))
      .agg(min("doc_a").as("_thr"))
    val out = chunks
      .join(bGroups.select(col("_h"),
        coalesce(col("_hist_rep"), col("rep_key")).as("_rep"),
        col("rep_key").as("_brep")), Seq("_h"))
      .join(thr, col("_brep") === col("rep_key"), "left")
      .withColumn("_keep", (col("chunk_key") <= least(col("_rep"),
        coalesce(col("_thr"), lit(Long.MaxValue)))).cast("int"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_chunks"),
        sum(lit(1) - col("_keep")).cast("bigint").as("n_dropped"),
        expr("array_join(transform(filter(array_sort(" +
          "collect_list(struct(chunk_idx, _keep, chunk_text))), " +
          "x -> x._keep = 1), x -> x.chunk_text), ' ')").as("clean_text"))
    // post-append watermark: already computed by the materializing agg
    // above (max new-rep key) — no extra job
    val appendedMax = (maxHistOpt.toSeq ++
      (if (meta.isNullAt(1)) Nil else Seq(meta.getLong(1))))
      .reduceOption(_ max _)
    val delta = ParagraphIndexModel(
      bGroups.filter(col("_hist_rep").isNull).select("_h", "rep_key"),
      nbBands.rows, nbShingles,
      chunks.select(col("doc_id").cast("long").as("doc_id"),
        col("chunk_key"), col("_h")),
      index.chunkSize, index.k, index.numHashes,
      index.nBands, index.oracleHashes, index.maxChunksPerDoc,
      maxRepKey = appendedMax)
    (out, delta)
  }

  /** Shifted-span exact-substring dedup (r13 verdict task 4 — the
    * suffix-array capability of Lee et al. 2021 at candidate-pair
    * granularity): for each candidate near-dup pair, the LONGEST run of
    * consecutive token positions in doc_a whose stride-1 k-grams all
    * occur in doc_b — i.e. the longest verbatim shared token span at
    * ANY alignment. [[spanDedup]] cuts NON-overlapping fixed windows,
    * so a repeated span offset by fewer than `window` words escapes it
    * entirely (both docs' segment grids are misaligned); this operator
    * uses stride-1 positional grams + the pos − row_number islands
    * identity ([[contaminationSpan]]'s machinery pointed at
    * train×train), so NO offset can hide a span ≥ k tokens.
    *
    * Returns one row per candidate pair: (doc_a, doc_b, n_tokens_a,
    * n_grams_a, n_matched, longest_span, span_frac) — rows preserved
    * (an LSH false-positive pair with zero shared grams keeps
    * longest_span 0). Integer-exact end to end, so the oracle replays
    * it bit-for-bit.
    *
    * Scale shape: pair work is CANDIDATE-BOUNDED — the positional gram
    * stream is built once (one corpus pass, persisted), the a-side
    * expands only per candidate partner, and the membership join is
    * keyed (doc_b, gram_key) — constant-width keys, prose never in a
    * shuffle; the islands window partitions by pair. The banded
    * candidate generator's skew caps bound the per-doc expansion
    * exactly as they do for the Jaccard rescorers. */
  def sharedSpans(docs: DataFrame, candidates: DataFrame, k: Int = 3)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the incoming candidate relation is referenced FOUR times below
    // (both candIds sides, the hits join, the final left join); a lazy
    // caller-side pair pipeline (the catalog entries pass the banded
    // generator's join+distinct directly) re-ran per reference — r17
    // optimization round, pair-bounded cache
    val cand0 = PipelineCaches.track(candidates
      .persist(StorageLevel.MEMORY_AND_DISK))
    cand0.count()
    // positional grams ONLY for docs that appear in a candidate pair —
    // at corpus scale the candidate doc set is orders of magnitude
    // smaller than the corpus, and non-candidate docs contribute
    // nothing to any pair span
    val candIds = cand0.select(col("doc_a").as("doc_id"))
      .unionByName(cand0.select(col("doc_b").as("doc_id")))
      .distinct()
    // Spread before the positional-gram explode (r18, guide §2.5): the
    // broadcast semi-join preserves the scan's 1-2 small-file splits, so
    // the kgrams+md5 pipeline otherwise runs on 2 cores; no-op at scale
    val grams = PipelineCaches.track(
      graft.scale.Spread.byKey(docs, "doc_id")
      .join(candIds, Seq("doc_id"), "left_semi")
      .withColumn("_t", coalesce(col("text"), lit("")))
      .select(col("doc_id"),
        size(TextOps.tokens(col("_t"))).cast("bigint").as("n_tokens"),
        posexplode(graft.functions.Kgrams.kgrams(
          col("_t"), k, keepShortWhole = true)).as(Seq("pos", "_g")))
      .select(col("doc_id"), col("n_tokens"), col("pos"),
        unhex(md5(col("_g"))).as("gram_key"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val bSet = grams.select(col("doc_id").as("doc_b"), col("gram_key"))
      .distinct()
    val cand = cand0.select("doc_a", "doc_b")
    val hits = cand
      .join(grams.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
      .join(bSet, Seq("doc_b", "gram_key"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("doc_a", "doc_b").orderBy("pos")))
      .groupBy(col("doc_a"), col("doc_b"),
        (col("pos") - col("_rn")).as("_isl"))
      .agg(count(lit(1)).as("_run"))
      .groupBy("doc_a", "doc_b").agg(
        sum("_run").cast("bigint").as("n_matched"),
        max("_run").as("_maxrun"))
    val aMeta = grams.groupBy(col("doc_id").as("doc_a")).agg(
      max("n_tokens").as("n_tokens_a"),
      count(lit(1)).cast("bigint").as("n_grams_a"))
    // LEFT join (round-15 advice fix): a stale candidate pair whose
    // doc_a is absent from docs keeps its row with NULL meta (and
    // span_frac NULL) — surfacing the inconsistency beats silently
    // discarding it, and "rows preserved" stays literally true
    cand.join(aMeta, Seq("doc_a"), "left")
      .join(hits, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("n_tokens_a"),
        col("n_grams_a"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        // explicit NULL branch: least() skips NULLs in both engines
        when(col("_maxrun").isNull, lit(0L))
          .otherwise(least(col("_maxrun") + lit(k - 1),
            col("n_tokens_a"))).cast("bigint").as("longest_span"))
      .withColumn("span_frac", round(
        col("longest_span").cast("double") /
          col("n_tokens_a").cast("double"), 6))
  }

  /** Shift-aware repeated-span REMOVAL — [[sharedSpans]]' treatment
    * half (detection says WHERE the any-alignment repeats are; this
    * CUTS them): for every candidate pair, the higher doc_id loses the
    * tokens covered by any shared island of ≥ `minSpanTokens` tokens
    * (keep-one at the span level — the lowest doc_id keeps its copy,
    * the Lee et al. 2021 policy [[spanDedup]] applies per aligned
    * segment, here applied at ANY alignment). Docs outside every
    * qualifying island — non-candidates included — return their text
    * untouched; rows preserved.
    *
    * Returns (doc_id, n_tokens, n_removed, clean_text). Integer-exact:
    * islands via pos − row_number, coverage [start, start+run+k−2]
    * clamped to the doc, token rebuild by sorted position — the oracle
    * replays all of it.
    *
    * Scale shape: [[sharedSpans]]' candidate-bounded envelope with the
    * roles flipped (positional grams ride the HIGHER side of each
    * pair, membership is the lower side's key set); coverage explodes
    * only qualifying island ranges; the rebuild aggregates by doc_id.
    * Prose crosses a shuffle exactly once — the final per-doc token
    * reassembly, the same cost class as [[spanDedup]]'s. */
  def removeSharedSpans(docs: DataFrame, candidates: DataFrame,
      k: Int = 3, minSpanTokens: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minSpanTokens >= k,
      s"minSpanTokens must be >= k ($k), got $minSpanTokens")
    // normalize orientation INSIDE the operator (round-15 advice fix):
    // keep-one means the HIGHER doc_id loses its copy, so a caller
    // passing ordered pairs (e.g. containmentJoinExact emits BOTH
    // orientations of a mutual near-dup) must not make both docs lose —
    // (least, greatest) + distinct restores the unordered contract; the
    // distinct rides the candidate-bounded pair relation.
    // Persisted + materialized (r17 optimization round): the normalized
    // pair set is referenced three times below (both candIds sides, the
    // islands join) and each lazy reference re-ran the caller's whole
    // candidate pipeline + this distinct. Pair-bounded cache.
    val cands = PipelineCaches.track(candidates
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK))
    cands.count()
    val candIds = cands.select(col("doc_a").as("doc_id"))
      .unionByName(cands.select(col("doc_b").as("doc_id")))
      .distinct()
    // Spread before the gram/token explodes (r18, guide §2.5 — the
    // sharedSpans rationale; no-op at scale)
    val docsSpread = graft.scale.Spread.byKey(docs, "doc_id")
    val grams = PipelineCaches.track(docsSpread
      .join(candIds, Seq("doc_id"), "left_semi")
      .withColumn("_t", coalesce(col("text"), lit("")))
      .select(col("doc_id"),
        size(TextOps.tokens(col("_t"))).cast("bigint").as("n_tokens"),
        posexplode(graft.functions.Kgrams.kgrams(
          col("_t"), k, keepShortWhole = true)).as(Seq("pos", "_g")))
      .select(col("doc_id"), col("n_tokens"), col("pos").cast("bigint")
        .as("pos"), unhex(md5(col("_g"))).as("gram_key"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    // membership = the LOWER side's key set; positions = the HIGHER
    // side's gram stream (roles flipped vs sharedSpans: we cut from
    // the doc that loses keep-one)
    val aSet = grams.select(col("doc_id").as("doc_a"), col("gram_key"))
      .distinct()
    val islands = cands
      .join(grams.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"))
      .join(aSet, Seq("doc_a", "gram_key"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("doc_b", "doc_a").orderBy("pos")))
      .groupBy(col("doc_b"), col("doc_a"),
        (col("pos") - col("_rn")).as("_isl"))
      .agg(count(lit(1)).as("_run"), min("pos").as("_start"),
        min("n_tokens").as("_n"))
      .filter(least(col("_run") + lit(k - 1), col("_n")) >=
        minSpanTokens)
    val covered = islands.select(col("doc_b").as("doc_id"),
        explode(sequence(col("_start"),
          least(col("_start") + col("_run") + lit(k - 2),
            col("_n") - 1))).as("tok_pos"))
      .distinct()
    val toks = docsSpread.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(TextOps.tokens(
        coalesce(col("text"), lit("")))).as(Seq("tok_pos", "_w")))
      .withColumn("tok_pos", col("tok_pos").cast("bigint"))
    val rebuilt = toks
      .join(covered, Seq("doc_id", "tok_pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("_kept"),
        expr("array_join(transform(array_sort(" +
          "collect_list(struct(tok_pos, _w))), x -> x._w), ' ')")
          .as("_clean"))
    val base = docs.select(col("doc_id"),
      size(TextOps.tokens(coalesce(col("text"), lit(""))))
        .cast("bigint").as("n_tokens"),
      coalesce(col("text"), lit("")).as("_orig"))
    base.join(covered.groupBy("doc_id")
          .agg(count(lit(1)).cast("bigint").as("_ncov")),
        Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("_ncov"), lit(0L)).as("n_removed"),
        // untouched docs (no coverage) keep their ORIGINAL text —
        // including whitespace shape, not a retokenized join
        when(col("_ncov").isNull, col("_orig"))
          .otherwise(coalesce(col("_clean"), lit(""))).as("clean_text"))
  }

  /** Per-document boilerplate fraction: the share of a doc's DISTINCT word
    * k-grams that also occur in ≥ `minDocs` DISTINCT documents — the
    * Dolma/RefinedWeb "duplicate-content fraction" signal. [[spanDedup]]
    * REMOVES corpus-repeated segments; this SCORES each document by how
    * much of it is corpus-repeated, so a pipeline can rank and threshold
    * (a doc that is 90% syndicated boilerplate is a drop candidate even
    * though each of its grams legitimately survives keep-one dedup).
    *
    * Plan shape at 100 TB: gram keys are the shared [[gramKeys]]
    * projection (md5 constant-width keys, prose never in a shuffle);
    * the per-gram document count is a partial-aggregated groupBy over the
    * distinct-gram-bounded key space; the join back is keyed by gram_key
    * and the final aggregate by doc_id — the standard two-shuffle
    * dedup-tier shape, no global sort, rows preserved (every doc emits ≥ 1
    * gram via the keep-short-whole branch; a whole-text gram shared by
    * `minDocs` exact copies counts as boilerplate, which is the right
    * verdict). The gram relation is persisted for its two consumers
    * (count side, join side) so the corpus shingles once. */
  def boilerplateFrac(docs: DataFrame, k: Int = 5, minDocs: Int = 2)
      : DataFrame = {
    require(minDocs >= 2, s"minDocs must be at least 2, got $minDocs")
    val grams = PipelineCaches.track(
      gramKeys(docs, k).persist(StorageLevel.MEMORY_AND_DISK))
    val gramDocs = grams
      // gramKeys is distinct per doc, so count(*) = distinct docs
      .groupBy("gram_key").agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") >= minDocs)
    grams.join(gramDocs, Seq("gram_key"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_grams"),
        sum(when(col("_nd").isNotNull, 1L).otherwise(0L)).cast("bigint")
          .as("shared_grams"))
      .withColumn("boilerplate_frac",
        round(col("shared_grams").cast("double") /
          col("n_grams").cast("double"), 6))
  }
}
