package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING (Sennrich et al. 2016) as a
  * distributed pipeline — the piece [[TextOps.buildVocab]] (word-level
  * vocab fit) and the token-count heuristics stop short of: learn the
  * subword merge table itself from corpus statistics.
  *
  * Algorithm shape on Spark:
  *  1. one corpus-sized aggregation builds the (word, freq) table —
  *     the ONLY corpus-scale stage, persisted once;
  *  2. each word is symbolized as its characters joined by a TWO-SPACE
  *     separator plus a trailing `_` end-of-word marker
  *     ("cat" → "c  a  t  _");
  *  3. each merge round counts adjacent symbol pairs over the VOCAB
  *     table weighted by word freq (vocabulary-sized, never corpus-
  *     sized), picks the most frequent pair (ties break on the pair
  *     string ascending), and rewrites every word with one
  *     `regexp_replace` — `(^| )A  B( |$)` → `$1AB$2`.
  *
  * The two-space separator is what makes the single regex pass EXACTLY
  * the left-to-right non-overlapping merge BPE specifies: each match
  * consumes at most one boundary space, so adjacent occurrences
  * ("a  b  a  b") still both merge, while a one-space join would let
  * the first match swallow the second's boundary. Both Java regex and
  * RE2 replace leftmost-non-overlapping, so the DuckDB oracle replays
  * the rewrite verbatim.
  *
  * Determinism contract: only words matching `^[a-z0-9]+$` participate
  * (symbols then stay in `[a-z0-9_]+` — no regex metacharacters ever
  * reach the dynamically-built pattern), counts are exact longs, and
  * the argmax tie-break is binary string order — identical in both
  * engines.
  *
  * Scale shape: after the one corpus aggregation, every stage is
  * vocabulary-bounded. The per-round argmax is a 1-row driver collect —
  * the same bounded index-metadata envelope as IVF seeds and PQ
  * codebooks. A 100 TB corpus with a 10M-word vocabulary pays the
  * corpus scan once and then 10M-row rounds.
  */
object Bpe {

  /** (merge table, final vocab symbolization). Merge table: one row per
    * round — (round, lhs, rhs, merged, pair_count); vocab: (word, freq,
    * syms, n_tokens) after all merges. */
  case class BpeModel(merges: DataFrame, vocab: DataFrame)

  private[graft] def initialVocab(docs: DataFrame): DataFrame =
    // Spread first (r18, guide §2.5): the word explode + regex filter is
    // the corpus-sized stage and otherwise inherits a small scan's 1-2
    // splits; no-op whenever the input already has >= cores partitions
    graft.scale.Spread.byKey(docs, "doc_id")
      .select(explode(split(coalesce(col("text"), lit("")), " "))
        .as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      // "cat" → "c  a  t  _": every char emits itself + the two-space
      // separator, then the end-of-word marker (identical one-regex
      // derivation in the DuckDB oracle — no split-on-empty edge cases)
      .withColumn("syms",
        concat(regexp_replace(col("word"), "(.)", "$1  "), lit("_")))

  /** Train `nMerges` BPE merges on the corpus. With `strict` (the
    * default) the corpus must support the full budget (each round must
    * find at least one pair) — too small a corpus raises rather than
    * silently returning a shorter table. `strict = false` clamps to what
    * the corpus sustains instead (the DSL `bpe_token_count` kernel's
    * contract: a caller who never chose the budget must not be failed by
    * it), stopping at the first exhausted round. */
  def train(
      spark: SparkSession, docs: DataFrame, nMerges: Int,
      strict: Boolean = true): BpeModel = {
    require(nMerges > 0 && nMerges <= 1000,
      s"nMerges must be in [1, 1000], got $nMerges")
    import spark.implicits._
    // the one corpus-sized stage: persist so the k rounds re-read a
    // vocabulary-sized cache, not the corpus
    var vocab = PipelineCaches.track(initialVocab(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    vocab.count()
    // each round persists its rewrite and releases the previous round
    // once the new one has materialized (the argmax action below does) —
    // without this, round r's argmax replays r chained regexes from the
    // initial cache and the loop is O(k²) in the merge budget
    var prev: Option[DataFrame] = None
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= nMerges && !exhausted) {
      // fully-merged one-symbol words have no pairs: sequence(1, 0)
      // counts DOWN in Spark and arr[1] errors under ANSI, so the guard
      // is load-bearing, not cosmetic
      val pairs = vocab
        .select(col("freq"), split(col("syms"), "  ").as("_l"))
        .select(col("freq"), explode(expr(
          "CASE WHEN size(_l) >= 2 THEN transform(sequence(1, size(_l) - 1), " +
            "i -> concat(_l[i - 1], ' ', _l[i])) " +
            "ELSE CAST(array() AS array<string>) END")).as("pair"))
        .groupBy("pair").agg(sum("freq").as("c"))
      // bounded driver collect: ONE row of index metadata per round
      val best = pairs.orderBy(col("c").desc, col("pair").asc)
        .limit(1).collect()
      // this action materialized the current round's persisted vocab —
      // the previous round's cache is now dead weight
      prev.foreach(_.unpersist(blocking = false))
      if (best.isEmpty) {
        require(!strict,
          s"corpus exhausted at merge round $round of $nMerges — every " +
            "word is a single symbol; lower the merge budget")
        exhausted = true
      } else {
        val Array(lhs, rhs) = best.head.getString(0).split(" ", 2)
        merges += ((round, lhs, rhs, lhs + rhs, best.head.getLong(1)))
        prev = Some(vocab)
        // symbols are [a-z0-9_]+ by construction — safe as regex literals
        vocab = PipelineCaches.track(
          vocab.withColumn("syms", regexp_replace(col("syms"),
            s"(^| )$lhs  $rhs( |$$)", s"$$1$lhs$rhs$$2"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        round += 1
      }
    }
    val mergeDf = merges.result()
      .toDF("round", "lhs", "rhs", "merged", "pair_count")
    val finalVocab = vocab.withColumn("n_tokens",
      size(split(col("syms"), "  ")).cast("bigint"))
      .select("word", "freq", "syms", "n_tokens")
    BpeModel(mergeDf, finalVocab)
  }

  /** The REAL-BUDGET training path (Sennrich's learn_bpe / HF tokenizers
    * do exactly this): ONE corpus-sized aggregation builds the word-freq
    * table, the top-`maxVocab` words by (freq desc, word asc) are
    * collected — a bounded driver table, the same envelope as
    * [[TextOps.buildVocab]] — and the merge loop runs driver-local with
    * learn_bpe's incremental structure (pair counts + inverted
    * occurrence index + ordered argmax), so a round costs O(occurrences
    * of the merged pair), not O(total symbols): a 32k-merge budget is
    * seconds, not 64k Spark jobs.
    * [[train]]'s distributed rounds stay the uncapped-vocabulary path
    * (and the oracle-replayed reference); this is the production fast
    * path, pinned merge-for-merge identical to it in `BpeSpec` (same
    * counts, same pair tie-break — symbols are ASCII, so JVM string
    * order equals Spark's UTF8 binary order). */
  def trainLocal(
      spark: SparkSession, docs: DataFrame, nMerges: Int,
      maxVocab: Int = 1000000): BpeModel = {
    // fail fast: the corpus aggregation below is the expensive stage —
    // an invalid budget must not pay it first
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    require(maxVocab > 0, s"maxVocab must be positive, got $maxVocab")
    val collected = initialVocab(docs)
      .orderBy(col("freq").desc, col("word").asc).limit(maxVocab)
      .select("word", "freq").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    trainLocalVocab(spark, collected, nMerges)
  }

  /** [[trainLocal]]'s driver-local merge loop over an already-collected
    * (word, freq) table — split out so the loop's cost can be measured
    * independently of the corpus aggregation (BASELINE.md, "The real-budget
    * BPE claim, measured" and "trainLocal at a real budget, re-measured
    * r12"). */
  private[graft] def trainLocalVocab(
      spark: SparkSession, collected: Array[(String, Long)],
      nMerges: Int): BpeModel = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    import spark.implicits._
    import scala.collection.mutable
    // symbol sequences, mutable per word: chars + end-of-word marker
    val words = collected.map { case (w, f) =>
      (mutable.ArrayBuffer(w.map(_.toString) :+ "_": _*), f)
    }
    // learn_bpe's incremental structure: global pair counts, an inverted
    // pair → word-index occurrence set (lazily stale — merged-away words
    // are skipped on touch), and an ordered view for argmax, so a round
    // costs O(occurrences of the merged pair), not O(total symbols).
    // The ordering is the distributed tie-break exactly: count desc,
    // then the "lhs rhs" pair string ascending (symbols are ASCII, so
    // JVM string order equals Spark's UTF8 binary order).
    val counts = mutable.HashMap.empty[(String, String), Long]
    val occurs = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    val ord = new java.util.TreeSet[(String, String)](
      new java.util.Comparator[(String, String)] {
        def compare(p: (String, String), q: (String, String)): Int = {
          val c = java.lang.Long.compare(
            counts.getOrElse(q, 0L), counts.getOrElse(p, 0L))
          if (c != 0) c
          else (p._1 + " " + p._2).compareTo(q._1 + " " + q._2)
        }
      })
    def wordPairs(syms: mutable.ArrayBuffer[String])
        : mutable.HashMap[(String, String), Long] = {
      val m = mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < syms.length - 1) {
        val key = (syms(i), syms(i + 1))
        m.update(key, m.getOrElse(key, 0L) + 1L)
        i += 1
      }
      m
    }
    // the TreeSet comparator reads `counts`, so every count change must
    // remove-first / re-add-after or the tree's invariants break
    def bump(p: (String, String), wi: Int, delta: Long): Unit = {
      ord.remove(p)
      val next = counts.getOrElse(p, 0L) + delta
      if (next > 0) {
        counts(p) = next
        ord.add(p)
        if (delta > 0) occurs.getOrElseUpdate(p, mutable.Set.empty) += wi
      } else {
        counts.remove(p); occurs.remove(p)
      }
      ()
    }
    words.zipWithIndex.foreach { case ((syms, f), wi) =>
      wordPairs(syms).foreach { case (p, n) => bump(p, wi, n * f) }
    }
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var round = 1
    while (round <= nMerges) {
      require(!ord.isEmpty,
        s"corpus exhausted at merge round $round of $nMerges — every " +
          "word is a single symbol; lower the merge budget")
      val best @ (lhs, rhs) = ord.first()
      merges += ((round, lhs, rhs, lhs + rhs, counts(best)))
      // touch ONLY the words that (ever) contained the pair; recompute
      // each one's pair multiset before/after the in-place left-to-right
      // non-overlapping merge and apply weighted deltas
      occurs.get(best).map(_.toArray).getOrElse(Array.empty).foreach { wi =>
        val (syms, f) = words(wi)
        val before = wordPairs(syms)
        if (before.contains(best)) {
          var i = 0
          while (i < syms.length - 1) {
            if (syms(i) == lhs && syms(i + 1) == rhs) {
              syms(i) = lhs + rhs
              syms.remove(i + 1)
            }
            i += 1
          }
          val after = wordPairs(syms)
          (before.keySet ++ after.keySet).foreach { p =>
            val d = after.getOrElse(p, 0L) - before.getOrElse(p, 0L)
            if (d != 0) bump(p, wi, d * f)
          }
        }
      }
      // all occurrences merged away ⇒ the pair's count reached zero via
      // the deltas; drop any residue defensively
      ord.remove(best); counts.remove(best); occurs.remove(best)
      round += 1
    }
    val mergeDf = merges.result()
      .toDF("round", "lhs", "rhs", "merged", "pair_count")
    val finalVocab = words.toSeq.zip(collected).map {
      case ((syms, f), (w, _)) =>
        (w, f, syms.mkString("  "), syms.length.toLong)
    }.toDF("word", "freq", "syms", "n_tokens")
    BpeModel(mergeDf, finalVocab)
  }

  /** Persist a trained model: merges (one small file — merge-budget
    * rows) + vocab parquet under `path`, the trained-artifact store the
    * RP/PQ indexes already have. Refreshing a LIVE store goes through
    * [[graft.scale.StoreMaint.replaceStore]] (crash-safe swap) exactly
    * like the signature index; this writes the initial layout. */
  def saveBpeModel(model: BpeModel, path: String): Unit = {
    model.merges.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/merges")
    model.vocab.write.mode("overwrite").parquet(s"$path/vocab")
  }

  /** Reload a persisted model. Both tables stay distributed scans (the
    * vocab can be 10M rows at corpus scale); [[encode]] broadcasts only
    * the (word, n_tokens) projection it needs. */
  def loadBpeModel(spark: SparkSession, path: String): BpeModel =
    BpeModel(spark.read.parquet(s"$path/merges"),
      spark.read.parquet(s"$path/vocab"))

  /** FULL tokenizer apply: subword-tokenize every distinct trainable
    * word of the corpus against the trained merge table — including
    * words the training corpus never saw, the capability [[encode]]'s
    * vocab-membership join deliberately stops short of (an OOV word
    * there counts toward `n_oov_words` and contributes no tokens; here
    * it gets its true subword decomposition, like a deployed
    * subword-nmt/HF tokenizer). One native codegen projection per word
    * ([[graft.functions.BpeTokens]] — rank-based apply, merge table as
    * a bounded reference object); the corpus side aggregates to
    * DISTINCT words first, so the expression runs once per word, not
    * once per occurrence. Returns (word, syms, n_tokens) in the
    * training vocab's two-space symbolization. */
  def tokenize(docs: DataFrame, model: BpeModel): DataFrame = {
    // merge-budget rows of driver metadata — the IVF-seed envelope
    val merges = model.merges.orderBy("round").select("lhs", "rhs")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    docs.select(explode(split(coalesce(col("text"), lit("")), " "))
        .as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .distinct()
      .select(col("word"), graft.functions.BpeExpressions
        .bpeTokens(col("word"), merges).as("_t"))
      .select(col("word"), array_join(col("_t"), "  ").as("syms"),
        size(col("_t")).cast("bigint").as("n_tokens"))
  }

  /** Apply a trained model to the corpus: per-doc word and subword-token
    * counts. The vocab is vocabulary-sized and BROADCAST — the corpus
    * side explodes to (doc_id, word) and aggregates straight back to
    * doc_id, so nothing corpus-sized ever shuffles by word. Words outside
    * the trainable alphabet (non-`[a-z0-9]+` — dropped at training time)
    * count toward `n_words` but contribute no subword tokens, reported
    * separately as `n_oov_words`. */
  def encode(docs: DataFrame, model: BpeModel): DataFrame = {
    // empty/NULL-text docs have no words — preserved with zero counts
    docs.select("doc_id").join(encodeAgg(docs, model), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_nw"), lit(0L)).as("n_words"),
        coalesce(col("_noov"), lit(0L)).as("n_oov_words"),
        coalesce(col("_nbpe"), lit(0L)).as("n_bpe_tokens"))
  }

  /** Per-language tokenizer FERTILITY card — the release-sheet row that
    * says how efficiently the trained tokenizer spends context budget on
    * each language (HF tokenizer-analysis fertility: subword tokens per
    * word; a lang at 2.5x another's fertility gets 2.5x less text per
    * sequence — the classic multilingual-tokenizer inequity number).
    * One row per lang: word/OOV/subword counts, fertility = subwords
    * per IN-VOCAB word (NULL when every word is OOV — no silent 0/0),
    * and the OOV rate.
    *
    * Scale shape: ONE corpus pass — words explode with their lang
    * carried, the vocabulary-bounded (word, n_tokens) table broadcasts
    * on, and a lang-keyed map-side-combined aggregation bounds the
    * output by language count. No doc_id join anywhere. */
  def fertilityCard(docs: DataFrame, model: BpeModel): DataFrame =
    fertilityCard(docs, model.vocab)

  /** [[fertilityCard]] against any tokenizer's (word, n_tokens) vocab
    * table — BPE's symbolization or [[Unigram]]'s Viterbi segmentation
    * (`model.vocab`) plug in identically (r14 verdict task 5: the card
    * accepts either model family). */
  def fertilityCard(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs.select(col("lang"),
        explode(split(coalesce(col("text"), lit("")), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(vocab.select("word", "n_tokens")),
        Seq("word"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).cast("bigint").as("n_words"),
        sum(when(col("n_tokens").isNull, 1L).otherwise(0L)).cast("bigint")
          .as("n_oov_words"),
        coalesce(sum("n_tokens"), lit(0L)).cast("bigint")
          .as("n_bpe_tokens"))
      .select(col("lang"), col("n_words"), col("n_oov_words"),
        col("n_bpe_tokens"),
        when(col("n_words") === col("n_oov_words"),
          lit(null).cast("double"))
          .otherwise(round(col("n_bpe_tokens").cast("double") /
            (col("n_words") - col("n_oov_words")).cast("double"), 6))
          .as("fertility"),
        round(col("n_oov_words").cast("double") /
          col("n_words").cast("double"), 6).as("oov_rate"))

  /** [[encode]]'s per-doc aggregation over docs that HAVE words — split
    * out so card-level consumers ([[TextOps.packPlanBpe]]) can zero-fill
    * wordless docs from a 1-row corpus count instead of paying the
    * corpus-sized doc_id join-back that the row-preserving [[encode]]
    * output needs. */
  private[llm] def encodeAgg(docs: DataFrame, model: BpeModel): DataFrame =
    docs.select(col("doc_id"),
        explode(split(coalesce(col("text"), lit("")), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(model.vocab.select("word", "n_tokens")),
        Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("_nw"),
        sum(when(col("n_tokens").isNull, 1L).otherwise(0L)).as("_noov"),
        coalesce(sum("n_tokens"), lit(0L)).as("_nbpe"))
}
