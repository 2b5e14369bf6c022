package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{Curation, Dedup}

/** Driver-gate entries for the corpus-curation tier (SURVEY §2.8 extension):
  * benchmark decontamination, repetition/quality metrics, PII scrubbing,
  * duplicate-group assignment over the MinHash candidate graph,
  * repeated-span removal, and RAG chunking. All fully DuckDB-oracled —
  * the md5 gram/segment keys, RE2-compatible regexes, unrolled
  * label-propagation rounds, and list-slice window arithmetic replay
  * exactly.
  */
object CurationQueries {

  private def docs(s: SparkSession, dir: String): DataFrame = {
    Tables.register(s, dir); s.table("documents")
  }

  /** The crawl-refresh batch pair (planted near-dups, verbatim
    * re-crawls) shared by q_paragraph_incremental and
    * q_stream_paragraph — ONE definition on purpose: the two entries
    * share `paragraphRefreshOracleSql`, which is valid only while their
    * batch sets are byte-identical. Ids derive from max(doc_id)+1 (one
    * bounded agg), so the crawl-refresh ordering contract holds at
    * every fixture scale — fixed offsets would collide with the sf1
    * tiled id ranges. The oracle computes the same base the same way. */
  private def paragraphRefreshBatches(d: DataFrame)
      : (DataFrame, DataFrame) = {
    val base = d.agg(max(col("doc_id")).cast("long"))
      .collect()(0).getLong(0) + 1L
    val planted = d.filter(col("doc_id") % 10 === 0)
      .withColumn("_w", split(col("text"), " "))
      .select((col("doc_id") + base).as("doc_id"),
        concat(array_join(slice(col("_w"), 1, 8), " "),
          lit(" zq zr qx qy qz qw qv qu")).as("text"))
    val recrawl = d.filter(col("doc_id") % 15 === 0)
      .select((col("doc_id") + 2L * base).as("doc_id"), col("text"))
    (planted, recrawl)
  }

  /** Trimmed-copy mutation shared with the dedup entries: near-dup, not
    * identical, so gram overlap is partial and candidate pairs are real. */
  private def trimmed(d: DataFrame): DataFrame = d.select(
    (col("doc_id") + 100000L).as("doc_id"),
    expr("substring(text, 1, greatest(length(text) - 12, 1))").as("text"))

  /** Train-once quality-classifier store (r13 verdict task 2): the
    * first classifier entry to run trains the 5-step trajectory and
    * persists the weights (the saveBpeModel artifact layout); every
    * entry — including re-runs of the same entry in the bench — then
    * scores/audits against the STORE. This is the production shape
    * (train once, audit many); the DuckDB oracles still replay the full
    * trajectory, so a green hash re-proves store == inline every round.
    * Keyed by fixture dir so sf0.01 verify and sf0.1 bench never share
    * weights. */
  private val lrStorePaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def lrModelFor(s: SparkSession, dir: String): graft.llm.LrModel =
    Curation.loadLrModel(s, lrStorePaths.computeIfAbsent(dir, _ => {
      val path = EventQueries.scratchDir("graft_lr_store").toString
      val w = Curation.lrWeights(docs(s, dir),
        col("source") === "src0", buckets = 256, iters = 5, lr = 0.5)
      Curation.saveLrModel(graft.llm.LrModel(w, 256, 5, 0.5), path)
      path
    }))

  /** (doc_id, _y) labels for the classifier audits — positives = src0,
    * the same labeling the store was trained with. */
  private def lrLabels(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      when(col("source") === "src0", 1L).otherwise(0L).as("_y"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // benchmark = every 10th doc; train = the rest plus trimmed copies of
    // the benchmark docs (guaranteed contamination with partial overlap)
    "q_decontaminate" -> { (s, dir) =>
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
      val train = d.filter(col("doc_id") % 10 =!= 0).select("doc_id", "text")
        .unionAll(trimmed(bench))
      Curation.decontaminate(train, bench, k = 5)
    },

    "q_quality_repetition" -> { (s, dir) =>
      Curation.repetitionMetrics(docs(s, dir))
    },

    // per-doc boilerplate fraction (share of a doc's distinct 5-grams
    // occurring in >= 2 docs): corpus = originals + trimmed copies of
    // every 5th doc, so cross-doc gram overlap is PLANTED — copies and
    // their sources score high, unrelated docs score ~0
    "q_boilerplate_frac" -> { (s, dir) =>
      val d = docs(s, dir)
      Curation.boilerplateFrac(
        d.select("doc_id", "text")
          .unionAll(trimmed(d.filter(col("doc_id") % 5 === 0))),
        k = 5, minDocs = 2)
    },

    // Bloom-fingerprint decontamination: q_decontaminate's bench/train
    // construction, but the benchmark ships as a 64k-bit bitset reference
    // object instead of a broadcast gram table — deterministic md5-slice
    // positions, so the oracle replays false positives exactly
    "q_decontaminate_bloom" -> { (s, dir) =>
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
      val train = d.filter(col("doc_id") % 10 =!= 0).select("doc_id", "text")
        .unionAll(trimmed(bench))
      Curation.decontaminateBloom(train,
        Curation.bloomBits(bench, k = 5), k = 5)
    },

    // DSIR importance weights (Xie et al. 2023): English docs as the
    // target domain, the whole corpus as raw; hashed-unigram (1024
    // md5 buckets) log-likelihood-ratio per doc
    "q_dsir_weights" -> { (s, dir) =>
      val d = docs(s, dir)
      Curation.dsirWeights(d, d.filter(col("lang") === "en"),
        buckets = 1024, alpha = 0.5)
    },

    // Moore-Lewis cross-entropy difference (2010): every doc scored
    // under the English-target bigram LM minus the raw-corpus LM;
    // strongly negative = domain-like
    "q_ce_delta" -> { (s, dir) =>
      val d = docs(s, dir)
      Curation.crossEntropyDelta(d, d.filter(col("lang") === "en"),
        alpha = 0.5)
    },

    // exact-dup token-savings card over a corpus with PLANTED exact
    // copies (every 4th doc duplicated at +100000): the release-notes
    // "dedup saved X% of tokens" row, all-integer
    "q_dedup_savings" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      Curation.dedupSavings(d.unionAll(
        d.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))))
    },

    // corpus snapshot CHANGELOG with all four statuses PLANTED: v_old
    // drops id%3==1, v_new drops id%3==0 (adds/removes), and v_new trims
    // id%5==0 survivors (changed fingerprints); everything else is
    // unchanged
    "q_corpus_diff" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val vOld = d.filter(col("doc_id") % 3 =!= 1)
      val vNew = d.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            expr("substring(text, 1, greatest(length(text) - 12, 1))"))
            .otherwise(col("text")).as("text"))
      Curation.corpusDiff(vOld, vNew)
    },

    // domain long-tail coverage: how many sources (largest-first) cover
    // 50/90/99% of token mass — cutoffs decided by integer
    // cross-multiplication, the concentrationCard's tail-side complement
    "q_domain_tail" -> { (s, dir) =>
      Curation.domainTailCard(docs(s, dir))
    },

    // exact Mann-Whitney ROC-AUC of the classifier: 2U computed
    // all-integer over the 6-dp score histogram (textbook half-credit
    // ties), one division at the very end — the RANKING audit next to
    // the calibration card's probability audit. Audits the STORED
    // weights (train-once store; the oracle replays the trajectory, so
    // the hash gate re-proves store == inline)
    "q_classifier_auc" -> { (s, dir) =>
      val d = docs(s, dir)
      Curation.aucFromScored(
        Curation.scoreWithLr(d, lrModelFor(s, dir).weights, 256),
        lrLabels(d))
    },

    // calibration audit of the classifier: decile reliability rows
    // (mean predicted prob vs empirical positive rate, bins
    // integer-exact off the 6-dp probability lattice) + the NULL-bin
    // ECE total — scored against the train-once STORE
    "q_classifier_calibration" -> { (s, dir) =>
      val d = docs(s, dir)
      Curation.calibrationFromScored(
        Curation.scoreWithLr(d, lrModelFor(s, dir).weights, 256),
        lrLabels(d))
    },

    // longest-verbatim-overlap contamination card (the LENGTH read of
    // decontamination): per benchmark doc, the longest run of
    // consecutive positions whose 8-grams all occur in train -> longest
    // shared token span; train carries trimmed benchmark copies, so
    // long spans are PLANTED and scattered phrase hits stay short
    "q_contamination_span" -> { (s, dir) =>
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
      val train = d.filter(col("doc_id") % 10 =!= 0).select("doc_id", "text")
        .unionAll(trimmed(bench))
      Curation.contaminationSpan(train, bench, k = 8)
    },

    // discriminative quality classifier (the GPT-3-style curated-vs-raw
    // linear filter): 5 full-batch gradient-descent steps of logistic
    // regression over 256 hashed-unigram buckets + intercept, positives
    // = src0 docs; exact-decimal gradients on a 6-dp weight/probability
    // lattice, so the oracle REPLAYS the entire training trajectory and
    // then scores every doc with the same final weights. The entry
    // scores against the train-once STORE (first classifier entry to
    // run pays the 5-step training exactly once per session)
    "q_quality_classifier" -> { (s, dir) =>
      Curation.scoreWithLr(docs(s, dir), lrModelFor(s, dir).weights, 256)
    },

    // corpus data card: ROLLUP(lang, source) doc/token/length/exact-dup
    // statistics — one grouping-sets pass + the dup-hash join
    "q_corpus_report" -> { (s, dir) =>
      Curation.corpusReport(docs(s, dir))
    },

    // Gopher document-quality rules with per-rule audit booleans; bands
    // chosen so every rule discriminates on the fixture corpus (keeps
    // ~60%: word count 20-90, avg len >= 4.0, >= 2 stopwords, top-word
    // dominance <= 0.12)
    "q_gopher_filter" -> { (s, dir) =>
      Curation.gopherFilter(docs(s, dir), minWords = 20, maxWords = 90,
        minAvgWordLen = 4.0, maxAvgWordLen = 10.0,
        minStopwordHits = 2, maxTopWordFrac = 0.12)
    },

    // C4 page-level cleaning rules over a marker-planted corpus: the
    // fixture text is clean word soup, so each %4 class of the planted
    // copies carries exactly one marker family (lorem / brace / policy /
    // javascript) and the original rows exercise only the word floor
    "q_c4_filter" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val planted = d.select(
        (col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0, lit(" lorem ipsum dolor sit"))
            .when(col("doc_id") % 4 === 1, lit(" function() { return 1; }"))
            .when(col("doc_id") % 4 === 2,
              lit(" this site uses cookies see our privacy policy"))
            .otherwise(lit(" please enable javascript to continue")))
          .as("text"))
      Curation.c4Rules(d.unionAll(planted), minWords = 30)
    },

    // corpus-fitted bigram-LM cross-entropy / perplexity per doc
    // (CCNet-style quality scoring, add-0.5 smoothing)
    "q_lm_perplexity" -> { (s, dir) =>
      Curation.lmPerplexity(docs(s, dir), alpha = 0.5)
    },

    // CCNet head/middle/tail buckets: per-LANGUAGE percent-rank of the
    // bigram-LM perplexity, cut at 1/3 and 2/3 — the per-language
    // histogram rank, never a one-partition-per-language row window
    "q_ccnet_buckets" -> { (s, dir) =>
      Curation.ccnetBuckets(docs(s, dir))
    },

    // BPE tokenizer TRAINING (Sennrich 2016): 8 merge rounds learned
    // from corpus pair statistics — one corpus-sized aggregation, then
    // vocabulary-bounded rounds; the oracle replays all 8 unrolled
    // rounds including each round's argmax
    "q_bpe_merges" -> { (s, dir) =>
      graft.llm.Bpe.train(s, docs(s, dir), nMerges = 8)
        .merges.orderBy("round")
    },

    // the trained model APPLIED: every vocab word's final subword
    // symbolization + token count after the same 8 merges
    "q_bpe_vocab" -> { (s, dir) =>
      graft.llm.Bpe.train(s, docs(s, dir), nMerges = 8).vocab
    },

    // corpus-side apply: per-doc word / OOV / subword-token counts via a
    // broadcast vocab join — the corpus never shuffles by word. Training
    // here is the PRODUCTION path (trainLocal: one corpus agg, driver-
    // local merge loop — BpeSpec pins it merge-for-merge identical to
    // the distributed rounds, and the DuckDB oracle re-proves the
    // equality every round): the distributed-rounds twin q_bpe_vocab /
    // q_bpe_merges already oracle that path, and its 8-round multi-job
    // shape made THIS entry the bench's one scheduler-pressure
    // amplifier (r12 driver flag: 3.43x under load, 1.16x isolated)
    "q_bpe_encode" -> { (s, dir) =>
      val d = docs(s, dir)
      graft.llm.Bpe.encode(d, graft.llm.Bpe.trainLocal(s, d, nMerges = 8))
    },

    // FULL tokenizer apply on OUT-OF-VOCABULARY text: train on the
    // original corpus, tokenize the alphabet-rotated corpus — every
    // rotated word is unseen, and the native rank-based apply
    // (BpeTokens) must decompose it exactly as replaying the trained
    // rounds would. The oracle replays precisely that: the training
    // CTE's per-round argmax pairs applied to the rotated words as the
    // same regex chain — legal because a merge learned at round r can
    // never gain NEW adjacencies from later rounds, so round-sequential
    // apply equals the rank-based tokenizer
    "q_bpe_tokenize" -> { (s, dir) =>
      val d = docs(s, dir)
      val abc = "abcdefghijklmnopqrstuvwxyz"
      val rot = abc.drop(5) + abc.take(5)
      val rotated = d.select(col("doc_id"),
        translate(col("text"), abc, rot).as("text"))
      graft.llm.Bpe.tokenize(rotated, graft.llm.Bpe.train(s, d, nMerges = 8))
    },

    // the corpus has no real PII, so deterministic addresses/numbers are
    // injected into every 7th doc — the scrub and its audit counts are
    // exercised on non-trivial input and the oracle injects identically
    "q_pii_scrub" -> { (s, dir) =>
      val injected = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com or +1 (555) 010-"),
            col("doc_id").cast("string")))
          .otherwise(col("text")).as("text"))
      Curation.piiScrub(injected)
    },

    // banded MinHash candidates (md5 family) -> connected components;
    // every doc in the doubled corpus gets a dup_group. The oracle is 3
    // unrolled min-label rounds, which q_dedup_groups_cc's closure oracle
    // shows reach the fixpoint on this graph
    "q_dedup_groups" -> { (s, dir) =>
      val d = docs(s, dir)
      val corpus = d.select("doc_id", "text").unionAll(trimmed(d))
      val cands = Dedup.minhashCandidates(
        corpus, k = 3, numHashes = 8, bands = 4, minEstJaccard = 0.5,
        oracleHashes = true)
      Curation.dupGroups(corpus.select("doc_id"), cands)
    },

    // same candidate graph and operator, checked against an
    // algorithm-independent oracle: a recursive closure computing TRUE
    // connected components — so this entry also proves that the 3-round
    // min-label oracle of q_dedup_groups equals the closure on this graph
    "q_dedup_groups_cc" -> { (s, dir) =>
      val d = docs(s, dir)
      val corpus = d.select("doc_id", "text").unionAll(trimmed(d))
      val cands = Dedup.minhashCandidates(
        corpus, k = 3, numHashes = 8, bands = 4, minEstJaccard = 0.5,
        oracleHashes = true)
      Curation.dupGroups(corpus.select("doc_id"), cands)
    },

    // representative selection after dup-grouping — the PRODUCTION keep
    // rule: keep the LONGEST member of every near-dup group (Lee et al.
    // keep-longest; here the original always beats its trimmed copy),
    // ties to the smallest id, via one bounded-state max_by aggregation
    // — never a per-group member list or window
    "q_dedup_keep_best" -> { (s, dir) =>
      val d = docs(s, dir)
      val corpus = d.select("doc_id", "text").unionAll(trimmed(d))
      val cands = Dedup.minhashCandidates(
        corpus, k = 3, numHashes = 8, bands = 4, minEstJaccard = 0.5,
        oracleHashes = true)
      val groups = Curation.dupGroups(corpus.select("doc_id"), cands)
      Curation.keepBestPerGroup(groups, Curation.byteLenScore(corpus))
    },

    // leakage-safe 80/10/10 split over the same doubled corpus: every
    // near-dup group (original + trimmed copy) lands WHOLE in one split,
    // keyed by the md5 bucket of the group label — a trimmed copy can
    // never sit in train while its original is held out
    "q_leakage_split" -> { (s, dir) =>
      val d = docs(s, dir)
      val corpus = d.select("doc_id", "text").unionAll(trimmed(d))
      val cands = Dedup.minhashCandidates(
        corpus, k = 3, numHashes = 8, bands = 4, minEstJaccard = 0.5,
        oracleHashes = true)
      Curation.leakageSafeSplit(
        Curation.dupGroups(corpus.select("doc_id"), cands),
        trainPct = 80, valPct = 10)
    },

    // context-length packing planner: one-row card of token-count
    // quantiles, overflow at seqLen=64, the concatenation-packing
    // sequence count, and the one-doc-per-sequence padding waste
    "q_pack_plan" -> { (s, dir) =>
      graft.llm.TextOps.packPlan(docs(s, dir), seqLen = 64)
    },

    // shard-local GPT-style sequence packing: each doc's span in the
    // concatenated token stream of its shard (no global sort anywhere)
    "q_seq_pack" -> { (s, dir) =>
      graft.llm.TextOps.seqPack(docs(s, dir), seqLen = 64, nShards = 8)
    },

    // corpus-wide most-frequent trigrams (sort+limit = TakeOrdered)
    "q_top_ngrams" -> { (s, dir) =>
      graft.llm.TextOps.topNgrams(docs(s, dir), k = 3, n = 20)
    },

    // distinct-1/2/3 diversity card in ONE corpus pass (per-n gram
    // arrays built in the same projection, flattened, counted once)
    "q_distinct_ngrams" -> { (s, dir) =>
      graft.llm.TextOps.distinctNgramCard(docs(s, dir), Seq(1, 2, 3))
    },

    // exact-dup group-size distribution over a planted corpus: every
    // 5th doc gets one extra copy, every 10th two — sizes 1/2/3 with
    // known counts
    "q_dup_size_card" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val copy1 = d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val copy2 = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
      graft.llm.Curation.dupSizeCard(d.unionAll(copy1).unionAll(copy2))
    },

    // source-concentration governance card: HHI, Gini, and top-domain
    // shares — every statistic integer-exact over the per-source counts
    "q_domain_hhi" -> { (s, dir) =>
      graft.llm.Curation.concentrationCard(
        docs(s, dir).select("doc_id", "source"), "source")
    },

    // per-language tokenizer fertility: subword tokens per in-vocab
    // word + OOV rate from the trained model — the multilingual
    // context-budget inequity row; one corpus pass, lang carried
    // through the word explode, vocab broadcast, no doc_id join
    "q_bpe_fertility" -> { (s, dir) =>
      val d = docs(s, dir)
      graft.llm.Bpe.fertilityCard(
        d, graft.llm.Bpe.trainLocal(s, d, nMerges = 8))
    },

    // paragraph-granularity dedup CAPSTONE (r14 verdict task 6):
    // chunk → banded near-dup over chunks → keep-one drop → doc
    // reassembly, end to end in ONE entry. Every 10th doc gets a
    // planted copy whose FIRST 8-word paragraph is verbatim the
    // original's first paragraph (plus filler) — doc-level Jaccard is
    // far below any dedup threshold and the aligned span grid can
    // shift, but the paragraph chunks collide exactly; the copy's
    // repeated paragraph drops (keep-one: the original's chunk key is
    // lower), the filler paragraph survives
    "q_paragraph_dedup" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val planted = d.filter(col("doc_id") % 10 === 0)
        .withColumn("_w", split(col("text"), " "))
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(array_join(slice(col("_w"), 1, 8), " "),
            lit(" zq zr qx qy qz qw qv qu")).as("text"))
      Curation.paragraphDedup(d.unionAll(planted), chunkSize = 8,
        threshold = 0.8, k = 3, numHashes = 8, bands = 4,
        oracleHashes = true)
    },

    // INCREMENTAL paragraph dedup (r15 verdict task 6 — the capstone
    // made continuous, the containment tier's index+probe pattern at
    // paragraph granularity): the whole corpus is indexed ONCE
    // (exact-hash + banded-signature + shingle relations over
    // distinct-paragraph representatives), then a crawl-refresh batch —
    // near-dup plants (first 8 words + junk tail) at +100000 and FULL
    // re-crawls (every 15th doc verbatim, every chunk an exact twin)
    // at +200000 — is cleaned against it without re-chunking a single
    // historical document. The oracle recomputes the FULL
    // q_paragraph_dedup witness rule over (corpus ∪ batch) restricted
    // to the batch docs, so a green hash proves the incremental path
    // equals the batch recompute exactly
    "q_paragraph_incremental" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val (planted, recrawl) = paragraphRefreshBatches(d)
      val idx = graft.llm.Curation.paragraphIndex(d, chunkSize = 8,
        k = 3, numHashes = 8, nBands = 4, oracleHashes = true)
      graft.llm.Curation.paragraphDedupIncremental(idx,
        planted.unionAll(recrawl), threshold = 0.8)
    },

    // paragraph-index RETIREMENT (r16 verdict task 4 — takedowns /
    // crawl deletions without re-chunking history, with representative
    // RE-ELECTION): history = corpus ∪ verbatim copies of every 15th
    // doc at +base; retire the ORIGINAL every-15th docs (their exact
    // groups' min-key representatives die, and the surviving +base
    // copies must be re-elected — identical text, so the band/shingle
    // rows renumber) plus every 7th doc (groups with no survivors drop
    // entirely). The probe batch then re-crawls the RETIRED docs at
    // +3·base (a takedown-then-recrawl) alongside near-dup plants at
    // +2·base. The oracle recomputes the witness rule over the
    // FILTERED corpus ∪ batch — a dropped or stale-rep group would
    // change the keep-one decisions and break the hash, so a green row
    // proves retire == filtered rebuild, re-election included
    "q_paragraph_retire" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val base = d.agg(max(col("doc_id")).cast("long"))
        .collect()(0).getLong(0) + 1L
      val copies = d.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + base).as("doc_id"), col("text"))
      val idx = graft.llm.Curation.paragraphIndex(d.unionAll(copies),
        chunkSize = 8, k = 3, numHashes = 8, nBands = 4,
        oracleHashes = true)
      val retired = d.filter(
          col("doc_id") % 15 === 0 || col("doc_id") % 7 === 0)
        .select(col("doc_id"))
      // serve from a COMPACTED index, as production would: retire's
      // relations are lazy join pipelines over the live store, and the
      // probe consumes each several times — compactParagraphIndexStore
      // materializes before swapping for exactly this reason (its
      // StoreMaintSpec round-trip covers the store path; this entry
      // checkpoints in place to keep the bench filesystem-free)
      val idx2r = graft.llm.Curation.retireFromParagraphIndex(idx, retired)
      // the four post-retire relations are independent of each other
      // (each reads the retire's checkpointed election relations + the
      // index's materialized caches) — overlap their materializing jobs
      // (r18 optimization round, guide §2.6) instead of serializing
      // four job tails
      val ckpts = graft.scale.Par.checkpointAll(
        idx2r.exact, idx2r.bands, idx2r.shingles, idx2r.members)
      val idx2 = idx2r.copy(exact = ckpts(0), bands = ckpts(1),
        shingles = ckpts(2), members = ckpts(3))
      val planted = d.filter(col("doc_id") % 10 === 0)
        .withColumn("_w", split(col("text"), " "))
        .select((col("doc_id") + 2L * base).as("doc_id"),
          concat(array_join(slice(col("_w"), 1, 8), " "),
            lit(" zq zr qx qy qz qw qv qu")).as("text"))
      val recrawl = d.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 3L * base).as("doc_id"), col("text"))
      graft.llm.Curation.paragraphDedupIncremental(idx2,
        planted.unionAll(recrawl), threshold = 0.8)
    },

    // STREAMING paragraph dedup under the hash gate (the
    // q_stream_containment discipline pointed at the paragraph
    // capstone, in the TRUE crawl-refresh shape): the corpus is indexed
    // ONCE and SEEDS the accumulating ParagraphDedupIndex; the refresh
    // (near-dup plants, then verbatim re-crawls) streams against it as
    // two ORDERED micro-batches through a real Structured Streaming
    // query — batch 2 probes corpus ∪ batch 1's appended
    // representatives, the genuinely-incremental accumulation the
    // one-shot q_paragraph_incremental entry cannot exercise. Both
    // refresh batches together are exactly that entry's batch set, so
    // the drained union shares its restricted-recompute oracle — a
    // green hash proves the STREAMED accumulation equals the batch
    // recompute
    "q_stream_paragraph" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      val d = docs(s, dir).select("doc_id", "text")
      val (planted, recrawl) = paragraphRefreshBatches(d)
      // monotone slicing of the REFRESH (the crawl contract): plants
      // land first (ids in [base, 2·base)), re-crawls second (≥ 2·base)
      val batches = Seq(planted, recrawl)
      val tmp = EventQueries.stampedDir(batches)
      val ckpt = EventQueries.scratchDir("graft_spara_ck").toFile
      val outDir = EventQueries.scratchDir("graft_spara_out").toFile
      try {
        val stream = s.readStream
          .schema("doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", 1).parquet(tmp.toString)
        val idx =
          new graft.streaming.StreamingPipeline.ParagraphDedupIndex(
            chunkSize = 8, threshold = 0.8, k = 3, numHashes = 8,
            bands = 4, oracleHashes = true)
        idx.seed(graft.llm.Curation.paragraphIndex(d, chunkSize = 8,
          k = 3, numHashes = 8, nBands = 4, oracleHashes = true))
        val q = graft.streaming.StreamingPipeline.paragraphDedupStream(
          stream, idx,
          (_, rows) => rows.write.mode("append").parquet(outDir.toString),
          trigger = Trigger.AvailableNow(),
          checkpointDir = Some(ckpt.toString))
        try {
          if (!q.awaitTermination(180000))
            throw new IllegalStateException(
              "streaming paragraph dedup did not drain within 180s")
        } finally { q.stop(); idx.close() }
        s.read.parquet(outDir.toString).localCheckpoint(true)
      } finally {
        Seq(tmp, ckpt, outDir).foreach(EventQueries.rmTree)
      }
    },

    // Unigram-LM (SentencePiece-style) tokenizer TRAINING (Kudo 2018;
    // r14 verdict task 5, EM+prune per r15 task 3 — the other
    // production tokenizer family beside BPE): seeded substring
    // vocabulary, 2 hard-EM rounds of Viterbi segmentation + smoothed
    // re-estimation, each round followed by Kudo's vocabulary PRUNE
    // (¾-shrink toward vocabSize by usage rank, single chars immortal),
    // all on the exact-decimal lattice. The oracle unrolls the ENTIRE
    // trajectory — seeding, every DP position of every EM round, both
    // prunes, both re-estimations — so a green hash proves the
    // TRAINING including the prune decisions, not just a final table
    "q_unigram_lm" -> { (s, dir) =>
      graft.llm.Unigram.unigramLmCard(s, docs(s, dir),
        maxPieceLen = 4, seedSize = 60, iters = 2, vocabSize = 40)
    },

    // the fertility card ACCEPTING the unigram model (verdict task 5's
    // second half): Bpe.fertilityCard consumes the Viterbi-segmented
    // (word, n_tokens) vocab exactly as it consumes a BPE
    // symbolization — one card, either tokenizer family. The oracle
    // replays training PLUS a final segmentation pass under the
    // trained probabilities, then the fertility tail
    "q_unigram_fertility" -> { (s, dir) =>
      val d = docs(s, dir)
      val m = graft.llm.Unigram.train(s, d,
        maxPieceLen = 4, seedSize = 60, iters = 2, vocabSize = 40)
      graft.llm.Bpe.fertilityCard(d, m.vocab)
    },

    // corpus-side unigram APPLY — Bpe.encode's contract for the other
    // tokenizer family: per-doc word / OOV / piece counts via the
    // broadcast Viterbi-segmented vocab; the corpus never shuffles by
    // word. The oracle replays training + the final segmentation pass
    // + the per-doc join, zero-filling wordless docs
    "q_unigram_encode" -> { (s, dir) =>
      val d = docs(s, dir)
      graft.llm.Unigram.encode(d, graft.llm.Unigram.train(s, d,
        maxPieceLen = 4, seedSize = 60, iters = 2, vocabSize = 40))
    },

    // context-length planning against the REAL tokenizer: the packing
    // card budgeted by trained-BPE subword tokens (the production
    // trainLocal path + the broadcast-vocab encode) instead of
    // whitespace words — no new corpus shuffle beyond encode's own
    "q_pack_plan_bpe" -> { (s, dir) =>
      val d = docs(s, dir)
      graft.llm.TextOps.packPlanBpe(
        d, graft.llm.Bpe.trainLocal(s, d, nMerges = 8), seqLen = 64)
    },

    // THE RELEASE SHEET (round-13 capstone): the governance tier
    // composed the way a pretraining-data team ships it (Dolma /
    // RefinedWeb release sheet) — C4 page filter → exact-dedup groups →
    // leakage-safe 80/10/10 split, then FIVE release cards (per-split
    // volumes, train-split packing plan, per-(lang, source) ROLLUP
    // report, dup-size distribution, source concentration) all reading
    // the SAME persisted relations. Corpus scans: ONE — the filtered
    // base persists and every stage/card reads the cache (plan-pinned).
    // Cards normalize to one (section, row_key, n1, n2, v1, v2) sheet
    // schema so a single hash gate covers all of them.
    "q_corpus_release" -> { (s, dir) =>
      graft.llm.Curation.releaseSheet(docs(s, dir), seqLen = 64,
        trainPct = 80, valPct = 10)
    },

    // the CLASSIFIER-SCORED release sheet (r13 verdict task 5 — the
    // GPT-3/LLaMA pipeline shape): page filter = keep the top 50% by
    // stored-classifier score (exact histogram-median cutoff, ties
    // kept) instead of C4 rules, same five cards, same one-corpus-scan
    // discipline (projected base persists first; scoring pass,
    // keep-join, and every card read caches). The oracle replays the
    // full training trajectory + the rank-and-keep filter + the sheet
    "q_corpus_release_scored" -> { (s, dir) =>
      graft.llm.Curation.releaseSheetScored(docs(s, dir),
        lrModelFor(s, dir).weights, buckets = 256, keepSharePct = 50,
        seqLen = 64, trainPct = 80, valPct = 10)
    },

    // 8-gram novelty of a PLANTED test set: verbatim train copies
    // (novelty 0) and alphabet-rotated docs (novelty 1) bracket the
    // memorization scale
    "q_ngram_novelty" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val copies = d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val novel = d.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 200000L).as("doc_id"),
          translate(col("text"), "abcdefghijklmnopqrstuvwxyz",
            "nopqrstuvwxyzabcdefghijklm").as("text"))
      graft.llm.Curation.ngramNovelty(d, copies.unionAll(novel), k = 8)
    },

    // Lee-et-al-style repeated-span removal: 3-word segments occurring in
    // >= 2 distinct docs are kept only in the lowest-doc_id occurrence
    "q_dedup_spans" -> { (s, dir) =>
      Curation.spanDedup(docs(s, dir), window = 3, minDocs = 2)
    },

    // STREAMING model-apply: the stored classifier scoring a two-batch
    // document replay shard by shard (foreachBatch scoreWithLr →
    // parquet append) — stateless by construction (a doc's bucket
    // counts are its own), so the drained scores hash-match the BATCH
    // classifier's own trajectory-replay oracle: per-shard scoring ==
    // whole-corpus scoring, re-proven every round
    "q_stream_quality" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      val d = docs(s, dir).select("doc_id", "text")
      val wts = lrModelFor(s, dir).weights
      val batches = Seq(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1))
      val tmp = EventQueries.stampedDir(batches)
      val ckpt = EventQueries.scratchDir("graft_squality_ck").toFile
      val outDir = EventQueries.scratchDir("graft_squality_out").toFile
      try {
        val stream = s.readStream
          .schema("doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", 1).parquet(tmp.toString)
        val q = graft.streaming.StreamingPipeline.qualityScoreStream(
          stream, wts, buckets = 256,
          outPath = outDir.toString,
          trigger = Trigger.AvailableNow(),
          checkpointDir = Some(ckpt.toString))
        try {
          if (!q.awaitTermination(180000))
            throw new IllegalStateException(
              "streaming quality scoring did not drain within 180s")
        } finally q.stop()
        // detach from the scratch dir before it is removed
        s.read.parquet(outDir.toString).localCheckpoint(true)
      } finally {
        Seq(tmp, ckpt, outDir).foreach(EventQueries.rmTree)
      }
    },

    // the shifted-span TREATMENT: the same planted corpus, but the
    // repeats are CUT — every +100000 copy loses exactly its copied
    // span (clean_text collapses to the 2-word filler prefix) while
    // the original keeps its text verbatim (keep-one at any
    // alignment); sub-threshold organic overlaps stay untouched
    "q_dedup_spans_clean" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val planted = d.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + 100000L).as("doc_id"),
        concat(lit("zq zr "), col("text")).as("text"))
      val corpus = d.unionAll(planted)
      val cands = Dedup.minhashCandidates(corpus, k = 3, numHashes = 8,
        bands = 4, minEstJaccard = 0.5, oracleHashes = true)
      Curation.removeSharedSpans(corpus, cands, k = 3,
        minSpanTokens = 5)
    },

    // SHIFTED-span exact-substring dedup (r13 verdict task 4): every
    // 10th doc gets a copy with a 2-word filler prefix — an offset
    // spanDedup's non-overlapping window=3 grid can NEVER catch (the
    // segment grids misalign; CurationSpec pins the miss), while the
    // stride-1 positional grams + islands identity catch the WHOLE doc
    // as one shared span at any alignment. Pair work candidate-bounded
    // by the banded minhash generator
    "q_dedup_spans_shifted" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val planted = d.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + 100000L).as("doc_id"),
        concat(lit("zq zr "), col("text")).as("text"))
      val corpus = d.unionAll(planted)
      val cands = Dedup.minhashCandidates(corpus, k = 3, numHashes = 8,
        bands = 4, minEstJaccard = 0.5, oracleHashes = true)
      Curation.sharedSpans(corpus, cands, k = 3)
    },

    // RAG sliding-window chunker: 32-token windows every 24 tokens
    // (8-token overlap); pure projection, zero shuffles
    "q_chunk_docs" -> { (s, dir) =>
      graft.llm.TextOps.chunkDocs(docs(s, dir), chunkSize = 32, stride = 24)
    },

    // tokenizer fit+apply: top-16 vocabulary (small enough that the
    // fixture corpus has real OOV tokens), ids broadcast back, every doc
    // encoded to an ordered id string
    "q_vocab_encode" -> { (s, dir) =>
      val d = docs(s, dir)
      graft.llm.TextOps.encodeDocs(d,
        graft.llm.TextOps.buildVocab(d, vocabSize = 16))
    })

  /** DuckDB replay of [[graft.llm.Bpe.train]]: `n` UNROLLED merge
    * rounds — each stage recounts adjacent pairs from the previous
    * symbolization, picks the argmax inside SQL (ORDER BY c DESC, pair
    * ASC LIMIT 1), and rewrites the vocab with the identical
    * two-space-separator regex (RE2 and Java regex agree on
    * leftmost-non-overlapping global replace). `finalSelect` consumes
    * the generated CTEs: b1..bN hold each round's chosen pair, vN the
    * final symbolization. */
  private def bpeOracleCtes(n: Int): String = {
    val head =
      """w AS (
        |  SELECT t AS word, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split(coalesce(text, ''), ' ')) AS t
        |    FROM documents)
        |  WHERE regexp_matches(t, '^[a-z0-9]+$')
        |  GROUP BY t),
        |v0 AS (
        |  SELECT word, freq,
        |    regexp_replace(word, '(.)', '\1  ', 'g') || '_' AS syms
        |  FROM w)""".stripMargin
    val stages = (1 to n).map { r =>
      s"""p$r AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS c FROM (
         |    SELECT freq,
         |      unnest(list_transform(range(1, len(l)),
         |        i -> l[i] || ' ' || l[i + 1])) AS pair
         |    FROM (SELECT freq, string_split(syms, '  ') AS l FROM v${r - 1}))
         |  GROUP BY pair),
         |b$r AS (SELECT pair, c FROM p$r ORDER BY c DESC, pair ASC LIMIT 1),
         |v$r AS (
         |  SELECT v.word, v.freq,
         |    regexp_replace(v.syms,
         |      '(^| )' || replace(b.pair, ' ', '  ') || '( |$$)',
         |      '\\1' || replace(b.pair, ' ', '') || '\\2', 'g') AS syms
         |  FROM v${r - 1} v CROSS JOIN b$r b)""".stripMargin
    }
    (head +: stages).mkString(",\n")
  }

  /** Restricted-recompute oracle GENERATOR for the paragraph-dedup
    * family: the FULL all-chunks witness rule (chunking, exact
    * cliques, banded near-dup + exact rescore, keep-one) over the
    * corpus built by `t0Body` — a UNION ALL block selecting
    * (doc_id, text), free to reference the `bb` base CTE — restricted
    * to the docs satisfying `restrict`. One generator, so every
    * paragraph-family oracle replays the SAME witness rule. */
  private def paragraphRestrictedOracle(t0Body: String,
      restrict: String): String =
    s"""WITH bb AS (SELECT max(doc_id) + 1 AS base FROM documents),
           |t0 AS (
           |$t0Body),
           |tw AS (
           |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
           |  FROM t0),
           |cw AS (
           |  SELECT doc_id, w,
           |    CASE WHEN len(w) <= 8 THEN 1
           |      ELSE CAST(ceil((len(w) - 8) / 8.0) AS BIGINT) + 1 END AS nc
           |  FROM tw),
           |ck AS MATERIALIZED (
           |  SELECT doc_id, i AS chunk_idx,
           |    array_to_string(w[(i*8+1):(i*8+8)], ' ') AS chunk_text
           |  FROM cw, unnest(range(nc)) AS r(i)),
           |${LlmQueries.minhashCtesOver(
          "  SELECT doc_id * 100000 + chunk_idx AS doc_id, " +
            "chunk_text AS text FROM ck")},
           |ds AS (SELECT doc_id, list_distinct(s) AS s FROM sh),
           |dup AS MATERIALIZED (
           |  SELECT DISTINCT p.doc_b AS ck_key
           |  FROM scored p
           |  JOIN ds a ON a.doc_id = p.doc_a
           |  JOIN ds b ON b.doc_id = p.doc_b
           |  WHERE p.est_jaccard >= 0.5
           |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
           |      >= 0.8),
           |j AS (
           |  SELECT ck.doc_id, ck.chunk_idx, ck.chunk_text,
           |    (d.ck_key IS NULL) AS keep
           |  FROM ck LEFT JOIN dup d
           |    ON ck.doc_id * 100000 + ck.chunk_idx = d.ck_key)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
           |    AS n_dropped,
           |  coalesce(string_agg(CASE WHEN keep THEN chunk_text END, ' '
           |    ORDER BY chunk_idx), '') AS clean_text
           |FROM j WHERE $restrict
           |GROUP BY doc_id""".stripMargin

  /** Shared restricted-recompute oracle of q_paragraph_incremental and
    * q_stream_paragraph: the witness rule over (corpus ∪ near-dup
    * plants ∪ verbatim re-crawls), restricted to the refresh docs. The
    * streaming entry's two drained refresh batches are exactly the
    * incremental entry's batch set, so ONE oracle proves both paths
    * equal the batch recompute. */
  private lazy val paragraphRefreshOracleSql: String =
    paragraphRestrictedOracle(
      """  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT base FROM bb) AS doc_id,
        |    array_to_string(w[1:8], ' ') || ' zq zr qx qy qz qw qv qu'
        |      AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |        FROM documents WHERE doc_id % 10 = 0)
        |  UNION ALL
        |  SELECT doc_id + 2 * (SELECT base FROM bb) AS doc_id, text
        |  FROM documents WHERE doc_id % 15 = 0""".stripMargin,
      "doc_id >= (SELECT base FROM bb)")

  /** Restricted-recompute oracle of q_paragraph_retire: the SAME
    * witness rule over the POST-RETIREMENT corpus — originals minus
    * the retired docs (every 15th and every 7th), plus the surviving
    * verbatim copies of every 15th at +base — with the probe batch
    * (near-dup plants at +2·base, re-crawls of the RETIRED every-15th
    * docs at +3·base), restricted to the batch docs. A green hash
    * proves the retired index equals the filtered rebuild INCLUDING
    * representative re-election: the re-crawled docs' exact twins are
    * the +base copies whose groups re-elected after their original
    * representatives died — a dropped or stale-rep group would change
    * the keep-one witness and break the hash. */
  private lazy val paragraphRetireOracleSql: String =
    paragraphRestrictedOracle(
      """  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 15 <> 0 AND doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + (SELECT base FROM bb) AS doc_id, text
        |  FROM documents WHERE doc_id % 15 = 0
        |  UNION ALL
        |  SELECT doc_id + 2 * (SELECT base FROM bb) AS doc_id,
        |    array_to_string(w[1:8], ' ') || ' zq zr qx qy qz qw qv qu'
        |      AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |        FROM documents WHERE doc_id % 10 = 0)
        |  UNION ALL
        |  SELECT doc_id + 3 * (SELECT base FROM bb) AS doc_id, text
        |  FROM documents WHERE doc_id % 15 = 0""".stripMargin,
      "doc_id >= 2 * (SELECT base FROM bb)")

  /** DuckDB replay of [[graft.llm.Unigram.train]]: seeding (substring
    * counts → top-`seedSize` ∪ single-chars → smoothed v0) and `iters`
    * UNROLLED hard-EM rounds, each round's Viterbi DP unrolled per
    * position (`lMax` stages — a corpus word longer than lMax would
    * fall out of the replay, so lMax carries headroom over the fixture
    * max of 8). Every CTE is MATERIALIZED: the DP chain references
    * earlier positions up to maxPieceLen deep, and inlining would
    * re-expand the whole prefix per reference. `extraSegRound` appends
    * one more DP pass against the FINAL probabilities (no
    * re-estimation) — the apply/segmentation view the fertility oracle
    * consumes, exactly [[graft.llm.Unigram.UnigramModel.vocab]].
    * `vocabSize > 0` replays Kudo's EM+PRUNE alternation: after each
    * round's re-count a keep CTE drops the lowest-count pieces down to
    * `greatest(vocabSize, (|V|·3) // 4)` by (cnt DESC, piece ASC) rank
    * — single chars unconditionally retained — and the smoothed
    * re-estimation normalizes over the SURVIVORS, exactly
    * [[graft.llm.Unigram.train]]'s integer arithmetic. */
  private def unigramCtes(maxP: Int, seedSize: Int, iters: Int,
      lMax: Int, extraSegRound: Boolean = false,
      vocabSize: Int = 0): String = {
    def dpStages(r: Int, withUpdate: Boolean): String = {
      val init = s"dp${r}_0 AS MATERIALIZED (SELECT word, freq, " +
        "CAST(0 AS DECIMAL(18,6)) AS s, '' AS seg FROM w)"
      val stages = (1 to lMax).map { j =>
        val branches = (1 to math.min(maxP, j)).map { l =>
          val i = j - l
          s"""SELECT word, freq, s, seg,
             |        substring(word, ${i + 1}, $l) AS piece
             |      FROM dp${r}_$i WHERE len(word) >= $j""".stripMargin
        }.mkString("\n      UNION ALL\n      ")
        s"""dpc${r}_$j AS MATERIALIZED (
           |      $branches),
           |dp${r}_$j AS MATERIALIZED (
           |  SELECT word, freq, s, seg FROM (
           |    SELECT c.word, c.freq,
           |      CAST(c.s + v.logp AS DECIMAL(18,6)) AS s,
           |      CASE WHEN c.seg = '' THEN c.piece
           |        ELSE c.seg || ' ' || c.piece END AS seg,
           |      row_number() OVER (PARTITION BY c.word
           |        ORDER BY CAST(c.s + v.logp AS DECIMAL(18,6)) DESC,
           |          CASE WHEN c.seg = '' THEN c.piece
           |            ELSE c.seg || ' ' || c.piece END DESC) AS rk
           |    FROM dpc${r}_$j c JOIN v${r - 1} v USING (piece))
           |  WHERE rk = 1)""".stripMargin
      }
      val fin = (1 to lMax).map(j =>
        s"SELECT word, freq, seg FROM dp${r}_$j WHERE len(word) = $j")
        .mkString("\n    UNION ALL\n    ")
      val seg = s"""seg$r AS MATERIALIZED (
         |    $fin)""".stripMargin
      // with pruning the round's surviving vocabulary is keep$r; the
      // no-prune form keeps the whole count table (keep$r = cnt$r)
      val keepCte =
        if (vocabSize > 0)
          s"""keep$r AS MATERIALIZED (
             |  SELECT piece, cnt FROM (
             |    SELECT piece, cnt,
             |      row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rk,
             |      count(*) OVER () AS nv
             |    FROM cnt$r)
             |  WHERE len(piece) = 1
             |     OR rk <= greatest($vocabSize, (nv * 3) // 4))"""
            .stripMargin
        else s"keep$r AS (SELECT piece, cnt FROM cnt$r)"
      val update = s""",
         |cnt$r AS MATERIALIZED (
         |  SELECT v.piece, coalesce(u.c, 0) AS cnt
         |  FROM (SELECT piece FROM v${r - 1}) v LEFT JOIN (
         |    SELECT piece, CAST(sum(freq) AS BIGINT) AS c FROM (
         |      SELECT freq, unnest(string_split(seg, ' ')) AS piece
         |      FROM seg$r)
         |    GROUP BY 1) u USING (piece)),
         |$keepCte,
         |v$r AS MATERIALIZED (
         |  SELECT piece, CAST(round(ln((cnt + 1.0) /
         |      ((SELECT sum(cnt) FROM keep$r) +
         |       (SELECT count(*) FROM keep$r))), 6)
         |    AS DECIMAL(18,6)) AS logp
         |  FROM keep$r)""".stripMargin
      ((init +: stages) :+ (seg + (if (withUpdate) update else "")))
        .mkString(",\n")
    }
    val head = s"""w AS MATERIALIZED (
       |  SELECT t AS word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(coalesce(text, ''), ' ')) AS t
       |    FROM documents)
       |  WHERE regexp_matches(t, '^[a-z0-9]+$$')
       |  GROUP BY t),
       |us1 AS (SELECT word, freq, unnest(range(0, len(word))) AS i FROM w),
       |us2 AS (SELECT word, freq, i,
       |  unnest(range(1, least($maxP, len(word) - i) + 1)) AS l FROM us1),
       |ucands AS MATERIALIZED (
       |  SELECT substring(word, i + 1, l) AS piece,
       |    CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM us2 GROUP BY 1),
       |usel AS MATERIALIZED (
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt,
       |      row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rk
       |    FROM ucands) WHERE rk <= $seedSize
       |  UNION
       |  SELECT piece, cnt FROM ucands WHERE len(piece) = 1),
       |v0 AS MATERIALIZED (
       |  SELECT piece, CAST(round(ln((cnt + 1.0) /
       |      ((SELECT sum(cnt) FROM usel) +
       |       (SELECT count(*) FROM usel))), 6)
       |    AS DECIMAL(18,6)) AS logp
       |  FROM usel)""".stripMargin
    val rounds = (1 to iters).map(dpStages(_, withUpdate = true)) ++
      (if (extraSegRound) Seq(dpStages(iters + 1, withUpdate = false))
       else Nil)
    (head +: rounds).mkString(",\n")
  }

  /** Generated training-REPLAY oracle for [[Curation.logisticQuality]]:
    * one (p{t}, w{t}) CTE pair per gradient step. Every gradient is an
    * exact DECIMAL sum and weights/probabilities live on the 6-dp
    * lattice, so DuckDB's trajectory equals Spark's bit-for-bit — the
    * hash gate verifies the TRAINING, not just the final scoring pass. */
  private def lrCtes(buckets: Int, iters: Int, lr: Double): String = {
    val steps = (1 to iters).map { t =>
      s"""p$t AS MATERIALIZED (
         |  SELECT c.doc_id, max(c.y) AS y,
         |    CAST(round(1 / (1 + exp(-CAST(sum(c.c * w.wt) AS DOUBLE))), 6)
         |      AS DECIMAL(18,6)) AS p
         |  FROM c JOIN w${t - 1} w USING (b) GROUP BY 1),
         |w$t AS MATERIALIZED (
         |  SELECT w.b, CAST(round(CAST(w.wt AS DOUBLE)
         |      - $lr * CAST(g.g AS DOUBLE) / (SELECT n FROM nn), 6)
         |    AS DECIMAL(18,6)) AS wt
         |  FROM w${t - 1} w JOIN (
         |    SELECT c.b, sum(c.c * (p.p - p.y)) AS g
         |    FROM c JOIN p$t p USING (doc_id) GROUP BY 1) g USING (b))"""
        .stripMargin
    }.mkString(",\n")
    s"""d0 AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y,
       |    string_split(coalesce(text, ''), ' ') AS w
       |  FROM documents),
       |c AS MATERIALIZED (
       |  SELECT doc_id, y, b, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT doc_id, y,
       |      CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) % $buckets AS b
       |    FROM (SELECT doc_id, y, unnest(w) AS t FROM d0))
       |  GROUP BY 1, 2, 3
       |  UNION ALL
       |  SELECT doc_id, y, CAST(-1 AS BIGINT) AS b, CAST(1 AS BIGINT) AS c
       |  FROM d0),
       |nn AS (SELECT count(*) AS n FROM d0),
       |w0 AS MATERIALIZED (
       |  SELECT DISTINCT b, CAST(0 AS DECIMAL(18,6)) AS wt FROM c),
       |$steps,
       |fs AS (
       |  SELECT c.doc_id, max(c.y) AS y,
       |    sum(CASE WHEN c.b >= 0 THEN c.c ELSE 0 END) AS n_tokens,
       |    sum(c.c * w.wt) AS score
       |  FROM c JOIN w$iters w USING (b) GROUP BY 1)""".stripMargin
  }

  private def lrOracleSql(buckets: Int, iters: Int, lr: Double): String =
    s"""WITH ${lrCtes(buckets, iters, lr)}
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  round(CAST(score AS DOUBLE), 6) AS score,
       |  round(1 / (1 + exp(-CAST(score AS DOUBLE))), 6) AS prob,
       |  score > 0 AS predicted
       |FROM fs""".stripMargin

  /** The calibration tail over the same training CTEs: decile bins off
    * the 6-dp probability lattice (decimal ×10 floor — integer-exact),
    * per-bin reliability rows, and the NULL-bin ECE total. */
  private def calibrationOracleSql(buckets: Int, iters: Int,
      lr: Double): String =
    s"""WITH ${lrCtes(buckets, iters, lr)},
       |sc AS (
       |  SELECT doc_id, y,
       |    CAST(round(1 / (1 + exp(-CAST(score AS DOUBLE))), 6)
       |      AS DECIMAL(18,6)) AS pd
       |  FROM fs),
       |pb AS (
       |  SELECT least(CAST(floor(pd * 10) AS INT), 9) AS bin,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS n_pos,
       |    round(CAST(sum(pd) AS DOUBLE) / count(*), 6) AS mean_prob,
       |    round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS frac_pos
       |  FROM sc GROUP BY 1),
       |pg AS (
       |  SELECT bin, n, n_pos, mean_prob, frac_pos,
       |    round(abs(mean_prob - frac_pos), 6) AS gap
       |  FROM pb)
       |SELECT bin, n, n_pos, mean_prob, frac_pos, gap FROM pg
       |UNION ALL
       |SELECT CAST(NULL AS INT) AS bin,
       |  CAST(sum(n) AS BIGINT) AS n, CAST(sum(n_pos) AS BIGINT) AS n_pos,
       |  CAST(NULL AS DOUBLE) AS mean_prob,
       |  CAST(NULL AS DOUBLE) AS frac_pos,
       |  round(sum(gap * n) / sum(n), 6) AS gap
       |FROM pg""".stripMargin

  /** The AUC tail over the same training CTEs: all-integer 2U over the
    * 6-dp score histogram, a single final division. */
  private def aucOracleSql(buckets: Int, iters: Int, lr: Double): String =
    s"""WITH ${lrCtes(buckets, iters, lr)},
       |sc AS (
       |  SELECT CAST(round(CAST(score AS DOUBLE), 6) AS DECIMAL(18,6))
       |    AS s, y
       |  FROM fs),
       |h AS (
       |  SELECT s, CAST(sum(y) AS BIGINT) AS np,
       |    CAST(sum(1 - y) AS BIGINT) AS nn
       |  FROM sc GROUP BY 1),
       |cm AS (
       |  SELECT np, nn,
       |    coalesce(sum(nn) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS nnb
       |  FROM h),
       |ag AS (
       |  SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       |    CAST(sum(nn) AS BIGINT) AS n_neg,
       |    CAST(sum(np * (2 * nnb + nn)) AS BIGINT) AS u2
       |  FROM cm)
       |SELECT n_pos, n_neg, u2,
       |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
       |    ELSE round(CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6) END
       |    AS auc
       |FROM ag""".stripMargin

  /** The five-card release-sheet replay over any `kept(doc_id, lang,
    * source, n_chars, text, n_tokens)` CTE chain — shared by the
    * C4-filtered and classifier-scored sheet oracles exactly as
    * `Curation.releaseCards` is shared by the operators. */
  private def releaseSheetSqlOver(keptCtes: String): String =
    s"""WITH $keptCtes,
       |grp AS (
       |  SELECT doc_id,
       |    min(doc_id) OVER (PARTITION BY md5(lower(text))) AS dup_group
       |  FROM kept),
       |spl AS (
       |  SELECT doc_id,
       |    CASE WHEN CAST('0x' || substring(md5(CAST(dup_group AS VARCHAR)),
       |        1, 8) AS BIGINT) % 100 < 80 THEN 'train'
       |      WHEN CAST('0x' || substring(md5(CAST(dup_group AS VARCHAR)),
       |        1, 8) AS BIGINT) % 100 < 90 THEN 'val'
       |      ELSE 'test' END AS split
       |  FROM grp),
       |ks AS (
       |  SELECT k.doc_id, k.lang, k.source, k.n_chars, k.text,
       |    k.n_tokens, s.split
       |  FROM kept k JOIN spl s USING (doc_id)),
       |splitcard AS (
       |  SELECT 'split' AS section, split AS row_key,
       |    CAST(count(*) AS BIGINT) AS n1,
       |    CAST(sum(n_tokens) AS BIGINT) AS n2,
       |    round(CAST(count(*) AS DOUBLE)
       |      / CAST((SELECT count(*) FROM ks) AS DOUBLE), 6) AS v1,
       |    CAST(NULL AS DOUBLE) AS v2
       |  FROM ks GROUP BY split),
       |ph AS (
       |  SELECT n_tokens AS n, count(*) AS c FROM ks
       |  WHERE split = 'train' GROUP BY 1),
       |pc AS (
       |  SELECT n, c,
       |    sum(c) OVER (ORDER BY n
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
       |    sum(c) OVER () AS docs
       |  FROM ph),
       |pa AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n_docs,
       |    CAST(min(CASE WHEN cm * 100 >= docs * 90 THEN n END) AS BIGINT)
       |      AS p90,
       |    CAST(coalesce(sum(CASE WHEN n > 64 THEN (n - 64) * c END), 0)
       |      AS BIGINT) AS overflow,
       |    CAST(sum(least(n, 64) * c) AS BIGINT) AS eff
       |  FROM pc),
       |packcard AS (
       |  SELECT 'pack' AS section, 'train_seq64' AS row_key,
       |    CAST((eff + 63) // 64 AS BIGINT) AS n1,
       |    overflow AS n2,
       |    CAST(((n_docs * 64 - eff) * 2000000 + n_docs * 64)
       |      // (2 * n_docs * 64) AS DOUBLE) / 1000000.0 AS v1,
       |    CAST(p90 AS DOUBLE) AS v2
       |  FROM pa),
       |rdup AS (
       |  SELECT md5(lower(coalesce(text, ''))) AS h, count(*) AS nh
       |  FROM kept GROUP BY 1),
       |rbase AS (
       |  SELECT k.lang, k.source, k.n_tokens AS tok, rdup.nh
       |  FROM kept k
       |  JOIN rdup ON md5(lower(coalesce(k.text, ''))) = rdup.h),
       |report AS (
       |  SELECT 'report' AS section,
       |    coalesce(lang, 'ALL') || '/' || coalesce(source, 'ALL')
       |      AS row_key,
       |    CAST(count(*) AS BIGINT) AS n1,
       |    CAST(sum(tok) AS BIGINT) AS n2,
       |    round(avg(CAST(tok AS DOUBLE)), 6) AS v1,
       |    CAST(sum(CASE WHEN nh > 1 THEN 1 ELSE 0 END) AS DOUBLE) AS v2
       |  FROM rbase GROUP BY ROLLUP (lang, source)),
       |dg AS (
       |  SELECT md5(coalesce(text, '')) AS fp, count(*) AS sz
       |  FROM kept GROUP BY 1),
       |dupcard AS (
       |  SELECT 'dup_size' AS section, CAST(sz AS VARCHAR) AS row_key,
       |    CAST(count(*) AS BIGINT) AS n1,
       |    CAST(sum(sz) AS BIGINT) AS n2,
       |    round(CAST(sum(sz) AS DOUBLE)
       |      / CAST((SELECT sum(sz) FROM dg) AS DOUBLE), 6) AS v1,
       |    CAST(NULL AS DOUBLE) AS v2
       |  FROM dg GROUP BY sz),
       |cc AS (
       |  SELECT source AS dd, count(*) AS c FROM kept
       |  WHERE source IS NOT NULL GROUP BY 1),
       |cr AS (
       |  SELECT dd, c, row_number() OVER (ORDER BY c ASC, dd ASC) AS rk
       |  FROM cc),
       |conccard AS (
       |  SELECT 'concentration' AS section, 'source' AS row_key,
       |    CAST(sum(c) AS BIGINT) AS n1,
       |    CAST(count(*) AS BIGINT) AS n2,
       |    round(CAST(sum(c * c) AS DOUBLE)
       |      / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)), 6) AS v1,
       |    round(CAST(2 * sum(rk * c) - (count(*) + 1) * sum(c) AS DOUBLE)
       |      / (CAST(count(*) AS DOUBLE) * CAST(sum(c) AS DOUBLE)), 6)
       |      AS v2
       |  FROM cr)
       |SELECT * FROM splitcard
       |UNION ALL SELECT * FROM packcard
       |UNION ALL SELECT * FROM report
       |UNION ALL SELECT * FROM dupcard
       |UNION ALL SELECT * FROM conccard""".stripMargin

  private val mCte: String =
    """m AS (
      |  SELECT doc_id, lang, source, n_chars, text,
      |    lower(coalesce(text, '')) AS t,
      |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
      |      AS n_tokens
      |  FROM documents)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_quality_classifier" -> lrOracleSql(256, 5, 0.5),
    // the streaming replay must equal the batch classifier exactly —
    // SAME oracle, so the hash gate is the statelessness proof
    "q_stream_quality" -> lrOracleSql(256, 5, 0.5),
    "q_classifier_calibration" -> calibrationOracleSql(256, 5, 0.5),
    "q_classifier_auc" -> aucOracleSql(256, 5, 0.5),

    // replays the fingerprint groups and the keeper pricing
    "q_dedup_savings" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents
        |  WHERE doc_id % 4 = 0),
        |g AS (
        |  SELECT md5(coalesce(text, '')) AS fp,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(len(string_split(coalesce(text, ''), ' ')))
        |      AS BIGINT) AS tok,
        |    CAST(min(len(string_split(coalesce(text, ''), ' ')))
        |      AS BIGINT) AS keeptok
        |  FROM u GROUP BY 1)
        |SELECT CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(n) - count(*) AS BIGINT) AS n_dup_docs,
        |  CAST(sum(tok) AS BIGINT) AS tokens_total,
        |  CAST(sum(tok - keeptok) AS BIGINT) AS tokens_saved,
        |  round(CAST(sum(tok - keeptok) AS DOUBLE)
        |    / CAST(sum(tok) AS DOUBLE), 6) AS saved_frac
        |FROM g""".stripMargin,

    // replays the fingerprint projections, the doc_id full join, and
    // the four-status agg
    "q_corpus_diff" ->
      """WITH a AS (
        |  SELECT doc_id, md5(coalesce(text, '')) AS fa,
        |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
        |      AS ta
        |  FROM documents WHERE doc_id % 3 <> 1),
        |b0 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN substring(text, 1, greatest(length(text) - 12, 1))
        |      ELSE text END AS text
        |  FROM documents WHERE doc_id % 3 <> 0),
        |b AS (
        |  SELECT doc_id, md5(coalesce(text, '')) AS fb,
        |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
        |      AS tb
        |  FROM b0),
        |j AS (
        |  SELECT CASE WHEN fa IS NULL THEN 'added'
        |    WHEN fb IS NULL THEN 'removed'
        |    WHEN fa = fb THEN 'unchanged'
        |    ELSE 'changed' END AS status, ta, tb
        |  FROM a FULL JOIN b USING (doc_id))
        |SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(ta), 0) AS BIGINT) AS tokens_old,
        |  CAST(coalesce(sum(tb), 0) AS BIGINT) AS tokens_new,
        |  CAST(coalesce(sum(tb), 0) - coalesce(sum(ta), 0) AS BIGINT)
        |    AS token_delta
        |FROM j GROUP BY 1""".stripMargin,

    // replays the domain token agg, the largest-first rank, and the
    // integer cross-multiplied coverage cutoffs
    "q_domain_tail" ->
      """WITH dom AS (
        |  SELECT source AS d,
        |    CAST(sum(len(string_split(coalesce(text, ''), ' ')))
        |      AS BIGINT) AS tok
        |  FROM documents GROUP BY 1),
        |rk AS (
        |  SELECT d, tok,
        |    sum(tok) OVER (ORDER BY tok DESC, d ASC) AS cum,
        |    sum(tok) OVER () AS tot,
        |    row_number() OVER (ORDER BY tok DESC, d ASC) AS r
        |  FROM dom)
        |SELECT CAST(count(*) AS BIGINT) AS n_domains,
        |  CAST(max(tot) AS BIGINT) AS total_tokens,
        |  CAST(min(CASE WHEN cum * 100 >= tot * 50 THEN r END)
        |    AS BIGINT) AS domains_p50,
        |  round(CAST(min(CASE WHEN cum * 100 >= tot * 50 THEN cum END)
        |    AS DOUBLE) / CAST(max(tot) AS DOUBLE), 6) AS share_p50,
        |  CAST(min(CASE WHEN cum * 100 >= tot * 90 THEN r END)
        |    AS BIGINT) AS domains_p90,
        |  round(CAST(min(CASE WHEN cum * 100 >= tot * 90 THEN cum END)
        |    AS DOUBLE) / CAST(max(tot) AS DOUBLE), 6) AS share_p90,
        |  CAST(min(CASE WHEN cum * 100 >= tot * 99 THEN r END)
        |    AS BIGINT) AS domains_p99,
        |  round(CAST(min(CASE WHEN cum * 100 >= tot * 99 THEN cum END)
        |    AS DOUBLE) / CAST(max(tot) AS DOUBLE), 6) AS share_p99
        |FROM rk""".stripMargin,

    // Replays the positional 8-gram stream, the train-side membership
    // set, and the pos - row_number islands identity — integer-exact end
    // to end.
    "q_contamination_span" -> {
      val g8 = (1 to 8).map(j => s"w[i+${j - 1}]").mkString(" || ' ' || ")
      val grams8 =
        s"""CASE WHEN len(w) < 8 THEN [coalesce(text, '')]
           |ELSE list_transform(range(1, len(w) - 6), i -> $g8) END"""
          .stripMargin
      s"""WITH bench AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |train AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id,
         |    substring(text, 1, greatest(length(text) - 12, 1)) AS text
         |  FROM bench),
         |bw AS (
         |  SELECT doc_id, coalesce(text, '') AS text,
         |    string_split(coalesce(text, ''), ' ') AS w
         |  FROM bench),
         |bg AS MATERIALIZED (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, i AS pos,
         |    md5(CASE WHEN len(w) < 8 THEN text ELSE $g8 END) AS gram_key
         |  FROM bw, unnest(range(1, greatest(len(w) - 6, 2))) AS r(i)),
         |tg AS (
         |  SELECT DISTINCT md5(g) AS gram_key FROM (
         |    SELECT unnest(list_distinct($grams8)) AS g
         |    FROM (SELECT doc_id, text,
         |      string_split(coalesce(text, ''), ' ') AS w FROM train))),
         |hit AS (
         |  SELECT bg.doc_id, bg.pos,
         |    row_number() OVER (PARTITION BY bg.doc_id ORDER BY bg.pos)
         |      AS rn
         |  FROM bg JOIN tg USING (gram_key)),
         |runs AS (
         |  SELECT doc_id, pos - rn AS isl, count(*) AS run
         |  FROM hit GROUP BY 1, 2),
         |hs AS (
         |  SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_matched,
         |    max(run) AS maxrun
         |  FROM runs GROUP BY 1),
         |pd AS (
         |  SELECT doc_id, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_grams
         |  FROM bg GROUP BY 1)
         |SELECT pd.doc_id, pd.n_tokens, pd.n_grams,
         |  coalesce(hs.n_matched, 0) AS n_matched,
         |  CAST(CASE WHEN hs.maxrun IS NULL THEN 0
         |    ELSE least(hs.maxrun + 7, pd.n_tokens) END AS BIGINT)
         |    AS longest_span,
         |  round(CAST(CASE WHEN hs.maxrun IS NULL THEN 0
         |      ELSE least(hs.maxrun + 7, pd.n_tokens) END
         |      AS DOUBLE) / pd.n_tokens, 6) AS contam_frac
         |FROM pd LEFT JOIN hs USING (doc_id)""".stripMargin
    },
    "q_bpe_merges" -> {
      val n = 8
      val rows = (1 to n).map(r =>
        s"""  SELECT $r AS round, string_split(pair, ' ')[1] AS lhs,
           |    string_split(pair, ' ')[2] AS rhs,
           |    replace(pair, ' ', '') AS merged, c AS pair_count FROM b$r""".stripMargin)
        .mkString("\n  UNION ALL\n")
      s"""WITH ${bpeOracleCtes(n)}
         |SELECT round, lhs, rhs, merged, pair_count FROM (
         |$rows)
         |ORDER BY round""".stripMargin
    },

    "q_bpe_vocab" ->
      s"""WITH ${bpeOracleCtes(8)}
         |SELECT word, freq, syms,
         |  CAST(len(string_split(syms, '  ')) AS BIGINT) AS n_tokens
         |FROM v8""".stripMargin,

    // Replays the rank-based tokenizer as the training rounds' regex
    // chain over the ROTATED words (round-sequential apply == rank-based
    // apply — later rounds can never create an earlier pair's
    // adjacency): a0 symbolizes each distinct rotated word, a1..a8 fold
    // it through the same per-round argmax pair b1..b8 the training
    // replay derives.
    "q_bpe_tokenize" -> {
      val applyStages = (1 to 8).map { r =>
        s"""a$r AS (
           |  SELECT a.word,
           |    regexp_replace(a.syms,
           |      '(^| )' || replace(b.pair, ' ', '  ') || '( |$$)',
           |      '\\1' || replace(b.pair, ' ', '') || '\\2', 'g') AS syms
           |  FROM a${r - 1} a CROSS JOIN b$r b)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${bpeOracleCtes(8)},
         |a0 AS (
         |  SELECT DISTINCT t AS word,
         |    regexp_replace(t, '(.)', '\\1  ', 'g') || '_' AS syms
         |  FROM (
         |    SELECT unnest(string_split(
         |      translate(coalesce(text, ''),
         |        'abcdefghijklmnopqrstuvwxyz',
         |        'fghijklmnopqrstuvwxyzabcde'), ' ')) AS t
         |    FROM documents)
         |  WHERE regexp_matches(t, '^[a-z0-9]+$$')),
         |$applyStages
         |SELECT word, syms,
         |  CAST(len(string_split(syms, '  ')) AS BIGINT) AS n_tokens
         |FROM a8 ORDER BY word""".stripMargin
    },

    "q_bpe_encode" ->
      s"""WITH ${bpeOracleCtes(8)},
         |vt AS (
         |  SELECT word,
         |    CAST(len(string_split(syms, '  ')) AS BIGINT) AS n_tokens
         |  FROM v8),
         |wd AS (
         |  SELECT doc_id, t AS word FROM (
         |    SELECT doc_id,
         |      unnest(string_split(coalesce(text, ''), ' ')) AS t
         |    FROM documents)
         |  WHERE t <> ''),
         |agg AS (
         |  SELECT wd.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(CASE WHEN vt.n_tokens IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_oov_words,
         |    CAST(coalesce(sum(vt.n_tokens), 0) AS BIGINT) AS n_bpe_tokens
         |  FROM wd LEFT JOIN vt USING (word)
         |  GROUP BY wd.doc_id)
         |SELECT d.doc_id,
         |  coalesce(a.n_words, 0) AS n_words,
         |  coalesce(a.n_oov_words, 0) AS n_oov_words,
         |  coalesce(a.n_bpe_tokens, 0) AS n_bpe_tokens
         |FROM (SELECT doc_id FROM documents) d
         |LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // Replays the union+trim corpus construction, the distinct-per-doc
    // md5 gram keys, the per-gram doc count, and the >= 2 share.
    "q_boilerplate_frac" -> {
      val grams =
        """CASE WHEN len(w) < 5 THEN [coalesce(text, '')]
          |ELSE list_transform(range(1, len(w) - 3),
          |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]) END""".stripMargin
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id,
         |    substring(text, 1, greatest(length(text) - 12, 1)) AS text
         |  FROM documents WHERE doc_id % 5 = 0),
         |g AS (
         |  SELECT DISTINCT doc_id, md5(g) AS gram_key FROM (
         |    SELECT doc_id, unnest(list_distinct($grams)) AS g
         |    FROM (SELECT doc_id, text,
         |      string_split(coalesce(text, ''), ' ') AS w FROM u))),
         |nd AS (
         |  SELECT gram_key, count(*) AS ndocs FROM g GROUP BY gram_key)
         |SELECT g.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN nd.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS shared_grams,
         |  round(sum(CASE WHEN nd.ndocs >= 2 THEN 1 ELSE 0 END)
         |    / CAST(count(*) AS DOUBLE), 6) AS boilerplate_frac
         |FROM g JOIN nd USING (gram_key)
         |GROUP BY g.doc_id""".stripMargin
    },

    "q_decontaminate" -> {
      // k=5 word grams; md5 gram keys; DISTINCT per doc (list_distinct)
      val grams =
        """CASE WHEN len(w) < 5 THEN [coalesce(text, '')]
          |ELSE list_transform(range(1, len(w) - 3),
          |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]) END""".stripMargin
      s"""WITH bench AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |train AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id,
         |    substring(text, 1, greatest(length(text) - 12, 1)) AS text
         |  FROM bench),
         |bg AS (
         |  SELECT DISTINCT md5(g) AS gram_key FROM (
         |    SELECT unnest(list_distinct($grams)) AS g
         |    FROM (SELECT doc_id, text, string_split(coalesce(text, ''), ' ') AS w FROM bench))),
         |tg AS (
         |  SELECT doc_id, md5(g) AS gram_key FROM (
         |    SELECT doc_id, unnest(list_distinct($grams)) AS g
         |    FROM (SELECT doc_id, text, string_split(coalesce(text, ''), ' ') AS w FROM train))),
         |shared AS (
         |  SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM tg JOIN bg USING (gram_key) GROUP BY tg.doc_id)
         |SELECT t.doc_id,
         |  coalesce(s.n_shared, 0) AS n_shared,
         |  coalesce(s.n_shared, 0) > 0 AS contaminated
         |FROM (SELECT doc_id FROM train) t
         |LEFT JOIN shared s USING (doc_id)""".stripMargin
    },

    "q_quality_repetition" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
        |  FROM documents),
        |wc AS (
        |  SELECT doc_id, word, count(*) AS c
        |  FROM (SELECT doc_id, unnest(w) AS word FROM base)
        |  GROUP BY doc_id, word),
        |ws AS (
        |  SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n_words,
        |    round(1.0 - count(*) / CAST(sum(c) AS DOUBLE), 6) AS dup_word_ratio,
        |    round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |      / CAST(sum(c) AS DOUBLE), 6) AS singleton_word_frac
        |  FROM wc GROUP BY doc_id),
        |bgc AS (
        |  SELECT doc_id, b, count(*) AS c FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(w)),
        |        i -> w[i] || ' ' || w[i+1])) AS b
        |    FROM base)
        |  GROUP BY doc_id, b),
        |bs AS (
        |  SELECT doc_id, round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_bigram_frac
        |  FROM bgc GROUP BY doc_id)
        |SELECT w.doc_id, w.n_words, w.dup_word_ratio, w.singleton_word_frac,
        |  coalesce(b.top_bigram_frac, CAST(0 AS DOUBLE)) AS top_bigram_frac
        |FROM ws w LEFT JOIN bs b USING (doc_id)""".stripMargin,

    "q_gopher_filter" ->
      """WITH base AS (
        |  SELECT doc_id, coalesce(text, '') AS t,
        |    string_split(coalesce(text, ''), ' ') AS w
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    round((length(t) - (len(w) - 1)) / CAST(len(w) AS DOUBLE), 6)
        |      AS avg_word_len,
        |    CAST(len(list_filter(w,
        |      x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')))
        |      AS BIGINT) AS stopword_hits,
        |    round(list_max(list_transform(list_distinct(w),
        |      t2 -> len(list_filter(w, x -> x = t2))))
        |      / CAST(len(w) AS DOUBLE), 6) AS top_word_frac
        |  FROM base)
        |SELECT doc_id, n_words, avg_word_len, stopword_hits, top_word_frac,
        |  n_words BETWEEN 20 AND 90 AS ok_words,
        |  avg_word_len BETWEEN 4.0 AND 10.0 AS ok_avg_len,
        |  stopword_hits >= 2 AS ok_stopwords,
        |  top_word_frac <= 0.12 AS ok_top_word,
        |  (n_words BETWEEN 20 AND 90) AND
        |    (avg_word_len BETWEEN 4.0 AND 10.0) AND
        |    stopword_hits >= 2 AND top_word_frac <= 0.12 AS keep
        |FROM m""".stripMargin,

    // Bloom positions are pure hash arithmetic, so DuckDB reproduces the
    // bitset semantics as a semi-join against the DISTINCT bench position
    // set: a train gram "hits" iff all 3 of its md5-slice positions land
    // in that set — INCLUDING false positives, replayed exactly
    // the marker flags replay as plain substring scans over the lowered
    // planted corpus; n_words is the string_split length (the TokenStats
    // contract, same as q_gopher_filter)
    "q_c4_filter" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    text || CASE
        |      WHEN doc_id % 4 = 0 THEN ' lorem ipsum dolor sit'
        |      WHEN doc_id % 4 = 1 THEN ' function() { return 1; }'
        |      WHEN doc_id % 4 = 2
        |        THEN ' this site uses cookies see our privacy policy'
        |      ELSE ' please enable javascript to continue' END AS text
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lower(coalesce(text, '')) AS t,
        |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
        |      AS n_words
        |  FROM u),
        |f AS (
        |  SELECT doc_id, n_words,
        |    contains(t, 'lorem ipsum') AS has_lorem,
        |    contains(t, '{') AS has_brace,
        |    (contains(t, 'privacy policy') OR contains(t, 'cookie policy')
        |      OR contains(t, 'terms of use') OR contains(t, 'uses cookies'))
        |      AS has_policy,
        |    (contains(t, 'enable javascript')
        |      OR contains(t, 'javascript required')) AS has_js,
        |    n_words >= 30 AS ok_words
        |  FROM m)
        |SELECT doc_id, n_words, has_lorem, has_brace, has_policy, has_js,
        |  ok_words,
        |  ok_words AND NOT has_lorem AND NOT has_brace AND NOT has_policy
        |    AND NOT has_js AS keep
        |FROM f""".stripMargin,

    "q_decontaminate_bloom" ->
      """WITH bench AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |train AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    substring(text, 1, greatest(length(text) - 12, 1)) AS text
        |  FROM bench),
        |bw AS (
        |  SELECT doc_id, coalesce(text, '') AS t,
        |    string_split(coalesce(text, ''), ' ') AS w FROM bench),
        |bg AS (
        |  SELECT DISTINCT md5(g) AS gram_key FROM (
        |    SELECT unnest(CASE WHEN len(w) < 5 THEN [t]
        |      ELSE list_transform(range(1, len(w) - 3),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
        |             w[i+3] || ' ' || w[i+4]) END) AS g
        |    FROM bw)),
        |bpos AS (
        |  SELECT DISTINCT
        |    CAST('0x' || substring(gram_key, 1 + 8*j, 8) AS BIGINT)
        |      % 65536 AS pos
        |  FROM bg, (SELECT unnest([0, 1, 2]) AS j)),
        |tw AS (
        |  SELECT doc_id, coalesce(text, '') AS t,
        |    string_split(coalesce(text, ''), ' ') AS w FROM train),
        |tg AS (
        |  SELECT DISTINCT doc_id, md5(g) AS gram_key FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) < 5 THEN [t]
        |      ELSE list_transform(range(1, len(w) - 3),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
        |             w[i+3] || ' ' || w[i+4]) END) AS g
        |    FROM tw)),
        |tpos AS (
        |  SELECT doc_id, gram_key, j,
        |    CAST('0x' || substring(gram_key, 1 + 8*j, 8) AS BIGINT)
        |      % 65536 AS pos
        |  FROM tg, (SELECT unnest([0, 1, 2]) AS j)),
        |hits AS (
        |  SELECT doc_id, gram_key FROM tpos JOIN bpos USING (pos)
        |  GROUP BY 1, 2 HAVING count(DISTINCT j) = 3),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_gram_hits
        |  FROM hits GROUP BY 1)
        |SELECT t.doc_id,
        |  CAST(coalesce(a.n_gram_hits, 0) AS BIGINT) AS n_gram_hits,
        |  coalesce(a.n_gram_hits, 0) > 0 AS contaminated_bloom
        |FROM train t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // hashed-unigram DSIR: md5 bucket + smoothed log-likelihood ratio,
    // replayed bucket for bucket
    "q_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split(coalesce(text, ''), ' ')) AS w
        |  FROM documents),
        |tb AS (
        |  SELECT doc_id,
        |    CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) % 1024 AS b
        |  FROM tok),
        |tgt AS (
        |  SELECT CAST('0x' || substring(md5(w), 1, 8) AS BIGINT)
        |    % 1024 AS b
        |  FROM (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w
        |        FROM documents WHERE lang = 'en')),
        |tc AS (SELECT b, count(*) AS ct FROM tgt GROUP BY 1),
        |rc AS (SELECT b, count(*) AS cr FROM tb GROUP BY 1),
        |nt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tgt),
        |nr AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tb),
        |ratio AS (
        |  SELECT coalesce(tc.b, rc.b) AS b,
        |    ln((coalesce(ct, 0) + 0.5) / (nt.n + 0.5 * 1024)) -
        |    ln((coalesce(cr, 0) + 0.5) / (nr.n + 0.5 * 1024)) AS lw
        |  FROM tc FULL JOIN rc ON tc.b = rc.b, nt, nr),
        |agg AS (
        |  SELECT tb.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    round(sum(lw), 6) AS log_weight
        |  FROM tb JOIN ratio ON tb.b = ratio.b GROUP BY 1)
        |SELECT d.doc_id, a.n_tokens, a.log_weight
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // Moore-Lewis: the q_lm_perplexity pipeline TWICE (English-target fit
    // and raw self-fit, left joins so unseen grams take the add-alpha
    // floor), differenced
    "q_ce_delta" ->
      """WITH rawb AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
        |  FROM documents),
        |tgtb AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
        |  FROM documents WHERE lang = 'en'),
        |tuc AS (
        |  SELECT token, count(*) AS cu
        |  FROM (SELECT unnest(w) AS token FROM tgtb) GROUP BY token),
        |tv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM tuc),
        |tbc AS (
        |  SELECT gram, count(*) AS cb FROM (
        |    SELECT unnest(list_transform(range(1, len(w)),
        |      i -> w[i] || ' ' || w[i+1])) AS gram FROM tgtb)
        |  GROUP BY gram),
        |ruc AS (
        |  SELECT token, count(*) AS cu
        |  FROM (SELECT unnest(w) AS token FROM rawb) GROUP BY token),
        |rv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM ruc),
        |rbc AS (
        |  SELECT gram, count(*) AS cb FROM (
        |    SELECT unnest(list_transform(range(1, len(w)),
        |      i -> w[i] || ' ' || w[i+1])) AS gram FROM rawb)
        |  GROUP BY gram),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM rawb),
        |ts AS (
        |  SELECT b.doc_id,
        |    ln((coalesce(tbc.cb, 0) + 0.5) /
        |       (coalesce(tuc.cu, 0) + 0.5 * tv.v)) AS lp
        |  FROM bg b
        |  LEFT JOIN tbc ON b.gram = tbc.gram
        |  LEFT JOIN tuc ON string_split(b.gram, ' ')[1] = tuc.token
        |  CROSS JOIN tv),
        |tagg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    round(-avg(lp), 6) AS ce_target
        |  FROM ts GROUP BY doc_id),
        |rs AS (
        |  SELECT b.doc_id,
        |    ln((coalesce(rbc.cb, 0) + 0.5) /
        |       (coalesce(ruc.cu, 0) + 0.5 * rv.v)) AS lp
        |  FROM bg b
        |  LEFT JOIN rbc ON b.gram = rbc.gram
        |  LEFT JOIN ruc ON string_split(b.gram, ' ')[1] = ruc.token
        |  CROSS JOIN rv),
        |ragg AS (
        |  SELECT doc_id, round(-avg(lp), 6) AS ce_raw
        |  FROM rs GROUP BY doc_id)
        |SELECT d.doc_id, t.n_bigrams, t.ce_target, r.ce_raw,
        |  round(t.ce_target - r.ce_raw, 6) AS ce_delta
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN tagg t USING (doc_id)
        |LEFT JOIN ragg r USING (doc_id)""".stripMargin,

    "q_corpus_report" ->
      """WITH dup AS (
        |  SELECT md5(lower(coalesce(text, ''))) AS h, count(*) AS nh
        |  FROM documents GROUP BY 1),
        |base AS (
        |  SELECT d.lang, d.source,
        |    len(string_split(coalesce(d.text, ''), ' ')) AS tok,
        |    d.n_chars, dup.nh
        |  FROM documents d
        |  JOIN dup ON md5(lower(coalesce(d.text, ''))) = dup.h)
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS total_tokens,
        |  round(avg(CAST(tok AS DOUBLE)), 6) AS avg_doc_tokens,
        |  round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars,
        |  CAST(sum(CASE WHEN nh > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact_dup
        |FROM base
        |GROUP BY ROLLUP (lang, source)""".stripMargin,

    "q_lm_perplexity" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
        |  FROM documents),
        |uc AS (
        |  SELECT token, count(*) AS cu
        |  FROM (SELECT unnest(w) AS token FROM base) GROUP BY token),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uc),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM base),
        |bc AS (SELECT gram, count(*) AS cb FROM bg GROUP BY gram),
        |scored AS (
        |  SELECT b.doc_id,
        |    ln((bc.cb + 0.5) / (uc.cu + 0.5 * v.v)) AS lp
        |  FROM bg b
        |  JOIN bc ON b.gram = bc.gram
        |  JOIN uc ON string_split(b.gram, ' ')[1] = uc.token
        |  CROSS JOIN v),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    round(-avg(lp), 6) AS cross_entropy,
        |    round(exp(-avg(lp)), 6) AS perplexity
        |  FROM scored GROUP BY doc_id)
        |SELECT d.doc_id, a.n_bigrams, a.cross_entropy, a.perplexity
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // algorithm-independent oracle: the q_lm_perplexity pipeline + a plain
    // per-language window percent_rank — the histogram rank must equal the
    // window definition exactly ((rank-1)/(n-1), ties share)
    "q_ccnet_buckets" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
        |  FROM documents),
        |uc AS (
        |  SELECT token, count(*) AS cu
        |  FROM (SELECT unnest(w) AS token FROM base) GROUP BY token),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uc),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM base),
        |bc AS (SELECT gram, count(*) AS cb FROM bg GROUP BY gram),
        |lp AS (
        |  SELECT b.doc_id,
        |    ln((bc.cb + 0.5) / (uc.cu + 0.5 * v.v)) AS lp
        |  FROM bg b
        |  JOIN bc ON b.gram = bc.gram
        |  JOIN uc ON string_split(b.gram, ' ')[1] = uc.token
        |  CROSS JOIN v),
        |perp AS (
        |  SELECT doc_id, round(exp(-avg(lp)), 6) AS perplexity
        |  FROM lp GROUP BY doc_id),
        |scored AS (
        |  SELECT d.doc_id, d.lang, p.perplexity
        |  FROM documents d LEFT JOIN perp p USING (doc_id)),
        |ranked AS (
        |  SELECT doc_id, lang, perplexity,
        |    round(percent_rank() OVER (
        |      PARTITION BY lang ORDER BY perplexity), 6) AS percent_rank
        |  FROM scored WHERE perplexity IS NOT NULL)
        |SELECT s.doc_id, s.lang, s.perplexity, r.percent_rank,
        |  CASE
        |    WHEN r.percent_rank IS NULL THEN NULL
        |    WHEN r.percent_rank < 1.0 / 3 THEN 'head'
        |    WHEN r.percent_rank < 2.0 / 3 THEN 'middle'
        |    ELSE 'tail' END AS bucket
        |FROM scored s LEFT JOIN ranked r USING (doc_id)""".stripMargin,

    "q_pii_scrub" -> {
      val email = Curation.EmailRe
      val phone = Curation.PhoneRe
      s"""WITH inj AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0
         |      THEN text || ' contact user' || doc_id ||
         |           '@example.com or +1 (555) 010-' || doc_id
         |      ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(coalesce(text, ''),
         |    '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g') AS scrubbed,
         |  CAST(len(regexp_extract_all(coalesce(text, ''), '$email')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(regexp_replace(coalesce(text, ''),
         |    '$email', '<EMAIL>', 'g'), '$phone')) AS INTEGER) AS n_phones
         |FROM inj""".stripMargin
    },

    // the shared banded-MinHash CTE block, then 3 unrolled min-label
    // rounds: label' = least(own, min over in-neighbors). On this graph
    // the 3 rounds equal the connected-components closure that
    // q_dedup_groups_cc's oracle computes
    "q_dedup_groups" -> {
      def round(n: Int): String = {
        val p = s"l${n - 1}"
        s"""l$n AS (
           |  SELECT l.doc_id,
           |    least(l.label, coalesce(m.nbr, l.label)) AS label
           |  FROM $p l LEFT JOIN (
           |    SELECT e.dst AS doc_id, min(s.label) AS nbr
           |    FROM e JOIN $p s ON s.doc_id = e.src
           |    GROUP BY e.dst) m ON m.doc_id = l.doc_id)""".stripMargin
      }
      s"""WITH ${LlmQueries.minhashPairsCtes},
         |fpairs AS (
         |  SELECT doc_a, doc_b FROM scored WHERE est_jaccard >= 0.5),
         |e AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM fpairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM fpairs),
         |l0 AS (SELECT doc_id, doc_id AS label FROM u),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT doc_id, label AS dup_group FROM l3""".stripMargin
    },

    // algorithm-independent oracle: recursive reachable-min closure =
    // true connected components with min-id labels (terminates because
    // UNION dedups the finite (node, label) pair space)
    "q_dedup_groups_cc" ->
      s"""WITH RECURSIVE ${LlmQueries.minhashPairsCtes},
         |fpairs AS (
         |  SELECT doc_a, doc_b FROM scored WHERE est_jaccard >= 0.5),
         |e AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM fpairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM fpairs),
         |r AS (
         |  SELECT doc_id, doc_id AS label FROM u
         |  UNION
         |  SELECT e.dst AS doc_id, r.label FROM e JOIN r ON r.doc_id = e.src)
         |SELECT doc_id, min(label) AS dup_group FROM r GROUP BY doc_id""".stripMargin,

    // the algorithm-independent group closure (as q_dedup_groups_cc)
    // joined with byte-length scores; the kept doc replays as the
    // (score DESC, doc_id ASC) window argmax per group
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE ${LlmQueries.minhashPairsCtes},
         |fpairs AS (
         |  SELECT doc_a, doc_b FROM scored WHERE est_jaccard >= 0.5),
         |e AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM fpairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM fpairs),
         |r AS (
         |  SELECT doc_id, doc_id AS label FROM u
         |  UNION
         |  SELECT e.dst AS doc_id, r.label FROM e JOIN r ON r.doc_id = e.src),
         |g AS (SELECT doc_id, min(label) AS dup_group FROM r GROUP BY doc_id),
         |sc AS (
         |  SELECT g.doc_id, g.dup_group,
         |    CAST(octet_length(encode(coalesce(u.text, ''))) AS DOUBLE)
         |      AS score
         |  FROM g JOIN u USING (doc_id)),
         |k AS (
         |  SELECT dup_group, doc_id AS kept_doc,
         |    row_number() OVER (PARTITION BY dup_group
         |      ORDER BY score DESC, doc_id ASC) AS rn
         |  FROM sc)
         |SELECT sc.doc_id, sc.dup_group, sc.score, k.kept_doc,
         |  sc.doc_id = k.kept_doc AS is_kept
         |FROM sc JOIN k ON sc.dup_group = k.dup_group AND k.rn = 1""".stripMargin,

    // group closure (as q_dedup_groups_cc), then the split is pure
    // bucket arithmetic on the group label — replayed exactly
    "q_leakage_split" ->
      s"""WITH RECURSIVE ${LlmQueries.minhashPairsCtes},
         |fpairs AS (
         |  SELECT doc_a, doc_b FROM scored WHERE est_jaccard >= 0.5),
         |e AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM fpairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM fpairs),
         |r AS (
         |  SELECT doc_id, doc_id AS label FROM u
         |  UNION
         |  SELECT e.dst AS doc_id, r.label FROM e JOIN r ON r.doc_id = e.src),
         |g AS (SELECT doc_id, min(label) AS dup_group FROM r GROUP BY doc_id),
         |bk AS (
         |  SELECT doc_id, dup_group,
         |    CAST('0x' || substring(md5(CAST(dup_group AS VARCHAR)), 1, 8)
         |      AS BIGINT) % 100 AS bucket
         |  FROM g)
         |SELECT doc_id, dup_group, bucket,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM bk""".stripMargin,

    "q_pack_plan" ->
      """WITH t AS (
        |  SELECT CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
        |    AS n
        |  FROM documents),
        |h AS (SELECT n, count(*) AS c FROM t GROUP BY n),
        |cum AS (
        |  SELECT n, c,
        |    sum(c) OVER (ORDER BY n
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
        |    sum(c) OVER () AS docs
        |  FROM h),
        |a AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n_docs,
        |    CAST(sum(n * c) AS BIGINT) AS total_tokens,
        |    CAST(min(CASE WHEN cm * 100 >= docs * 50 THEN n END) AS BIGINT)
        |      AS p50_tokens,
        |    CAST(min(CASE WHEN cm * 100 >= docs * 90 THEN n END) AS BIGINT)
        |      AS p90_tokens,
        |    CAST(min(CASE WHEN cm * 100 >= docs * 99 THEN n END) AS BIGINT)
        |      AS p99_tokens,
        |    CAST(64 AS INTEGER) AS seq_len,
        |    CAST(coalesce(sum(CASE WHEN n > 64 THEN c END), 0) AS BIGINT)
        |      AS n_overlong,
        |    CAST(coalesce(sum(CASE WHEN n > 64 THEN (n - 64) * c END), 0)
        |      AS BIGINT) AS overflow_tokens,
        |    CAST(sum(least(n, 64) * c) AS BIGINT) AS eff
        |  FROM cum)
        |SELECT n_docs, total_tokens, p50_tokens, p90_tokens, p99_tokens,
        |  seq_len, n_overlong, overflow_tokens,
        |  CAST((eff + 63) // 64 AS BIGINT) AS packed_seqs,
        |  CAST(((n_docs * 64 - eff) * 2000000 + n_docs * 64)
        |    // (2 * n_docs * 64) AS DOUBLE) / 1000000.0 AS pad_waste_pct
        |FROM a""".stripMargin,

    "q_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
        |      AS start_offset
        |  FROM t)
        |SELECT doc_id, shard, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
        |  CAST(floor(start_offset / 64.0) AS BIGINT) AS first_chunk,
        |  CAST(floor((start_offset + n_tokens - 1) / 64.0) AS BIGINT) AS last_chunk
        |FROM o""".stripMargin,

    "q_top_ngrams" ->
      """WITH g AS (
        |  SELECT unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
        |  FROM (SELECT string_split(coalesce(text, ''), ' ') AS w FROM documents))
        |SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM g GROUP BY gram
        |ORDER BY n_occurrences DESC, gram ASC
        |LIMIT 20""".stripMargin,

    // per-n grams replay via range(1, len-k+2) (empty below k words —
    // the counting convention); the union of the three tagged sets
    // reproduces the one-pass flatten
    "q_distinct_ngrams" ->
      """WITH w AS (
        |  SELECT string_split(coalesce(text, ''), ' ') AS w
        |  FROM documents),
        |g AS (
        |  SELECT 1 AS k, unnest(w) AS gram FROM w
        |  UNION ALL
        |  SELECT 2 AS k, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS gram FROM w
        |  UNION ALL
        |  SELECT 3 AS k, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram FROM w),
        |c AS (SELECT k, gram, count(*) AS c FROM g GROUP BY k, gram)
        |SELECT CAST(k AS INT) AS k,
        |  CAST(sum(c) AS BIGINT) AS total_ngrams,
        |  CAST(count(*) AS BIGINT) AS distinct_ngrams,
        |  round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
        |    AS distinct_ratio
        |FROM c GROUP BY k""".stripMargin,

    // group sizes replay off the md5 text fingerprint; the share total
    // is the planted 170%-corpus size
    "q_dup_size_card" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents
        |  WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, text FROM documents
        |  WHERE doc_id % 10 = 0),
        |g AS (
        |  SELECT md5(coalesce(text, '')) AS fp, count(*) AS sz
        |  FROM u GROUP BY 1),
        |card AS (
        |  SELECT sz AS group_size, CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(sz) AS BIGINT) AS n_docs
        |  FROM g GROUP BY 1)
        |SELECT group_size, n_groups, n_docs,
        |  round(CAST(n_docs AS DOUBLE)
        |    / CAST(sum(n_docs) OVER () AS DOUBLE), 6) AS share
        |FROM card""".stripMargin,

    // seen/total replay over md5 8-gram keys; the seen set is the
    // distinct test-gram ∩ train-gram key intersection
    "q_ngram_novelty" -> {
      // NB: no continuation line may START with "||" — the outer
      // template's stripMargin would eat the first pipe
      val grams =
        """CASE WHEN len(w) < 8 THEN [coalesce(text, '')]
          |ELSE list_transform(range(1, len(w) - 6),
          |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
          |    w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' ||
          |    w[i+6] || ' ' || w[i+7]) END""".stripMargin
      s"""WITH test AS (
         |  SELECT doc_id + 100000 AS doc_id, text FROM documents
         |  WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id,
         |    translate(text, 'abcdefghijklmnopqrstuvwxyz',
         |      'nopqrstuvwxyzabcdefghijklm') AS text
         |  FROM documents WHERE doc_id % 5 = 1),
         |tg AS (
         |  SELECT doc_id, md5(g) AS gram_key FROM (
         |    SELECT doc_id, unnest(list_distinct($grams)) AS g
         |    FROM (SELECT doc_id, text,
         |      string_split(coalesce(text, ''), ' ') AS w FROM test))),
         |trg AS (
         |  SELECT DISTINCT md5(g) AS gram_key FROM (
         |    SELECT unnest(list_distinct($grams)) AS g
         |    FROM (SELECT doc_id, text,
         |      string_split(coalesce(text, ''), ' ') AS w FROM documents))),
         |seen AS (
         |  SELECT DISTINCT d.gram_key
         |  FROM (SELECT DISTINCT gram_key FROM tg) d
         |  JOIN trg USING (gram_key)),
         |pd AS (
         |  SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(CASE WHEN seen.gram_key IS NOT NULL THEN 1 ELSE 0
         |      END) AS BIGINT) AS n_seen
         |  FROM tg LEFT JOIN seen USING (gram_key) GROUP BY 1)
         |SELECT t.doc_id,
         |  coalesce(pd.n_grams, 0) AS n_grams,
         |  coalesce(pd.n_seen, 0) AS n_seen,
         |  CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN NULL
         |       ELSE round(1.0 - CAST(pd.n_seen AS DOUBLE)
         |         / CAST(pd.n_grams AS DOUBLE), 6) END AS novelty
         |FROM test t LEFT JOIN pd USING (doc_id)""".stripMargin
    },

    // HHI/Gini numerators replay as INTEGER sums over the per-source
    // count table; ranks ascend by (count, source) — ties swap equal
    // values between ranks, so the rank-weighted sum is order-stable
    "q_domain_hhi" ->
      """WITH c AS (
        |  SELECT source AS d, count(*) AS c FROM documents
        |  WHERE source IS NOT NULL GROUP BY 1),
        |r AS (
        |  SELECT d, c,
        |    row_number() OVER (ORDER BY c ASC, d ASC) AS rk,
        |    row_number() OVER (ORDER BY c DESC, d ASC) AS rkd
        |  FROM c)
        |SELECT CAST(sum(c) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_domains,
        |  round(CAST(sum(c * c) AS DOUBLE)
        |    / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)), 6) AS hhi,
        |  round(CAST(2 * sum(rk * c) - (count(*) + 1) * sum(c) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * CAST(sum(c) AS DOUBLE)), 6)
        |    AS gini,
        |  round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
        |    AS top1_share,
        |  round(CAST(sum(CASE WHEN rkd <= 10 THEN c ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(c) AS DOUBLE), 6) AS top10_share
        |FROM r""".stripMargin,

    // fertility card: the trained-vocab replay joined onto the
    // lang-carried word explode, grouped by lang
    // chunk arithmetic (the q_chunk_docs replay at 8/8), banded minhash
    // over the chunk corpus, exact-Jaccard rescore, the lower-key
    // witness drop, and an ordered string_agg reassembly
    "q_paragraph_dedup" -> {
      s"""WITH t0 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id,
         |    array_to_string(w[1:8], ' ') || ' zq zr qx qy qz qw qv qu'
         |      AS text
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents WHERE doc_id % 10 = 0)),
         |tw AS (
         |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
         |  FROM t0),
         |cw AS (
         |  SELECT doc_id, w,
         |    CASE WHEN len(w) <= 8 THEN 1
         |      ELSE CAST(ceil((len(w) - 8) / 8.0) AS BIGINT) + 1 END AS nc
         |  FROM tw),
         |ck AS MATERIALIZED (
         |  SELECT doc_id, i AS chunk_idx,
         |    array_to_string(w[(i*8+1):(i*8+8)], ' ') AS chunk_text
         |  FROM cw, unnest(range(nc)) AS r(i)),
         |${LlmQueries.minhashCtesOver(
        "  SELECT doc_id * 100000 + chunk_idx AS doc_id, " +
          "chunk_text AS text FROM ck")},
         |ds AS (SELECT doc_id, list_distinct(s) AS s FROM sh),
         |dup AS MATERIALIZED (
         |  SELECT DISTINCT p.doc_b AS ck_key
         |  FROM scored p
         |  JOIN ds a ON a.doc_id = p.doc_a
         |  JOIN ds b ON b.doc_id = p.doc_b
         |  WHERE p.est_jaccard >= 0.5
         |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
         |      >= 0.8),
         |j AS (
         |  SELECT ck.doc_id, ck.chunk_idx, ck.chunk_text,
         |    (d.ck_key IS NULL) AS keep
         |  FROM ck LEFT JOIN dup d
         |    ON ck.doc_id * 100000 + ck.chunk_idx = d.ck_key)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_dropped,
         |  coalesce(string_agg(CASE WHEN keep THEN chunk_text END, ' '
         |    ORDER BY chunk_idx), '') AS clean_text
         |FROM j GROUP BY doc_id""".stripMargin
    },

    // algorithm-independent restricted-recompute oracle: the FULL
    // all-chunks witness rule over (corpus ∪ near-dup plants ∪ verbatim
    // re-crawls), restricted to the batch docs — identical machinery to
    // q_paragraph_dedup's oracle, so equality proves the incremental
    // path loses (and invents) nothing
    "q_paragraph_incremental" -> paragraphRefreshOracleSql,
    "q_paragraph_retire" -> paragraphRetireOracleSql,

    // the streamed refresh drains to the SAME batch set -> same oracle
    "q_stream_paragraph" -> paragraphRefreshOracleSql,

    // the full unigram-LM training trajectory: seeding + 2 unrolled
    // hard-EM + PRUNE rounds (every Viterbi DP position a generated
    // CTE, each round's keep CTE replaying the ¾-shrink-to-vocabSize
    // prune), then the rank card off the final SURVIVING counts/probs
    "q_unigram_lm" ->
      s"""WITH ${unigramCtes(4, 60, 2, 12, vocabSize = 40)}
         |SELECT piece, cnt AS n_uses,
         |  round(CAST(logp AS DOUBLE), 6) AS logp,
         |  CAST(rank AS INT) AS rank, rank <= 40 AS keep
         |FROM (
         |  SELECT c.piece, c.cnt, v.logp,
         |    row_number() OVER (ORDER BY c.cnt DESC, c.piece ASC) AS rank
         |  FROM keep2 c JOIN v2 v USING (piece))""".stripMargin,

    // training replay + ONE more DP pass under the final probabilities
    // (the model's apply view), then the per-lang fertility tail — the
    // same tail as q_bpe_fertility, proving the card is
    // tokenizer-family-agnostic
    "q_unigram_fertility" ->
      s"""WITH ${unigramCtes(4, 60, 2, 12, extraSegRound = true,
        vocabSize = 40)},
         |vt AS (
         |  SELECT word,
         |    CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_tokens
         |  FROM seg3),
         |wd AS (
         |  SELECT lang, t AS word FROM (
         |    SELECT lang,
         |      unnest(string_split(coalesce(text, ''), ' ')) AS t
         |    FROM documents)
         |  WHERE t <> ''),
         |agg AS (
         |  SELECT wd.lang,
         |    CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(CASE WHEN vt.n_tokens IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_oov_words,
         |    CAST(coalesce(sum(vt.n_tokens), 0) AS BIGINT) AS n_bpe_tokens
         |  FROM wd LEFT JOIN vt USING (word)
         |  GROUP BY wd.lang)
         |SELECT lang, n_words, n_oov_words, n_bpe_tokens,
         |  CASE WHEN n_words = n_oov_words THEN NULL
         |    ELSE round(CAST(n_bpe_tokens AS DOUBLE)
         |      / CAST(n_words - n_oov_words AS DOUBLE), 6) END AS fertility,
         |  round(CAST(n_oov_words AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
         |    AS oov_rate
         |FROM agg""".stripMargin,

    // the unigram-encode replay: training + final segmentation + the
    // q_bpe_encode per-doc tail against the segmented vocabulary
    "q_unigram_encode" ->
      s"""WITH ${unigramCtes(4, 60, 2, 12, extraSegRound = true,
        vocabSize = 40)},
         |vt AS (
         |  SELECT word,
         |    CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_tokens
         |  FROM seg3),
         |wd AS (
         |  SELECT doc_id, t AS word FROM (
         |    SELECT doc_id,
         |      unnest(string_split(coalesce(text, ''), ' ')) AS t
         |    FROM documents)
         |  WHERE t <> ''),
         |agg AS (
         |  SELECT wd.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(CASE WHEN vt.n_tokens IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_oov_words,
         |    CAST(coalesce(sum(vt.n_tokens), 0) AS BIGINT) AS n_pieces
         |  FROM wd LEFT JOIN vt USING (word)
         |  GROUP BY wd.doc_id)
         |SELECT d.doc_id,
         |  coalesce(a.n_words, 0) AS n_words,
         |  coalesce(a.n_oov_words, 0) AS n_oov_words,
         |  coalesce(a.n_pieces, 0) AS n_pieces
         |FROM (SELECT doc_id FROM documents) d
         |LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "q_bpe_fertility" ->
      s"""WITH ${bpeOracleCtes(8)},
         |vt AS (
         |  SELECT word,
         |    CAST(len(string_split(syms, '  ')) AS BIGINT) AS n_tokens
         |  FROM v8),
         |wd AS (
         |  SELECT lang, t AS word FROM (
         |    SELECT lang,
         |      unnest(string_split(coalesce(text, ''), ' ')) AS t
         |    FROM documents)
         |  WHERE t <> ''),
         |agg AS (
         |  SELECT wd.lang,
         |    CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(CASE WHEN vt.n_tokens IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_oov_words,
         |    CAST(coalesce(sum(vt.n_tokens), 0) AS BIGINT) AS n_bpe_tokens
         |  FROM wd LEFT JOIN vt USING (word)
         |  GROUP BY wd.lang)
         |SELECT lang, n_words, n_oov_words, n_bpe_tokens,
         |  CASE WHEN n_words = n_oov_words THEN NULL
         |    ELSE round(CAST(n_bpe_tokens AS DOUBLE)
         |      / CAST(n_words - n_oov_words AS DOUBLE), 6) END AS fertility,
         |  round(CAST(n_oov_words AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
         |    AS oov_rate
         |FROM agg""".stripMargin,

    // BPE-budgeted packing card: the trained-tokenizer replay (the
    // q_bpe_encode CTEs) feeds per-doc n_bpe_tokens into the q_pack_plan
    // histogram arithmetic verbatim
    "q_pack_plan_bpe" ->
      s"""WITH ${bpeOracleCtes(8)},
         |vt AS (
         |  SELECT word,
         |    CAST(len(string_split(syms, '  ')) AS BIGINT) AS n_tokens
         |  FROM v8),
         |wd AS (
         |  SELECT doc_id, t AS word FROM (
         |    SELECT doc_id,
         |      unnest(string_split(coalesce(text, ''), ' ')) AS t
         |    FROM documents)
         |  WHERE t <> ''),
         |agg AS (
         |  SELECT wd.doc_id,
         |    CAST(coalesce(sum(vt.n_tokens), 0) AS BIGINT) AS n_bpe_tokens
         |  FROM wd LEFT JOIN vt USING (word)
         |  GROUP BY wd.doc_id),
         |tk AS (
         |  SELECT coalesce(a.n_bpe_tokens, 0) AS n
         |  FROM (SELECT doc_id FROM documents) d
         |  LEFT JOIN agg a USING (doc_id)),
         |hh AS (SELECT n, count(*) AS c FROM tk GROUP BY n),
         |cm2 AS (
         |  SELECT n, c,
         |    sum(c) OVER (ORDER BY n
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
         |    sum(c) OVER () AS docs
         |  FROM hh),
         |pp AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS n_docs,
         |    CAST(sum(n * c) AS BIGINT) AS total_tokens,
         |    CAST(min(CASE WHEN cm * 100 >= docs * 50 THEN n END) AS BIGINT)
         |      AS p50_tokens,
         |    CAST(min(CASE WHEN cm * 100 >= docs * 90 THEN n END) AS BIGINT)
         |      AS p90_tokens,
         |    CAST(min(CASE WHEN cm * 100 >= docs * 99 THEN n END) AS BIGINT)
         |      AS p99_tokens,
         |    CAST(64 AS INTEGER) AS seq_len,
         |    CAST(coalesce(sum(CASE WHEN n > 64 THEN c END), 0) AS BIGINT)
         |      AS n_overlong,
         |    CAST(coalesce(sum(CASE WHEN n > 64 THEN (n - 64) * c END), 0)
         |      AS BIGINT) AS overflow_tokens,
         |    CAST(sum(least(n, 64) * c) AS BIGINT) AS eff
         |  FROM cm2)
         |SELECT n_docs, total_tokens, p50_tokens, p90_tokens, p99_tokens,
         |  seq_len, n_overlong, overflow_tokens,
         |  CAST((eff + 63) // 64 AS BIGINT) AS packed_seqs,
         |  CAST(((n_docs * 64 - eff) * 2000000 + n_docs * 64)
         |    // (2 * n_docs * 64) AS DOUBLE) / 1000000.0 AS pad_waste_pct
         |FROM pp""".stripMargin,

    // the release sheet: every card CTE replays its standalone oracle's
    // arithmetic verbatim, only re-rooted on the C4-kept corpus; the
    // split CTE replays exactDedup's md5(lower(text)) group + the
    // md5-bucket split
    "q_corpus_release" -> releaseSheetSqlOver(
      s"""$mCte,
         |kept AS (
         |  SELECT doc_id, lang, source, n_chars, text, n_tokens FROM m
         |  WHERE n_tokens >= 5
         |    AND NOT contains(t, 'lorem ipsum')
         |    AND NOT contains(t, '{')
         |    AND NOT (contains(t, 'privacy policy')
         |      OR contains(t, 'cookie policy')
         |      OR contains(t, 'terms of use') OR contains(t, 'uses cookies'))
         |    AND NOT (contains(t, 'enable javascript')
         |      OR contains(t, 'javascript required')))""".stripMargin),

    // the classifier-scored sheet: the SAME five-card tail, re-rooted
    // on the classifier-kept corpus — the lrCtes trajectory replay
    // scores every doc, and the filter keeps the top 50% by score via
    // the exact type-1 median off the 6-dp score histogram (integer
    // cross-multiplied cutoff; ties at the cut all kept), exactly the
    // stored-model rank-and-keep filter the Spark entry applies
    "q_corpus_release_scored" -> releaseSheetSqlOver(
      s"""${lrCtes(256, 5, 0.5)},
         |sx AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST(round(CAST(score AS DOUBLE), 6) AS DECIMAL(18,6)) AS s
         |  FROM fs),
         |sh2 AS (SELECT s, count(*) AS c FROM sx GROUP BY 1),
         |scm AS (
         |  SELECT s, c,
         |    sum(c) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(c) OVER () AS n
         |  FROM sh2),
         |cut AS (
         |  SELECT min(CASE WHEN cum * 100 >= n * 50 THEN s END) AS v
         |  FROM scm),
         |$mCte,
         |kept AS (
         |  SELECT m.doc_id, m.lang, m.source, m.n_chars, m.text,
         |    m.n_tokens
         |  FROM m JOIN sx ON sx.doc_id = m.doc_id
         |  WHERE sx.s >= (SELECT v FROM cut))""".stripMargin),

    // DuckDB list slices are 1-based inclusive: w[a:b] = Spark
    // slice(w, a, b-a+1). string_agg skips the NULL (dropped) segments
    // and returns NULL when every segment dropped — coalesce to '' to
    // match Spark's array_join over an empty survivor array.
    "q_dedup_spans" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w, CAST(ceil(len(w) / 3.0) AS BIGINT) AS ns FROM t),
        |segs AS (
        |  SELECT doc_id, i AS seg_idx,
        |    array_to_string(w[(i*3+1):(i*3+3)], ' ') AS seg
        |  FROM c, unnest(range(ns)) AS r(i)),
        |keyed AS (SELECT doc_id, seg_idx, seg, md5(seg) AS k FROM segs),
        |freq AS (
        |  SELECT k, min(doc_id) AS keeper
        |  FROM keyed GROUP BY k HAVING count(DISTINCT doc_id) >= 2),
        |j AS (
        |  SELECT kk.doc_id, kk.seg_idx, kk.seg,
        |    (f.k IS NULL OR kk.doc_id = f.keeper) AS keep
        |  FROM keyed kk LEFT JOIN freq f ON kk.k = f.k)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(CASE WHEN keep THEN seg END, ' '
        |    ORDER BY seg_idx), '') AS clean_text
        |FROM j GROUP BY doc_id""".stripMargin,

    // The treatment replay: islands on the HIGHER side of each pair
    // (roles flipped), qualifying spans (clamped run + k - 1 >= 5)
    // exploded to covered token positions, the rebuild an ordered
    // string_agg over uncovered tokens; untouched docs keep their
    // ORIGINAL text verbatim (CASE on coverage, not a retokenized
    // join).
    "q_dedup_spans_clean" -> {
      val g3 = "w[i] || ' ' || w[i+1] || ' ' || w[i+2]"
      s"""WITH ${LlmQueries.minhashCtesOver(
        """  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000 AS doc_id, 'zq zr ' || text AS text
          |  FROM documents WHERE doc_id % 10 = 0""".stripMargin)},
         |cand AS (
         |  SELECT doc_a, doc_b FROM scored WHERE est_jaccard >= 0.5),
         |ag AS MATERIALIZED (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, i AS pos,
         |    md5(CASE WHEN len(w) < 3 THEN text ELSE $g3 END) AS gram_key
         |  FROM t, unnest(range(1, greatest(len(w) - 1, 2))) AS r(i)),
         |ga AS (SELECT DISTINCT doc_id AS doc_a, gram_key FROM ag),
         |hit2 AS (
         |  SELECT c.doc_b, c.doc_a, ag.pos, ag.n_tokens,
         |    row_number() OVER (PARTITION BY c.doc_b, c.doc_a
         |      ORDER BY ag.pos) AS rn
         |  FROM cand c
         |  JOIN ag ON ag.doc_id = c.doc_b
         |  JOIN ga ON ga.doc_a = c.doc_a AND ga.gram_key = ag.gram_key),
         |runs2 AS (
         |  SELECT doc_b, doc_a, pos - rn AS isl,
         |    count(*) AS run, min(pos) AS start, min(n_tokens) AS n
         |  FROM hit2 GROUP BY 1, 2, 3),
         |spans AS (
         |  SELECT doc_b, start, run, n FROM runs2
         |  WHERE least(run + 2, n) >= 5),
         |cov AS (
         |  SELECT DISTINCT doc_b AS doc_id, tp FROM spans,
         |    unnest(range(start, least(start + run + 1, n) + 1))
         |      AS r(tp)),
         |nc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS ncov
         |  FROM cov GROUP BY 1),
         |tok AS (
         |  SELECT t.doc_id, i AS tp, w[i] AS wd
         |  FROM t, unnest(range(1, len(w) + 1)) AS r(i)
         |  WHERE t.doc_id IN (SELECT doc_id FROM nc)),
         |rebuilt AS (
         |  SELECT tok.doc_id,
         |    coalesce(string_agg(CASE WHEN cov.tp IS NULL THEN wd END,
         |      ' ' ORDER BY tok.tp), '') AS clean
         |  FROM tok LEFT JOIN cov
         |    ON cov.doc_id = tok.doc_id AND cov.tp = tok.tp
         |  GROUP BY 1)
         |SELECT t.doc_id,
         |  CAST(len(w) AS BIGINT) AS n_tokens,
         |  coalesce(nc.ncov, 0) AS n_removed,
         |  CASE WHEN nc.doc_id IS NULL THEN coalesce(t.text, '')
         |    ELSE rebuilt.clean END AS clean_text
         |FROM t
         |LEFT JOIN nc USING (doc_id)
         |LEFT JOIN rebuilt ON rebuilt.doc_id = t.doc_id""".stripMargin
    },

    // Replays the banded minhash candidates over the shifted-copy
    // corpus, the stride-1 positional 3-gram stream, the b-side
    // membership set, and the pos - row_number islands identity —
    // integer-exact end to end. Reuses LlmQueries' shared minhash CTE
    // scaffold (t/sh/sig/banded/scored over u).
    "q_dedup_spans_shifted" -> {
      val g3 = "w[i] || ' ' || w[i+1] || ' ' || w[i+2]"
      s"""WITH ${LlmQueries.minhashCtesOver(
        """  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000 AS doc_id, 'zq zr ' || text AS text
          |  FROM documents WHERE doc_id % 10 = 0""".stripMargin)},
         |cand AS (
         |  SELECT doc_a, doc_b FROM scored WHERE est_jaccard >= 0.5),
         |ag AS MATERIALIZED (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, i AS pos,
         |    md5(CASE WHEN len(w) < 3 THEN text ELSE $g3 END) AS gram_key
         |  FROM t, unnest(range(1, greatest(len(w) - 1, 2))) AS r(i)),
         |gs AS (SELECT DISTINCT doc_id AS doc_b, gram_key FROM ag),
         |hit AS (
         |  SELECT c.doc_a, c.doc_b, ag.pos,
         |    row_number() OVER (PARTITION BY c.doc_a, c.doc_b
         |      ORDER BY ag.pos) AS rn
         |  FROM cand c
         |  JOIN ag ON ag.doc_id = c.doc_a
         |  JOIN gs ON gs.doc_b = c.doc_b AND gs.gram_key = ag.gram_key),
         |runs AS (
         |  SELECT doc_a, doc_b, pos - rn AS isl, count(*) AS run
         |  FROM hit GROUP BY 1, 2, 3),
         |hs AS (
         |  SELECT doc_a, doc_b, CAST(sum(run) AS BIGINT) AS n_matched,
         |    max(run) AS maxrun
         |  FROM runs GROUP BY 1, 2),
         |am AS (
         |  SELECT doc_id AS doc_a, CAST(max(n_tokens) AS BIGINT)
         |      AS n_tokens_a,
         |    CAST(count(*) AS BIGINT) AS n_grams_a
         |  FROM ag GROUP BY 1)
         |SELECT c.doc_a, c.doc_b, am.n_tokens_a, am.n_grams_a,
         |  coalesce(hs.n_matched, 0) AS n_matched,
         |  CAST(CASE WHEN hs.maxrun IS NULL THEN 0
         |    ELSE least(hs.maxrun + 2, am.n_tokens_a) END AS BIGINT)
         |    AS longest_span,
         |  round(CAST(CASE WHEN hs.maxrun IS NULL THEN 0
         |      ELSE least(hs.maxrun + 2, am.n_tokens_a) END AS DOUBLE)
         |    / am.n_tokens_a, 6) AS span_frac
         |FROM cand c JOIN am USING (doc_a)
         |LEFT JOIN hs USING (doc_a, doc_b)""".stripMargin
    },

    "q_chunk_docs" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w,
        |    CASE WHEN len(w) <= 32 THEN 1
        |      ELSE CAST(ceil((len(w) - 32) / 24.0) AS BIGINT) + 1 END AS nc
        |  FROM t)
        |SELECT doc_id, i AS chunk_idx, i * 24 AS chunk_start,
        |  CAST(len(w[(i*24+1):(i*24+32)]) AS BIGINT) AS n_tokens,
        |  array_to_string(w[(i*24+1):(i*24+32)], ' ') AS chunk_text
        |FROM c, unnest(range(nc)) AS r(i)""".stripMargin,

    // pos is 0-based to match Spark's posexplode; vocab ids 1..16 in
    // (count DESC, token ASC) order, OOV encoded as 0
    "q_vocab_encode" ->
      """WITH tok AS (
        |  SELECT doc_id, i - 1 AS pos, w[i] AS token
        |  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
        |        FROM documents),
        |       unnest(range(1, len(w) + 1)) AS r(i)),
        |vc AS (
        |  SELECT token, count(*) AS c FROM tok GROUP BY token
        |  ORDER BY c DESC, token ASC LIMIT 16),
        |vocab AS (
        |  SELECT token,
        |    row_number() OVER (ORDER BY c DESC, token ASC) AS token_id
        |  FROM vc)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  string_agg(CAST(coalesce(v.token_id, 0) AS VARCHAR), ' '
        |    ORDER BY pos) AS ids_str
        |FROM tok t LEFT JOIN vocab v ON t.token = v.token
        |GROUP BY doc_id""".stripMargin)

  def verifySort: Map[String, Seq[String]] = Map(
    "q_decontaminate" -> Seq("doc_id"),
    "q_quality_repetition" -> Seq("doc_id"),
    "q_boilerplate_frac" -> Seq("doc_id"),
    "q_gopher_filter" -> Seq("doc_id"),
    "q_lm_perplexity" -> Seq("doc_id"),
    "q_ccnet_buckets" -> Seq("doc_id"),
    "q_bpe_vocab" -> Seq("word"),
    "q_unigram_lm" -> Seq("piece"),
    "q_unigram_fertility" -> Seq("lang"),
    "q_paragraph_dedup" -> Seq("doc_id"),
    "q_paragraph_incremental" -> Seq("doc_id"),
    "q_paragraph_retire" -> Seq("doc_id"),
    "q_stream_paragraph" -> Seq("doc_id"),
    "q_unigram_encode" -> Seq("doc_id"),
    "q_bpe_encode" -> Seq("doc_id"),
    "q_bpe_tokenize" -> Seq("word"),
    "q_pii_scrub" -> Seq("doc_id"),
    "q_dedup_groups" -> Seq("doc_id"),
    "q_dedup_groups_cc" -> Seq("doc_id"),
    "q_dedup_keep_best" -> Seq("doc_id"),
    "q_seq_pack" -> Seq("doc_id"),
    "q_dedup_spans" -> Seq("doc_id"),
    "q_dedup_spans_shifted" -> Seq("doc_a", "doc_b"),
    "q_dedup_spans_clean" -> Seq("doc_id"),
    "q_chunk_docs" -> Seq("doc_id", "chunk_idx"),
    "q_vocab_encode" -> Seq("doc_id"),
    "q_decontaminate_bloom" -> Seq("doc_id"),
    "q_dsir_weights" -> Seq("doc_id"),
    "q_ce_delta" -> Seq("doc_id"),
    "q_quality_classifier" -> Seq("doc_id"),
    "q_stream_quality" -> Seq("doc_id"),
    "q_contamination_span" -> Seq("doc_id"),
    "q_classifier_calibration" -> Seq("bin"),
    "q_corpus_diff" -> Seq("status"),
    "q_corpus_report" -> Seq("lang", "source"),
    "q_leakage_split" -> Seq("doc_id"),
    "q_c4_filter" -> Seq("doc_id"),
    "q_distinct_ngrams" -> Seq("k"),
    "q_dup_size_card" -> Seq("group_size"),
    "q_ngram_novelty" -> Seq("doc_id"),
    "q_corpus_release" -> Seq("section", "row_key"),
    "q_corpus_release_scored" -> Seq("section", "row_key"),
    "q_bpe_fertility" -> Seq("lang"))
}
