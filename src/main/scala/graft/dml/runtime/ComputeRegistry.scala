package graft.dml.runtime

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dml.ComputeSpec

/** `ml_register_compute` runtime (SURVEY §2.6): named kernels applied as
  * Column expressions over a relation — one-shot via withColumn, or
  * tick-scheduled via Structured Streaming (reference parser.py:43-58,
  * EXTENSIONS.md:99-112).
  *
  * Kernels are `Seq[Column] => Column`, so every builtin stays inside
  * whole-stage codegen — no UDFs, no per-row JVM dispatch. CUDA launch
  * params (BLOCK/GRID/SHARED) have no Spark analog and are retained as
  * metadata only (SURVEY §2.1 S2).
  */
object ComputeRegistry {

  type Kernel = Seq[Column] => Column

  private val kernels = new ConcurrentHashMap[String, Kernel]()

  // last batch's cache scope per tick-scheduled compute (see schedule)
  private val scheduledScopes =
    new ConcurrentHashMap[String, graft.llm.PipelineCaches.Scope]()

  /** Release the cache scope of a stopped tick-scheduled compute's final
    * batch. Idempotent; unknown names are a no-op. */
  def reclaimScheduled(name: String): Unit =
    Option(scheduledScopes.remove(name)).foreach(_.clear())

  /** Deterministic, codegen-friendly builtins. */
  private val builtins: Map[String, Kernel] = Map(
    "vector_add" -> (cols => cols.reduce(_ + _)),
    "vector_sub" -> (cols => cols.reduce(_ - _)),
    "vector_mul" -> (cols => cols.reduce(_ * _)),
    "vector_avg" -> (cols => cols.reduce(_ + _) / lit(cols.size)),
    "relu" -> (cols => greatest(cols.head, lit(0))),
    "clip01" -> (cols => least(greatest(cols.head, lit(0)), lit(1))),
    "sigmoid" -> (cols => lit(1.0) / (lit(1.0) + exp(-cols.head))),
    "log1p_abs" -> (cols => log1p(abs(cols.head))),
    // reference's COMPUTE example kernel (README.md:70-73): a bounded
    // risk score over the input signals
    "immune_scan" -> (cols =>
      least(greatest(cols.reduce(_ + _) / lit(cols.size), lit(0)), lit(1))))

  builtins.foreach { case (k, v) => kernels.put(k, v) }

  /** Whole-relation kernels for operators whose semantics need more than a
    * per-row projection (dedup group assignment crosses rows). Signature:
    * (relation, input columns, output column) => relation + output column.
    * This is the SURVEY §2.8 DSL surface for the LLM-pipeline tier:
    * `COMPUTE dedup FROM table(text) INTO column(dup_group) USING
    * minhash_dedup`. All of them require a `doc_id` key column. */
  type TableKernel = (DataFrame, Seq[String], String) => DataFrame

  private val tableKernels = new ConcurrentHashMap[String, TableKernel]()

  private def keyed(df: DataFrame, textCol: String): DataFrame = {
    require(df.columns.contains("doc_id"),
      s"table kernels require a 'doc_id' key column; relation has " +
        s"[${df.columns.mkString(", ")}]")
    df.select(col("doc_id"), col(textCol).as("text"))
  }

  /** Deterministic cell seeds for the `semantic_dedup` kernel: the
    * `autoCellCount(n)` smallest vec_ids. The count GROWS with the corpus
    * (occupancy pinned at ~256) so within-cell pair work stays ~linear —
    * a fixed cell count is quadratic once n outgrows k·occupancy
    * (measured: fixed k=16 on 80k vectors cost 32.7s vs 7.8s auto-k,
    * BASELINE.md scale findings). Bounded driver collect: k longs, the
    * same index-metadata envelope as IVF centroids / PQ codebooks. */
  private[runtime] def semanticSeeds(embs: DataFrame): Seq[Long] =
    graft.llm.Similarity.autoCellSeeds(embs)

  /** The shared near-dup group pipeline of the dedup kernels: banded
    * MinHash candidates over the keyed (doc_id, text) frame, then
    * [[graft.llm.Curation.dupGroups]]' connected components — O(log n)
    * rounds on ANY candidate graph, so a long near-dup chain in an
    * arbitrary user corpus cannot degrade it. One definition so
    * `minhash_dedup` and `keep_best_dedup` can never diverge on candidate
    * parameters. */
  private def textDupGroups(df: DataFrame, keyedDf: DataFrame): DataFrame =
    graft.llm.Curation.dupGroups(df.select("doc_id"),
      graft.llm.Dedup.minhashCandidates(keyedDf))

  private val tableBuiltins: Map[String, TableKernel] = Map(
    // banded MinHash candidates -> alternating-star CC -> group id
    // (see textDupGroups)
    "minhash_dedup" -> { (df, ins, out) =>
      val groups = textDupGroups(df, keyed(df, ins.head))
        .withColumnRenamed("dup_group", out)
      df.join(groups, Seq("doc_id"))
    },
    // minhash near-dup groups -> keep-BEST flag (the production keep
    // rule: longest member wins, ties to the smallest id) — the
    // keep-side companion of minhash_dedup's group labels; filter on
    // the output for the deduped corpus
    "keep_best_dedup" -> { (df, ins, out) =>
      val d = keyed(df, ins.head)
      val kept = graft.llm.Curation.keepBestPerGroup(
        textDupGroups(df, d), graft.llm.Curation.byteLenScore(d))
        .select(col("doc_id"), col("is_kept").as(out))
      df.join(kept, Seq("doc_id"))
    },
    // minhash near-dup groups -> leakage-safe 80/10/10 split: whole
    // groups land in one split (md5 bucket of the GROUP label, the
    // hashSample family), so a near-dup of a held-out doc can never sit
    // in train; (dup_group, bucket) ride, INTO column(...) names the
    // split column
    "leakage_split" -> { (df, ins, out) =>
      require(!Seq("dup_group", "bucket").contains(out),
        s"leakage_split reserves its group/bucket column names; pick " +
          s"another INTO column name (got '$out')")
      val splits = graft.llm.Curation.leakageSafeSplit(
        textDupGroups(df, keyed(df, ins.head)), trainPct = 80, valPct = 10)
        .select(col("doc_id"), col("dup_group"), col("bucket"),
          col("split").as(out))
      df.join(splits, Seq("doc_id"))
    },
    // context-length packing planner — relation-REPLACING, ONE row:
    // token-count quantiles, overflow at seqLen=64, the concatenation-
    // packing sequence count (the catalog q_pack_plan configuration);
    // INTO column(...) names the padding-waste column
    "pack_plan" -> { (df, ins, out) =>
      require(!Seq("n_docs", "total_tokens", "p50_tokens", "p90_tokens",
          "p99_tokens", "seq_len", "n_overlong", "overflow_tokens",
          "packed_seqs").contains(out),
        s"pack_plan reserves its card column names; pick another INTO " +
          s"column name (got '$out')")
      graft.llm.TextOps.packPlan(keyed(df, ins.head), seqLen = 64)
        .withColumnRenamed("pad_waste_pct", out)
    },
    // the packing card budgeted by REAL tokenizer tokens: trains the
    // production BPE path (trainLocal, 8 merges) on the relation's own
    // text and plans at seq 64 over per-doc subword counts — relation-
    // REPLACING, ONE row; INTO column(...) names the pad-waste column
    "pack_plan_bpe" -> { (df, ins, out) =>
      require(!Seq("n_docs", "total_tokens", "p50_tokens", "p90_tokens",
          "p99_tokens", "seq_len", "n_overlong", "overflow_tokens",
          "packed_seqs").contains(out),
        s"pack_plan_bpe reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      val d = keyed(df, ins.head)
      graft.llm.TextOps.packPlanBpe(d,
          graft.llm.Bpe.trainLocal(df.sparkSession, d, nMerges = 8),
          seqLen = 64)
        .withColumnRenamed("pad_waste_pct", out)
    },
    // corpus-overlap sketch over (text, is_b) input columns —
    // relation-REPLACING, ONE row: union-MinHash Jaccard estimate
    // between the unflagged rows (corpus a) and the flagged rows
    // (corpus b) — the cheap overlap probe before an exact gram join;
    // INTO column(...) names the estimate column
    "corpus_overlap" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"corpus_overlap needs (text, is_b) input columns, got $ins")
      require(!Seq("n_docs_a", "n_docs_b", "n_hashes", "n_agree")
          .contains(out),
        s"corpus_overlap reserves its sketch column names; pick another " +
          s"INTO column name (got '$out')")
      val flag = col(ins(1)).cast("boolean") <=> lit(true)
      val a = keyed(df.filter(!flag), ins.head)
      val b = keyed(df.filter(flag), ins.head)
      require(!b.isEmpty,
        s"corpus_overlap: no b-side rows (column '${ins(1)}' is never " +
          "true)")
      graft.llm.Dedup.corpusOverlapSketch(a, b)
        .withColumnRenamed("est_jaccard", out)
    },
    // robust median/MAD outlier scores over a NUMERIC input column
    // (Iglewicz–Hoaglin modified z, k=3.5 — the catalog q_mad_outliers
    // configuration): robust_z attaches as the output column,
    // is_outlier rides; NULL values keep their rows (NULL score/flag)
    "mad_outlier" -> { (df, ins, out) =>
      require(out != "is_outlier",
        s"mad_outlier reserves 'is_outlier'; pick another INTO column " +
          s"name (got '$out')")
      graft.llm.Sampling.madOutliers(df, ins.head, k = 3.5)
        .withColumnRenamed("robust_z", out)
    },
    // per-group centroid cosine over (group, embedding) input columns:
    // each row's cosine to its own group's sum-vector centroid attaches
    // as the output column — the embedding-space outlier/quality signal
    "centroid_cos" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"centroid_cos needs (group, embedding) input columns, got $ins")
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      val e = df.select(col("doc_id").cast("long").as("vec_id"),
        col(ins.head).as("_grp"), col(ins(1)).as("embedding"))
      val scored = graft.llm.Similarity.centroidCosine(e, "_grp")
        .select(col("vec_id").as("doc_id"), col("centroid_cos").as(out))
      df.join(scored, Seq("doc_id"))
    },
    // normalized-hash exact dedup -> boolean dup flag
    "exact_dedup" -> { (df, ins, out) =>
      val flags = graft.llm.TextOps.exactDedup(keyed(df, ins.head))
        .select(col("doc_id"), col("is_dup").as(out))
      df.join(flags, Seq("doc_id"))
    },
    // 64-bit SimHash signature (explode + partial-agg; crosses rows)
    "simhash" -> { (df, ins, out) =>
      val sigs = graft.llm.Dedup.simhash(keyed(df, ins.head))
        .select(col("doc_id"), col("simhash_bits").as(out))
      df.join(sigs, Seq("doc_id"))
    },
    // segment-level language-consistency flag over a TEXT input column
    // (TextOps.langMixture, 16-word segments): TRUE when a doc's
    // segments disagree on language — the CCNet-stack mixed-language
    // drop/route signal; every doc_id-KEYED row preserved (doc_id is
    // the kernel-family key — a NULL id has no identity to join back
    // on, here as in the simhash/tfidf siblings)
    "lang_mixture" -> { (df, ins, out) =>
      val mix = graft.llm.TextOps.langMixture(keyed(df, ins.head))
        .select(col("doc_id"), col("is_mixed").as(out))
      df.join(mix, Seq("doc_id"))
    },
    // highest-TF-IDF term per doc (rank 1 of Relevance.tfidfTopTerms)
    "tfidf_top_term" -> { (df, ins, out) =>
      val top = graft.llm.Relevance.tfidfTopTerms(keyed(df, ins.head), topN = 1)
        .select(col("doc_id"), col("term").as(out))
      df.join(top, Seq("doc_id"), "left")
    },
    // deterministic global-shuffle position (distributed sort-rank on the
    // md5 of doc_id; the input column is ignored beyond the key)
    "corpus_shuffle" -> { (df, ins, out) =>
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      val pos = graft.llm.Sampling.corpusShuffle(df.select("doc_id"))
        .select(col("doc_id"), col("position").as(out))
      df.join(pos, Seq("doc_id"))
    },
    // value-histogram percent_rank of the input column (ties share a
    // rank), attached as the output column — the quantile-filter building
    // block without the filter, so DSL users pick their own threshold.
    // Every input row is preserved; NULL values rank as NULL
    "percent_rank" -> { (df, ins, out) =>
      graft.llm.Sampling.percentRank(df, ins.head)
        .withColumnRenamed("percent_rank", out)
    },
    // Lee-et-al repeated-span removal: the cleaned text (boilerplate
    // segments kept only in their lowest-doc_id occurrence) attached as
    // the output column; every input row is preserved
    "span_dedup" -> { (df, ins, out) =>
      val cleaned = graft.llm.Curation.spanDedup(keyed(df, ins.head))
        .select(col("doc_id"), col("clean_text").as(out))
      df.join(cleaned, Seq("doc_id"))
    },
    // RAG sliding-window chunking — the one relation-EXPANDING kernel:
    // the result has one row per chunk (doc_id, chunk_idx, chunk_start,
    // n_tokens, <out>), not one per input doc; INTO column(...) names
    // the chunk-text column
    "chunk_docs" -> { (df, ins, out) =>
      graft.llm.TextOps.chunkDocs(keyed(df, ins.head))
        .withColumnRenamed("chunk_text", out)
    },
    // Gopher document-quality rules: the conjunctive keep boolean at the
    // default bands, attached as the output column (the per-rule audit
    // booleans stay on the operator surface — DSL consumers filter on
    // the verdict)
    "gopher_filter" -> { (df, ins, out) =>
      val verdict = graft.llm.Curation.gopherFilter(keyed(df, ins.head))
        .select(col("doc_id"), col("keep").as(out))
      df.join(verdict, Seq("doc_id"))
    },
    // corpus-fitted bigram-LM perplexity (CCNet-shaped quality score);
    // docs with < 2 tokens carry NULL
    "lm_perplexity" -> { (df, ins, out) =>
      val scored = graft.llm.Curation.lmPerplexity(keyed(df, ins.head))
        .select(col("doc_id"), col("perplexity").as(out))
      df.join(scored, Seq("doc_id"), "left")
    },
    // per-domain document cap over a DOMAIN input column — the one
    // relation-SHRINKING kernel: keeps the 10 smallest doc_ids per
    // domain (crawl-dominance control); INTO column(...) names the
    // per-domain rank column
    "domain_cap" -> { (df, ins, out) =>
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      val kept = graft.llm.Sampling.domainCap(
        df.select(col("doc_id"), col(ins.head)), ins.head, cap = 10)
        .select(col("doc_id"), col("cap_rank").as(out))
      df.join(kept, Seq("doc_id"))
    },
    // SemDeDup over an EMBEDDING input column: is-semantic-dup flag
    // attached; cells seeded from the `autoCellCount(n)` smallest doc_ids
    // (deterministic without caller-supplied seeds). The cell count grows
    // with the corpus so within-cell pair work stays ~linear — a FIXED
    // cell count is quadratic once n outgrows k·occupancy (measured:
    // fixed k=16 at 80k vectors cost 32.7s vs 7.8s auto-k, BASELINE.md
    // scale findings).
    "semantic_dedup" -> { (df, ins, out) =>
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      // persist: the embedding projection is read three times (the auto-k
      // count, the seed collect, and the dedup's own assignment) — on an
      // expensive upstream each would otherwise recompute the full plan
      val embs = graft.llm.PipelineCaches.track(
        df.select(col("doc_id").as("vec_id"),
          col(ins.head).as("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val flags = graft.llm.Similarity.semanticDedup(embs, semanticSeeds(embs))
        .select(col("vec_id").as("doc_id"), col("is_semdup").as(out))
      df.join(flags, Seq("doc_id"))
    },
    // CCNet head/middle/tail bucket over (text, lang) input columns:
    // per-LANGUAGE perplexity percent-rank cut at 1/3 and 2/3; docs with
    // < 2 tokens carry a NULL bucket (no perplexity to rank)
    "ccnet_bucket" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"ccnet_bucket needs (text, lang) input columns, got $ins")
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      val docs = df.select(col("doc_id"), col(ins.head).as("text"),
        col(ins(1)).as("lang"))
      val buckets = graft.llm.Curation.ccnetBuckets(docs)
        .select(col("doc_id"), col("bucket").as(out))
      df.join(buckets, Seq("doc_id"), "left")
    },
    // Efraimidis–Spirakis weighted sample over a WEIGHT input column —
    // relation-shrinking like domain_cap: keeps the 50 winning docs;
    // INTO column(...) names the selection-rank column
    "weighted_sample" -> { (df, ins, out) =>
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      val kept = graft.llm.Sampling.weightedSample(
        df.select(col("doc_id"), col(ins.head)), k = 50,
        weightCol = ins.head)
        .select(col("doc_id"), col("sel_rank").as(out))
      df.join(kept, Seq("doc_id"))
    },
    // BPE subword-token count over a TEXT input column: train up to 8
    // merges on the relation itself, then the broadcast-vocab encode —
    // the budget-estimation primitive ("how many tokens is this corpus
    // under a learned tokenizer"). strict=false clamps the budget to
    // what the relation sustains: a DSL caller never chose the 8, so a
    // small/low-diversity relation trains fewer merges instead of
    // raising about a knob the kernel does not expose
    "bpe_token_count" -> { (df, ins, out) =>
      val keyedDf = keyed(df, ins.head)
      val model = graft.llm.Bpe.train(df.sparkSession, keyedDf,
        nMerges = 8, strict = false)
      val enc = graft.llm.Bpe.encode(keyedDf, model)
        .select(col("doc_id"), col("n_bpe_tokens").as(out))
      df.join(enc, Seq("doc_id"))
    },
    // unigram-LM (SentencePiece-style) tokenizer TRAINING over a TEXT
    // input column — relation-REPLACING: the trained piece card
    // (piece, n_uses, logp, rank + the keep flag); INTO column(...)
    // names the keep column. The other tokenizer family beside
    // bpe_token_count; fixed small-budget parameters like the BPE
    // kernel (COMPUTE syntax has no parameter slot)
    "unigram_lm" -> { (df, ins, out) =>
      require(!Seq("piece", "n_uses", "logp", "rank").contains(out),
        s"unigram_lm reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.Unigram.unigramLmCard(df.sparkSession,
          keyed(df, ins.head),
          maxPieceLen = 4, seedSize = 60, iters = 2, vocabSize = 40)
        .withColumnRenamed("keep", out)
    },
    // unigram-LM APPLY over a TEXT input column — bpe_token_count's
    // twin for the other tokenizer family: every row gains its
    // Viterbi-piece count under the corpus-trained model; INTO
    // column(...) names the piece-count column
    "unigram_token_count" -> { (df, ins, out) =>
      val keyedDf = keyed(df, ins.head)
      val model = graft.llm.Unigram.train(df.sparkSession, keyedDf,
        maxPieceLen = 4, seedSize = 60, iters = 2)
      val enc = graft.llm.Unigram.encode(keyedDf, model)
        .select(col("doc_id"), col("n_pieces").as(out))
      df.join(enc, Seq("doc_id"))
    },
    // signed random projection of an EMBEDDING input column to 16 dims
    // (JL sketch — the coarse-ANN / clustering preprocessor); a pure
    // zero-shuffle native projection
    "rp_project" -> { (df, ins, out) =>
      val dim = graft.llm.Similarity.embeddingDim(
        df.select(col(ins.head).as("embedding")))
      df.withColumn(out, graft.functions.MatchExpressions
        .signedProjection(col(ins.head), 16, dim))
    },
    // temperature-scaled mixture factor over a DOMAIN input column
    // (XLM-style p^alpha flattening at alpha=0.3): each row gets its
    // domain's up/down-sampling factor as the output column — feed it
    // to domain_mix-style materialization. The mix table is
    // domain-sized and broadcast back; every input row is preserved,
    // and the join is NULL-SAFE: rows with a NULL domain form their own
    // mixture group (temperatureShares' groupBy already counts them),
    // so they carry that group's factor instead of a silent NULL that
    // a downstream materialization would drop
    "temperature_mix" -> { (df, ins, out) =>
      require(out != ins.head,
        s"temperature_mix cannot write its factor over the domain " +
          s"input column '$out'; pick another INTO column name")
      val shares = graft.llm.Sampling
        .temperatureShares(df, ins.head, alpha = 0.3)
        .select(col("domain").as("_tm_domain"), col("factor").as(out))
      df.join(broadcast(shares),
          df(ins.head) <=> col("_tm_domain"), "left")
        .drop("_tm_domain")
    },
    // FULL tokenizer apply over a TEXT input column — relation-
    // EXPANDING like chunk_docs, but note the output shape: WORD-level
    // (word, <out>, n_tokens) — a word maps to many docs, so there is
    // no doc_id to carry and the result does not chain into
    // doc_id-keyed kernels. Merges are trained on the relation itself
    // with the same clamped budget as bpe_token_count; INTO column(...)
    // names the symbolization column (n_tokens rides along)
    "bpe_tokenize" -> { (df, ins, out) =>
      require(out != "word" && out != "n_tokens",
        s"bpe_tokenize reserves output columns 'word' and 'n_tokens'; " +
          s"pick another INTO column name (got '$out')")
      val keyedDf = keyed(df, ins.head)
      val model = graft.llm.Bpe.train(df.sparkSession, keyedDf,
        nMerges = 8, strict = false)
      graft.llm.Bpe.tokenize(keyedDf, model).withColumnRenamed("syms", out)
    },
    // hybrid RRF retrieval over (text, embedding) input columns:
    // reciprocal-rank fusion of the BM25 lexical arm and the
    // embedding-cosine semantic arm; the fused rank (1..20) attaches as
    // the output column, NULL for docs neither arm retrieved.
    // Deterministic without caller params: the query terms are the
    // relation's 3 most-common per-doc top-TF-IDF terms and the query
    // vector is the smallest doc_id's — both bounded driver collects
    // (3 strings + 1 long, the index-metadata envelope)
    "hybrid_rrf" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"hybrid_rrf needs (text, embedding) input columns, got $ins")
      val docsDf = keyed(df, ins.head)
      val embsDf = df.select(col("doc_id").cast("long").as("vec_id"),
        col(ins(1)).as("embedding"))
      val terms = graft.llm.Relevance.tfidfTopTerms(docsDf, topN = 1)
        .groupBy("term").agg(count(lit(1)).as("_n"))
        .orderBy(col("_n").desc, col("term").asc).limit(3)
        .collect().map(_.getString(0)).toSeq
      require(terms.nonEmpty,
        "hybrid_rrf: relation has no scoreable terms (all texts empty?)")
      val qidRow = df.agg(min(col("doc_id")).cast("long")).collect().head
      require(!qidRow.isNullAt(0),
        "hybrid_rrf: no non-NULL doc_id to seed the query vector")
      val qid = qidRow.getLong(0)
      val ranked = graft.llm.Relevance
        .hybridRrf(docsDf, embsDf, terms, queryVecId = qid)
        .select(col("doc_id"), col("rank").as(out))
      df.join(ranked, Seq("doc_id"), "left")
    },
    // exact shingle-containment score over a TEXT input column (Broder's
    // resemblance-vs-containment split): banded-MinHash candidates, then
    // the containment rescore; the per-doc MAX containment in either
    // direction ("how much of this doc lives inside some near-duplicate
    // partner, or of a partner inside it") attaches as the output
    // column — NULL when LSH produced no candidate pair for the doc
    "containment" -> { (df, ins, out) =>
      val d = keyed(df, ins.head)
      val cands = graft.llm.Dedup.minhashCandidates(d)
      val scored = graft.llm.Dedup.containmentRescore(d, cands)
      val perDoc = scored
        .select(col("doc_a").as("doc_id"), col("containment_a").as("_c"))
        .unionAll(scored
          .select(col("doc_b").as("doc_id"), col("containment_b").as("_c")))
        .groupBy("doc_id").agg(max("_c").as(out))
      df.join(perDoc, Seq("doc_id"), "left")
    },
    // cluster-balanced (diversity) sampling over an EMBEDDING input
    // column — relation-SHRINKING like domain_cap: assign each row to
    // its auto-k seeded max-cosine semantic cell and keep the 10
    // smallest doc_ids per cell (cap each semantic neighborhood instead
    // of letting one dense topic dominate); INTO column(...) names the
    // within-cell rank column
    "cluster_balanced_sample" -> { (df, ins, out) =>
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      // persist: the embedding projection feeds the auto-k count, the
      // seed collect, and the assignment — same discipline as
      // semantic_dedup above
      val embs = graft.llm.PipelineCaches.track(
        df.select(col("doc_id").cast("long").as("vec_id"),
          col(ins.head).as("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val kept = graft.llm.Similarity.clusterBalancedSample(
        embs, semanticSeeds(embs), cap = 10)
        .select(col("vec_id").as("doc_id"), col("cell_rank").as(out))
      df.join(kept, Seq("doc_id"))
    },
    // DSIR importance weights over (text, is_target) input columns: the
    // target side is the relation's OWN rows whose second input column
    // is true (the in-relation quality-seed flag — a curated slice, a
    // wiki domain marker), raw = every row. Each row gets its hashed-
    // unigram log importance weight (Xie et al. 2023) as the output
    // column; token-free docs carry NULL (rows preserved)
    "dsir_weights" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"dsir_weights needs (text, is_target) input columns, got $ins")
      val d = keyed(df, ins.head)
      val tgt = keyed(
        df.filter(col(ins(1)).cast("boolean") <=> lit(true)), ins.head)
      require(!tgt.isEmpty,
        s"dsir_weights: no target rows (column '${ins(1)}' is never true)")
      // the Agg variant: one corpus join (straight onto df), not the
      // operator's row-preserving join plus a second join-back
      val w = graft.llm.Curation.dsirWeightsAgg(d, tgt)
        .select(col("doc_id"), col("log_weight").as(out))
      df.join(w, Seq("doc_id"), "left")
    },
    // Moore–Lewis cross-entropy-difference selection over
    // (text, is_target) input columns: target-LM-vs-self-LM score delta
    // (negative = target-like) attached as the output column; docs with
    // < 2 tokens carry NULL (no bigram to score; rows preserved)
    "ce_delta" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"ce_delta needs (text, is_target) input columns, got $ins")
      val d = keyed(df, ins.head)
      val tgt = keyed(
        df.filter(col(ins(1)).cast("boolean") <=> lit(true)), ins.head)
      require(!tgt.isEmpty,
        s"ce_delta: no target rows (column '${ins(1)}' is never true)")
      val scored = graft.llm.Curation.crossEntropyDeltaAgg(d, tgt)
        .select(col("doc_id"), col("ce_delta").as(out))
      df.join(scored, Seq("doc_id"), "left")
    },
    // embedding norm-health card over an EMBEDDING input column —
    // relation-REPLACING, ONE row (null/non-finite/zero counts, mean,
    // p10/p50/p90 of finite norms); INTO column(...) names the mean
    "emb_norm_card" -> { (df, ins, out) =>
      require(!Seq("n_vecs", "n_null", "n_nonfinite", "n_zero",
          "p10", "p50", "p90").contains(out),
        s"emb_norm_card reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      graft.llm.Similarity.embNormCard(
          df.select(col(ins.head).as("embedding")))
        .withColumnRenamed("mean_norm", out)
    },
    // MMR diversified re-rank over an EMBEDDING input column — relation-
    // REPLACING: the 5-pick greedy card for query doc_id 0 (rank,
    // vec_id, rel, mmr score); INTO column(...) names the mmr column
    "mmr_rerank" -> { (df, ins, out) =>
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      require(!Seq("rank", "vec_id", "rel").contains(out),
        s"mmr_rerank reserves its card column names; pick another INTO " +
          s"column name (got '$out')")
      val embs = df.select(col("doc_id").cast("long").as("vec_id"),
        col(ins.head).as("embedding"))
      graft.llm.Similarity.mmrRerank(embs, queryId = 0L, k = 5, pool = 16)
        .withColumnRenamed("mmr_score", out)
    },
    // salting plan over a KEY input column — relation-REPLACING: per
    // hot self-join key, the integer-ceil salt factor at 50k rows/task;
    // INTO column(...) names the salt column
    "salting_plan" -> { (df, ins, out) =>
      require(!Seq("key", "n_left", "n_right", "out_rows").contains(out),
        s"salting_plan reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      graft.plans.JoinSkew.saltingPlan(df, df, ins.head,
          targetRows = 50000L)
        .withColumnRenamed("salt", out)
    },
    // join-skew planning card over a KEY input column — relation-
    // REPLACING: top-20 hot keys of the relation's self-join on that key
    // (n_l x n_r output rows each) + the NULL-key total row; INTO
    // column(...) names the share column. Key-generic: needs no doc_id
    "join_skew" -> { (df, ins, out) =>
      require(!Seq("key", "is_total", "n_left", "n_right", "out_rows")
          .contains(out),
        s"join_skew reserves its card column names; pick another INTO " +
          s"column name (got '$out')")
      graft.plans.JoinSkew.joinSkewCard(df, df, ins.head)
        .withColumnRenamed("out_share", out)
    },
    // length-bucketed batching plan over a TEXT input column — relation-
    // REPLACING: per power-of-two length bucket, docs/tokens/padded/
    // waste, plus the NULL-bucket pad-to-max total row; INTO column(...)
    // names the waste-fraction column
    "length_buckets" -> { (df, ins, out) =>
      require(!Seq("bucket_max", "n_docs", "n_tokens", "padded_tokens",
          "waste_tokens").contains(out),
        s"length_buckets reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.TextOps.lengthBucketPlan(keyed(df, ins.head))
        .withColumnRenamed("waste_frac", out)
    },
    // Count-Min sketch heavy-hitter card over a TEXT input column —
    // relation-REPLACING: the exact top-20 tokens with their 4x256
    // sketch estimates and overcounts; INTO column(...) names the
    // estimate column
    "cms_topk" -> { (df, ins, out) =>
      require(!Seq("token", "n_exact", "overcount").contains(out),
        s"cms_topk reserves its card column names; pick another INTO " +
          s"column name (got '$out')")
      graft.llm.TextOps.cmsTopK(keyed(df, ins.head))
        .withColumnRenamed("cms_est", out)
    },
    // per-group HyperLogLog distinct-token card over (text, group) input
    // columns — relation-REPLACING: one row per group with the exact
    // audit count, empty-register count, deterministic md5 HLL estimate,
    // and relative error; INTO column(...) names the estimate column
    "hll_card" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"hll_card needs (text, group) input columns, got $ins")
      require(!Seq("n_exact", "v_empty", "rel_err").contains(out),
        s"hll_card reserves its card column names; pick another INTO " +
          s"column name (got '$out')")
      val d = keyed(df, ins.head)
        .join(df.select(col("doc_id"), col(ins(1)).as("_grp")),
          Seq("doc_id"))
      graft.llm.TextOps.hllCard(d, groupCol = "_grp")
        .withColumnRenamed("_grp", ins(1))
        .withColumnRenamed("hll_est", out)
    },
    // character-class shares over a TEXT input column — relation-
    // PRESERVING per-doc fractions; INTO column(...) names the
    // other-class share (the damage signal)
    "script_shares" -> { (df, ins, out) =>
      require(!Seq("n_chars", "letter_frac", "digit_frac", "space_frac")
          .contains(out),
        s"script_shares reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      val scored = graft.llm.TextOps.scriptShares(keyed(df, ins.head))
        .select(col("doc_id"), col("other_frac").as(out))
      df.join(scored, Seq("doc_id"), "left")
    },
    // n-gram entropy card over a TEXT input column — relation-
    // REPLACING, ONE row (H(W), H(W1,W2), conditional); INTO
    // column(...) names the conditional-entropy column
    "gram_entropy" -> { (df, ins, out) =>
      require(!Seq("n_tokens", "distinct_unigrams", "h_unigram",
          "n_bigrams", "distinct_bigrams", "h_bigram").contains(out),
        s"gram_entropy reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.TextOps.gramEntropy(keyed(df, ins.head))
        .withColumnRenamed("h_cond", out)
    },
    // quality-filter threshold sweep over a TEXT input column —
    // relation-REPLACING: per 10-point Flesch bucket, surviving docs/
    // tokens and shares; INTO column(...) names the token-share column
    "filter_sweep" -> { (df, ins, out) =>
      require(!Seq("threshold", "n_docs_ge", "n_tokens_ge", "doc_share")
          .contains(out),
        s"filter_sweep reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.TextOps.filterSweep(keyed(df, ins.head))
        .withColumnRenamed("token_share", out)
    },
    // exact-N stratified sampler over (stratum) input column — relation-
    // PRESERVING: every row gains its stratum quota and the selected
    // flag (Hamilton apportionment, md5-rank selection); INTO
    // column(...) names the selected column. Policy: the kernel targets
    // min(100, rowCount) — COMPUTE syntax has no parameter slot, and a
    // fixed 100 made every relation under 100 rows throw stratAlloc's
    // targetN<=count guard (round-14 advice fix); callers needing a
    // different budget use the library operator directly
    "strat_alloc" -> { (df, ins, out) =>
      require(!Seq("quota").contains(out),
        s"strat_alloc reserves 'quota'; pick another INTO column name " +
          s"(got '$out')")
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      // count ONCE: targetN derives from this count, so the same value
      // satisfies stratAlloc's guard without a second action over the
      // relation (round-15 advice fix)
      val n = df.count()
      graft.llm.Sampling.stratAlloc(
          df.select(col("doc_id"), col(ins.head).as("_stratum")),
          "_stratum", targetN = math.min(100L, n), knownCount = Some(n))
        .withColumnRenamed("_stratum", ins.head)
        .withColumnRenamed("selected", out)
    },
    // language-ID confusion audit over (text, lang) input columns —
    // relation-REPLACING: one (label, guess) cell per row with counts;
    // INTO column(...) names the within-label share column
    "langid_confusion" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"langid_confusion needs (text, lang) input columns, got $ins")
      require(!Seq("lang", "lang_guess", "n").contains(out),
        s"langid_confusion reserves its card column names; pick " +
          s"another INTO column name (got '$out')")
      graft.llm.TextOps.langidConfusion(
          df.select(col(ins.head).as("text"), col(ins(1)).as("lang")))
        .withColumnRenamed("share", out)
    },
    // exact-dup token-savings card over a TEXT input column — relation-
    // REPLACING, ONE row; INTO column(...) names the saved-fraction
    "dedup_savings" -> { (df, ins, out) =>
      require(!Seq("n_docs", "n_distinct", "n_dup_docs", "tokens_total",
          "tokens_saved").contains(out),
        s"dedup_savings reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.Curation.dedupSavings(keyed(df, ins.head))
        .withColumnRenamed("saved_frac", out)
    },
    // corpus snapshot changelog over (text, is_new) input columns —
    // relation-REPLACING: the flagged rows are the NEW snapshot, the
    // rest the OLD; one row per added/removed/changed/unchanged status;
    // INTO column(...) names the token-delta column
    "corpus_diff" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"corpus_diff needs (text, is_new) input columns, got $ins")
      require(!Seq("status", "n_docs", "tokens_old", "tokens_new")
          .contains(out),
        s"corpus_diff reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      val flag = col(ins(1)).cast("boolean") <=> lit(true)
      graft.llm.Curation.corpusDiff(
          keyed(df.filter(!flag), ins.head),
          keyed(df.filter(flag), ins.head))
        .withColumnRenamed("token_delta", out)
    },
    // domain long-tail coverage over (text, domain) input columns —
    // relation-REPLACING, ONE row (domains/shares at 50/90/99% token
    // mass); INTO column(...) names the p90 domain count
    "domain_tail" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"domain_tail needs (text, domain) input columns, got $ins")
      require(!Seq("n_domains", "total_tokens", "domains_p50",
          "share_p50", "share_p90", "domains_p99", "share_p99")
          .contains(out),
        s"domain_tail reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.Curation.domainTailCard(
          df.select(col(ins.head).as("text"), col(ins(1)).as("_dom")),
          groupCol = "_dom")
        .withColumnRenamed("domains_p90", out)
    },
    // exact Mann-Whitney ROC-AUC of the in-plan classifier over (text,
    // is_positive) input columns — relation-REPLACING, ONE row (n_pos,
    // n_neg, the integer 2U, auc); INTO column(...) names the auc
    "classifier_auc" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"classifier_auc needs (text, is_positive) input columns, " +
          s"got $ins")
      require(!Seq("n_pos", "n_neg", "u2").contains(out),
        s"classifier_auc reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      val base = df.select(col("doc_id"), col(ins.head).as("text"),
        (col(ins(1)).cast("boolean") <=> lit(true)).as("_pos"))
      graft.llm.Curation.classifierAuc(base, col("_pos"))
        .withColumnRenamed("auc", out)
    },
    // calibration audit of the in-plan classifier over (text,
    // is_positive) input columns — relation-REPLACING: decile
    // reliability rows + the NULL-bin ECE total; INTO column(...) names
    // the gap/ECE column
    "classifier_calibration" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"classifier_calibration needs (text, is_positive) input " +
          s"columns, got $ins")
      require(!Seq("bin", "n", "n_pos", "mean_prob", "frac_pos")
          .contains(out),
        s"classifier_calibration reserves its card column names; pick " +
          s"another INTO column name (got '$out')")
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      val base = df.select(col("doc_id"), col(ins.head).as("text"),
        (col(ins(1)).cast("boolean") <=> lit(true)).as("_pos"))
      graft.llm.Curation.calibrationCard(base, col("_pos"))
        .withColumnRenamed("gap", out)
    },
    // discriminative quality classifier over (text, is_positive) input
    // columns: 5 in-plan full-batch GD steps of logistic regression on
    // hashed unigram buckets + intercept; every row gets the
    // final-weights log-odds score as the output column (positive =
    // reads like the flagged class; the sign IS the predicted label)
    "logistic_quality" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"logistic_quality needs (text, is_positive) input columns, " +
          s"got $ins")
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      val base = df.select(col("doc_id"), col(ins.head).as("text"),
        (col(ins(1)).cast("boolean") <=> lit(true)).as("_pos"))
      val scored = graft.llm.Curation.logisticQuality(base, col("_pos"))
        .select(col("doc_id"), col("score").as(out))
      df.join(scored, Seq("doc_id"), "left")
    },
    // Bloom-fingerprint decontamination over (text, is_benchmark) input
    // columns: the flagged rows' k-grams fold into an O(mBits) bitset
    // (a codegen reference object — no benchmark-side join), and every
    // row gets the may-be-contaminated boolean as the output column.
    // Benchmark rows flag themselves by construction (their grams are
    // in the fingerprint) — filter on NOT is_benchmark downstream
    "bloom_decontaminate" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"bloom_decontaminate needs (text, is_benchmark) input " +
          s"columns, got $ins")
      val d = keyed(df, ins.head)
      val bench = keyed(
        df.filter(col(ins(1)).cast("boolean") <=> lit(true)), ins.head)
      require(!bench.isEmpty,
        s"bloom_decontaminate: no benchmark rows (column '${ins(1)}' " +
          "is never true)")
      val bits = graft.llm.Curation.bloomBits(bench)
      val flags = graft.llm.Curation.decontaminateBloom(d, bits)
        .select(col("doc_id"), col("contaminated_bloom").as(out))
      df.join(flags, Seq("doc_id"))
    },
    // per-doc boilerplate fraction over a TEXT input column: the share
    // of each doc's distinct 5-grams occurring in >= 2 docs (the
    // Dolma/RefinedWeb duplicate-content score — ranks syndication
    // victims that keep-one dedup legitimately leaves in place);
    // n_grams/shared_grams ride, every doc_id-keyed row preserved
    "boilerplate_frac" -> { (df, ins, out) =>
      require(!Seq("n_grams", "shared_grams").contains(out),
        s"boilerplate_frac reserves its count column names; pick " +
          s"another INTO column name (got '$out')")
      val scored = graft.llm.Curation
        .boilerplateFrac(keyed(df, ins.head), k = 5, minDocs = 2)
        .withColumnRenamed("boilerplate_frac", out)
      df.join(scored, Seq("doc_id"))
    },
    // Vocabulary-growth card — relation-REPLACING, ONE row: token/type
    // totals, TTR, hapax share, top-10 head coverage, and the Zipf
    // log-log OLS slope over the top-100 ranks (the catalog
    // q_vocab_card configuration — natural corpora fit ~ -1, templated
    // or machine-generated corpora deviate); INTO column(...) names the
    // slope column
    "vocab_card" -> { (df, ins, out) =>
      require(!Seq("n_tokens", "n_types", "ttr", "hapax_types",
          "hapax_share", "top10_coverage", "zipf_k").contains(out),
        s"vocab_card reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.TextOps.vocabCard(keyed(df, ins.head), zipfK = 100)
        .withColumnRenamed("zipf_slope", out)
    },
    // Corpus data card — relation-REPLACING like chunk_docs: emits the
    // ROLLUP (lang, source) statistics sheet (per-group and margin
    // rows), NOT one row per input doc. Requires lang/source/n_chars
    // companion columns; INTO column(...) names the doc-count column
    "corpus_report" -> { (df, ins, out) =>
      val needed = Seq("lang", "source", "n_chars")
      val missing = needed.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"corpus_report needs companion columns ${needed.mkString("/")}; " +
          s"relation is missing [${missing.mkString(", ")}]")
      require(!Seq("lang", "source", "total_tokens", "avg_doc_tokens",
          "avg_chars", "n_exact_dup").contains(out),
        s"corpus_report reserves its report column names; pick another " +
          s"INTO column name (got '$out')")
      val docs = keyed(df, ins.head)
        .join(df.select(col("doc_id"), col("lang"), col("source"),
          col("n_chars")), Seq("doc_id"))
      graft.llm.Curation.corpusReport(docs)
        .withColumnRenamed("n_docs", out)
    },
    // Word-association card — relation-REPLACING like corpus_report:
    // top-20 term pairs by document-level PMI over a TEXT input column
    // (vocabulary DF-capped at 1000 BEFORE pair generation, joint-count
    // floor 5 — the catalog q_pmi_pairs configuration); INTO column(...)
    // names the pmi column ((term_a, term_b, n_pair, n_a, n_b) ride)
    "pmi_pairs" -> { (df, ins, out) =>
      require(!Seq("term_a", "term_b", "n_pair", "n_a", "n_b").contains(out),
        s"pmi_pairs reserves its pair-card column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.Relevance.pmiPairs(keyed(df, ins.head),
        topN = 20, minPairDocs = 5, maxVocab = 1000)
        .withColumnRenamed("pmi", out)
    },
    // Mass-preserving token-budget plan — relation-REPLACING: one row
    // per domain over (domain, token_count) input columns. The budget is
    // the relation's OWN total token mass, read off the domain aggregate
    // the plan already computes (tokenBudgetSelf — no second corpus
    // pass, no driver collect), so the alpha=0.3 temperature shares
    // REDISTRIBUTE the same mass: rates > 1 mark repeat-regime domains,
    // < 1 subsampled ones — the parameter-free epoch-planning card. A
    // zero/NULL-mass relation refuses loud at execution (raise_error
    // rides inside the pass). INTO column(...) names the target-token
    // column
    "token_budget" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"token_budget needs (domain, token_count) input columns, got $ins")
      require(!Seq("domain", "n_docs", "n_tokens", "natural_share",
          "temp_share", "sampling_rate", "epochs").contains(out),
        s"token_budget reserves its plan column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.Sampling.tokenBudgetSelf(df, ins.head, ins(1), alpha = 0.3)
        .withColumnRenamed("target_tokens", out)
    },
    // Embedding-coverage card — relation-REPLACING, ONE row: semantic
    // cell-occupancy entropy over an EMBEDDING input column with the
    // auto-k seeded quantizer (the semantic_dedup/cluster_balanced
    // seeds, occupancy ~256); INTO column(...) names the normalized-
    // entropy column — the headline diversity signal
    "embedding_coverage" -> { (df, ins, out) =>
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      require(!Seq("n_vecs", "k_cells", "occupied_cells", "entropy",
          "max_share").contains(out),
        s"embedding_coverage reserves its card column names; pick " +
          s"another INTO column name (got '$out')")
      // NO persist, unlike cluster_balanced_sample: of the three jobs
      // (auto-k count, seed-id collect, assignment scan) only the LAST
      // reads the embedding payload — unpersisted, column pruning makes
      // the first two embedding-free, while a persist would materialize
      // the full payload for jobs that never touch it
      val embs = df.select(col("doc_id").cast("long").as("vec_id"),
        col(ins.head).as("embedding"))
      graft.llm.Similarity.coverageCard(embs, semanticSeeds(embs))
        .withColumnRenamed("norm_entropy", out)
    },
    // C4 page-level cleaning rules over a TEXT input column — the
    // row-preserving keep verdict (marker drops + the 5-word floor,
    // gopher_filter's C4 sibling); INTO column(...) names the verdict
    "c4_filter" -> { (df, ins, out) =>
      val verdict = graft.llm.Curation.c4Rules(keyed(df, ins.head))
        .select(col("doc_id"), col("keep").as(out))
      df.join(verdict, Seq("doc_id"))
    },
    // Per-dimension embedding-stats card — relation-REPLACING, one row
    // per dimension: mean / population variance / variance share over an
    // EMBEDDING input column (the collapse/anisotropy diagnostic); INTO
    // column(...) names the variance-share column
    "emb_stats" -> { (df, ins, out) =>
      require(!Seq("pos", "n_vecs", "mean", "variance").contains(out),
        s"emb_stats reserves its card column names; pick another INTO " +
          s"column name (got '$out')")
      graft.llm.Similarity.embStats(
        df.select(col(ins.head).as("embedding")))
        .withColumnRenamed("var_share", out)
    },
    // One spherical-k-means Lloyd step over an EMBEDDING input column
    // with the auto-k seeded quantizer (the semantic_dedup seeds):
    // refined cell attaches as the output column, (cell_init, moved,
    // cos_refined) ride — chain repeated COMPUTEs to iterate
    "kmeans_assign" -> { (df, ins, out) =>
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      require(!Seq("cell_init", "moved", "cos_refined").contains(out),
        s"kmeans_assign reserves its step column names; pick another " +
          s"INTO column name (got '$out')")
      val embs = df.select(col("doc_id").cast("long").as("vec_id"),
        col(ins.head).as("embedding"))
      val step = graft.llm.Similarity.kmeansStep(embs, semanticSeeds(embs))
        .select(col("vec_id").as("doc_id"), col("cell_init"),
          col("cell").as(out), col("moved"), col("cos_refined"))
      df.join(step, Seq("doc_id"))
    },
    // UniMax epoch-capped waterfill — relation-REPLACING: one row per
    // domain over (domain, token_count) input columns, budget 150000 at
    // 1.2 epochs (the catalog q_unimax_alloc configuration); INTO
    // column(...) names the allocation column
    "unimax_alloc" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"unimax_alloc needs (domain, token_count) input columns, got $ins")
      require(!Seq("domain", "n_docs", "n_tokens", "capacity", "saturated",
          "epochs").contains(out),
        s"unimax_alloc reserves its plan column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.Sampling.unimaxAlloc(df, ins.head, ins(1),
        budget = 150000L, epochCap = 1.2)
        .withColumnRenamed("allocated", out)
    },
    // Winsorize a NUMERIC input column at its [5%, 95%] type-1 histogram
    // quantiles (the catalog q_winsorize configuration): the clipped
    // value attaches as the output column, clipped_lo/clipped_hi audit
    // flags ride; NULL values keep their rows
    "winsorize" -> { (df, ins, out) =>
      require(!Seq("clipped_lo", "clipped_hi").contains(out) &&
          out != ins.head,
        s"winsorize reserves its flag columns and the input column; " +
          s"pick another INTO column name (got '$out')")
      graft.llm.Sampling.winsorize(df, ins.head, pLo = 0.05, pHi = 0.95)
        .withColumnRenamed("winsorized", out)
    },
    // Purged temporal split over a TIMESTAMP input column (the catalog
    // q_temporal_split configuration: 80% train cut at the minute-
    // bucketed type-1 quantile, one day of purge buffer); the
    // train/purged/test label attaches as the output column
    "temporal_split" -> { (df, ins, out) =>
      require(out != ins.head,
        s"temporal_split cannot write its label over the timestamp " +
          s"input column '$out'; pick another INTO column name")
      graft.llm.Sampling.temporalSplit(df, ins.head,
        trainPct = 80, gapMinutes = 1440)
        .withColumnRenamed("split", out)
    },
    // Vocabulary-overlap card — relation-REPLACING, ONE row: exact type
    // counts, vocabulary Jaccard, and both directed smoothed unigram
    // KLs between the flag-split corpus halves over (text, is_b) input
    // columns (the corpus_overlap convention); INTO column(...) names
    // the a->b KL column
    "vocab_overlap" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"vocab_overlap needs (text, is_b) input columns, got $ins")
      require(!Seq("n_types_a", "n_types_b", "shared_types", "union_types",
          "jaccard_vocab", "n_tokens_a", "n_tokens_b", "kl_ba")
          .contains(out),
        s"vocab_overlap reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      val flag = col(ins(1)).cast("boolean") <=> lit(true)
      val a = keyed(df.filter(!flag), ins.head)
      val b = keyed(df.filter(flag), ins.head)
      graft.llm.TextOps.vocabOverlap(a, b).withColumnRenamed("kl_ab", out)
    },
    // MinHash-LSH design card — relation-REPLACING: one row per
    // (bands, rows) factorization of the 128-hash signature scored
    // around threshold 0.8 (the catalog q_lsh_plan configuration);
    // INTO column(...) names the winner flag
    "lsh_plan" -> { (df, ins, out) =>
      require(!Seq("bands", "rows_per_band", "est_threshold", "fp_area",
          "fn_area", "total_err").contains(out),
        s"lsh_plan reserves its card column names; pick another INTO " +
          s"column name (got '$out')")
      graft.llm.Dedup.lshPlan(df.sparkSession, nSig = 128, threshold = 0.8)
        .withColumnRenamed("is_best", out)
    },
    // Distinct-n diversity card — relation-REPLACING, one row per n
    // (1/2/3, the catalog q_distinct_ngrams configuration): total and
    // distinct word n-gram counts plus their ratio, every n counted in
    // ONE corpus pass; INTO column(...) names the ratio column
    "distinct_ngrams" -> { (df, ins, out) =>
      require(!Seq("k", "total_ngrams", "distinct_ngrams").contains(out),
        s"distinct_ngrams reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.TextOps.distinctNgramCard(keyed(df, ins.head), Seq(1, 2, 3))
        .withColumnRenamed("distinct_ratio", out)
    },
    // Exact-dup group-size distribution — relation-REPLACING, one row
    // per group size with group/doc counts and corpus share (the
    // release-sheet duplication table); INTO column(...) names the share
    "dup_size_card" -> { (df, ins, out) =>
      require(!Seq("group_size", "n_groups", "n_docs").contains(out),
        s"dup_size_card reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.Curation.dupSizeCard(keyed(df, ins.head))
        .withColumnRenamed("share", out)
    },
    // Top-principal-component anisotropy card over an EMBEDDING input
    // column (12 deterministic power iterations, the catalog
    // q_emb_top_pc configuration) — relation-REPLACING, one row per
    // dim; INTO column(...) names the Rayleigh variance-share column
    "emb_top_pc" -> { (df, ins, out) =>
      require(!Seq("pos", "n_vecs", "loading").contains(out),
        s"emb_top_pc reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.Similarity.embTopPc(
        df.select(col(ins.head).as("embedding")), iters = 12)
        .withColumnRenamed("top_pc_share", out)
    },
    // Two-sample KS drift card over (value, is_b) input columns (the
    // vocab_overlap flag-split convention) — relation-REPLACING, ONE
    // row; INTO column(...) names the KS-statistic column
    "ks_drift" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"ks_drift needs (value, is_b) input columns, got $ins")
      require(!Seq("n_a", "n_b", "n_values", "ks_at", "crit_05",
          "drifted").contains(out),
        s"ks_drift reserves its card column names; pick another INTO " +
          s"column name (got '$out')")
      val flag = col(ins(1)).cast("boolean") <=> lit(true)
      graft.llm.Sampling.ksDrift(
          df.filter(!flag).select(col(ins.head)),
          df.filter(flag).select(col(ins.head)), ins.head)
        .withColumnRenamed("ks_stat", out)
    },
    // Domain-concentration governance card over a domain/source input
    // column — relation-REPLACING, ONE row (HHI, Gini, top shares);
    // INTO column(...) names the HHI column
    "domain_hhi" -> { (df, ins, out) =>
      require(!Seq("n_docs", "n_domains", "gini", "top1_share",
          "top10_share").contains(out),
        s"domain_hhi reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.Curation.concentrationCard(df, ins.head)
        .withColumnRenamed("hhi", out)
    },
    // Per-group p10/p50/p90 type-1 quantiles of a NUMERIC column over
    // (group, value) input columns (the catalog q_len_quantiles
    // configuration) — relation-REPLACING, one row per group; INTO
    // column(...) names the median (p50) column
    "grouped_quantiles" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"grouped_quantiles needs (group, value) input columns, got $ins")
      require(!Seq("n_rows", "p10", "p90").contains(out) &&
          out != ins.head,
        s"grouped_quantiles reserves its card column names; pick " +
          s"another INTO column name (got '$out')")
      graft.llm.Sampling.groupedQuantiles(
          df.select(col(ins.head), col(ins(1))), ins.head, ins(1),
          ps = Seq(0.1, 0.5, 0.9))
        .withColumnRenamed("p50", out)
    },
    // LSH threshold-tuning card over a TEXT input column — relation-
    // REPLACING, one row per occupied 0.05-wide Jaccard bin of the
    // banded-candidate pairs (the catalog q_pair_jaccard_hist shape:
    // k=3 shingles, 8 hashes, 4 bands); INTO column(...) names the
    // pair-share column
    "pair_jaccard_hist" -> { (df, ins, out) =>
      require(!Seq("bin", "bin_lo", "n_pairs").contains(out),
        s"pair_jaccard_hist reserves its card column names; pick " +
          s"another INTO column name (got '$out')")
      graft.llm.Dedup.pairJaccardHist(
          keyed(df, ins.head), k = 3, numHashes = 8, bands = 4)
        .withColumnRenamed("share", out)
    },
    // Clustering-quality card over (embedding, label) input columns —
    // relation-REPLACING, ONE row (purity + NMI of the seeded
    // max-cosine cell assignment vs the label column); seeds are the
    // corpus-adaptive semantic_dedup cells; INTO column(...) names the
    // purity column
    "cluster_purity" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"cluster_purity needs (embedding, label) input columns, got $ins")
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      require(!Seq("n_vecs", "n_cells", "n_labels", "nmi").contains(out),
        s"cluster_purity reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      val embs = df.select(col("doc_id").cast("long").as("vec_id"),
        col(ins.head).as("embedding"), col(ins(1)).as("label"))
      graft.llm.Similarity.clusterPurity(embs,
          semanticSeeds(embs.select("vec_id", "embedding")), "label")
        .withColumnRenamed("purity", out)
    },
    // Per-doc k-gram novelty over (text, is_test) input columns — the
    // memorization/leakage card: rows flagged is_test are the held-out
    // set, every other row is train; each test row gets its
    // 1 − seen/total 8-gram novelty as the output column (train rows
    // carry NULL; rows preserved, the dsir_weights flag convention)
    "ngram_novelty" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"ngram_novelty needs (text, is_test) input columns, got $ins")
      val flag = col(ins(1)).cast("boolean") <=> lit(true)
      val test = keyed(df.filter(flag), ins.head)
      require(!test.isEmpty,
        s"ngram_novelty: no test rows (column '${ins(1)}' is never true)")
      val nov = graft.llm.Curation.ngramNovelty(
          keyed(df.filter(!flag), ins.head), test, k = 8)
        .select(col("doc_id"), col("novelty").as(out))
      df.join(nov, Seq("doc_id"), "left")
    },
    // longest-verbatim-overlap contamination card over (text, is_test)
    // input columns: test rows get the longest train-shared token-span
    // length as the output column (the LENGTH read of decontamination);
    // train rows keep NULL
    "contamination_span" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"contamination_span needs (text, is_test) input columns, got $ins")
      val flag = col(ins(1)).cast("boolean") <=> lit(true)
      val test = keyed(df.filter(flag), ins.head)
      require(!test.isEmpty,
        s"contamination_span: no test rows (column '${ins(1)}' is never " +
          s"true)")
      val span = graft.llm.Curation.contaminationSpan(
          keyed(df.filter(!flag), ins.head), test, k = 8)
        .select(col("doc_id"), col("longest_span").as(out))
      df.join(span, Seq("doc_id"), "left")
    },
    // measured LSH recall audit over a TEXT input column — relation-
    // REPLACING, ONE row: exact-join ground truth vs banded candidates
    // at threshold 0.8 (n_truth / n_candidates / n_hit / recall /
    // candidate_precision); INTO column(...) names the recall column
    "lsh_recall_audit" -> { (df, ins, out) =>
      require(!Seq("threshold", "n_truth", "n_candidates", "n_hit",
          "candidate_precision").contains(out),
        s"lsh_recall_audit reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.Dedup.lshRecallAudit(keyed(df, ins.head), threshold = 0.8)
        .withColumnRenamed("recall", out)
    },
    // estimated-Jaccard S-curve sweep over a TEXT input column —
    // relation-REPLACING: per 1/8 estimator notch, pair counts and the
    // >=-bin cumulative share (the measured survival curve lshPlan
    // predicts); INTO column(...) names the cumulative-share column
    "lsh_sensitivity" -> { (df, ins, out) =>
      require(!Seq("bin", "bin_lo", "n_pairs", "n_pairs_ge").contains(out),
        s"lsh_sensitivity reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.Dedup.lshSensitivity(keyed(df, ins.head),
          k = 3, numHashes = 8, bands = 4)
        .withColumnRenamed("share_ge", out)
    },
    // MinHash estimator-error audit over a TEXT input column —
    // relation-REPLACING, ONE row (|est − exact| mean/max over the
    // banded candidate pairs + the within-one-notch share); INTO
    // column(...) names the mean-error column
    "minhash_est_quality" -> { (df, ins, out) =>
      require(!Seq("n_pairs", "max_abs_err", "share_within_notch")
          .contains(out),
        s"minhash_est_quality reserves its card column names; pick " +
          s"another INTO column name (got '$out')")
      graft.llm.Dedup.minhashEstQuality(keyed(df, ins.head),
          k = 3, numHashes = 8, bands = 4)
        .withColumnRenamed("mean_abs_err", out)
    },
    // All-but-the-top APPLIED over an EMBEDDING input column —
    // relation-PRESERVING: every row gains its top-PC projection and
    // the post-removal residual norm (the anisotropy treatment); INTO
    // column(...) names the residual-norm column
    "abtt_transform" -> { (df, ins, out) =>
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      require(!Seq("proj").contains(out),
        s"abtt_transform reserves 'proj'; pick another INTO column " +
          s"name (got '$out')")
      val embs = df.select(col("doc_id").cast("long").as("vec_id"),
        col(ins.head).as("embedding"))
      val step = graft.llm.Similarity.abttTransform(embs, iters = 12)
        .select(col("vec_id").as("doc_id"), col("proj"),
          col("resid_norm").as(out))
      df.join(step, Seq("doc_id"))
    },
    // ANN recall@10/MRR governance card over an EMBEDDING input column
    // — relation-REPLACING: ivf/lsh/rp measured against brute-force
    // ground truth; queries = the 5 smallest doc_ids, IVF cells = the
    // corpus-adaptive semantic_dedup seeds (both bounded metadata);
    // INTO column(...) names the recall column
    "ann_recall_card" -> { (df, ins, out) =>
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      require(!Seq("method", "mrr").contains(out),
        s"ann_recall_card reserves its card column names; pick " +
          s"another INTO column name (got '$out')")
      val embs = df.select(col("doc_id").cast("long").as("vec_id"),
        col(ins.head).as("embedding"))
      val qIds = embs.select("vec_id").orderBy("vec_id").limit(5)
        .collect().map(_.getLong(0)).toSeq
      require(qIds.nonEmpty, "ann_recall_card: empty relation")
      val S = graft.llm.Similarity
      val brute = S.bruteForceTopK(embs, qIds, k = 10)
      S.annRecallCard(brute, Seq(
          "ivf" -> S.ivfTopKSeeded(embs, semanticSeeds(embs), qIds,
            k = 10, nProbe = 4),
          "lsh" -> S.lshTopK(embs, qIds, k = 10, planes = 12, bands = 4),
          "rp" -> S.rpTopK(embs, qIds, k = 10, outDim = 16, rerank = 30)),
          nQueries = qIds.length, k = 10)
        .withColumnRenamed("recall_at_k", out)
    },
    // EXACT similarity self-join over a TEXT input column — relation-
    // REPLACING: every (doc_a < doc_b) pair with distinct-3-shingle
    // Jaccard >= 0.8, complete by the prefix-filter construction (the
    // recall-1.0 tool for decontamination sign-off); INTO column(...)
    // names the jaccard column
    "jaccard_join_exact" -> { (df, ins, out) =>
      require(!Seq("doc_a", "doc_b").contains(out),
        s"jaccard_join_exact reserves its pair column names; pick " +
          s"another INTO column name (got '$out')")
      graft.llm.Dedup.jaccardJoinExact(
          keyed(df, ins.head), threshold = 0.8, k = 3)
        .withColumnRenamed("jaccard", out)
    },
    // EXACT ordered-pair CONTAINMENT self-join over a TEXT input
    // column — relation-REPLACING: every (doc_a, doc_b) with doc_a at
    // least 0.8-contained in doc_b, complete by the one-sided prefix
    // filter (the excerpt-dedup ground truth Jaccard provably misses);
    // INTO column(...) names the containment column
    "containment_join_exact" -> { (df, ins, out) =>
      require(!Seq("doc_a", "doc_b").contains(out),
        s"containment_join_exact reserves its pair column names; pick " +
          s"another INTO column name (got '$out')")
      graft.llm.Dedup.containmentJoinExact(
          keyed(df, ins.head), threshold = 0.8, k = 3)
        .withColumnRenamed("containment_a", out)
    },
    // containment-recall audit over a TEXT input column — relation-
    // REPLACING, ONE row: of the true containment-0.8 ordered pairs,
    // the share the banded Jaccard candidates surface (expected < 1 —
    // the measured LSH blindness to excerpt duplication); INTO
    // column(...) names the recall column
    "containment_recall_audit" -> { (df, ins, out) =>
      require(!Seq("threshold", "n_truth", "n_hit").contains(out),
        s"containment_recall_audit reserves its card column names; " +
          s"pick another INTO column name (got '$out')")
      graft.llm.Dedup.containmentRecallAudit(keyed(df, ins.head),
          threshold = 0.8, k = 3)
        .withColumnRenamed("recall", out)
    },
    // containment-dedup treatment over a TEXT input column — relation-
    // PRESERVING: every row gains the witness-rule drop flag (strict
    // excerpts drop toward hosts, mutual chains keep their minimum)
    // and its witness count; INTO column(...) names the drop flag
    "drop_contained" -> { (df, ins, out) =>
      require(!Seq("n_hosts").contains(out),
        s"drop_contained reserves 'n_hosts'; pick another INTO column " +
          s"name (got '$out')")
      df.join(graft.llm.Dedup.dropContained(
          keyed(df, ins.head), threshold = 0.8, k = 3)
          .withColumnRenamed("is_dropped", out)
          .select("doc_id", out, "n_hosts"),
        Seq("doc_id"))
    },
    // shifted-span detection over a TEXT input column — relation-
    // REPLACING: per banded candidate pair, the longest any-alignment
    // shared token span (stride-1 grams + islands); INTO column(...)
    // names the span-fraction column
    "shared_spans" -> { (df, ins, out) =>
      require(!Seq("doc_a", "doc_b", "n_tokens_a", "n_grams_a",
          "n_matched", "longest_span").contains(out),
        s"shared_spans reserves its pair column names; pick another " +
          s"INTO column name (got '$out')")
      val kd = keyed(df, ins.head)
      graft.llm.Curation.sharedSpans(kd,
          graft.llm.Dedup.minhashCandidates(kd), k = 3)
        .withColumnRenamed("span_frac", out)
    },
    // shifted-span REMOVAL over a TEXT input column — relation-
    // PRESERVING: every row gains token counts, removed-token count,
    // and the cleaned text with any ≥5-token any-alignment repeat cut
    // from the higher doc of each candidate pair; INTO column(...)
    // names the cleaned-text column
    "remove_shared_spans" -> { (df, ins, out) =>
      require(!Seq("n_tokens", "n_removed").contains(out),
        s"remove_shared_spans reserves its count column names; pick " +
          s"another INTO column name (got '$out')")
      val kd = keyed(df, ins.head)
      df.join(graft.llm.Curation.removeSharedSpans(kd,
          graft.llm.Dedup.minhashCandidates(kd), k = 3,
          minSpanTokens = 5)
          .withColumnRenamed("clean_text", out),
        Seq("doc_id"))
    },
    // paragraph-granularity dedup over a TEXT input column — row-
    // PRESERVING: every doc gains chunk counts and its reassembled
    // clean text after corpus-wide keep-one paragraph dedup (chunk →
    // banded near-dup → drop → reassemble); INTO column(...) names the
    // clean-text column
    "paragraph_dedup" -> { (df, ins, out) =>
      require(!Seq("n_chunks", "n_dropped").contains(out),
        s"paragraph_dedup reserves its count column names; pick " +
          s"another INTO column name (got '$out')")
      df.join(graft.llm.Curation.paragraphDedup(keyed(df, ins.head))
          .withColumnRenamed("clean_text", out),
        Seq("doc_id"))
    },
    // int8 reconstruction-distortion card over an EMBEDDING input
    // column — relation-REPLACING, ONE row (mse + mean cosine vs the
    // dequantized int8 vector); INTO column(...) names the mse column
    "int8_distortion" -> { (df, ins, out) =>
      require(!Seq("n_vecs", "mean_cos").contains(out),
        s"int8_distortion reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.Similarity.int8Distortion(
          df.select(col(ins.head).as("embedding")))
        .withColumnRenamed("mse", out)
    },
    // PQ reconstruction-distortion card over an EMBEDDING input column
    // — relation-REPLACING, ONE row (mse + mean cosine of every vector
    // vs its decoded codes); codebooks seed from the 16 smallest
    // doc_ids (the seededCodebooks convention), m = 8 subspaces; INTO
    // column(...) names the mse column
    "pq_distortion" -> { (df, ins, out) =>
      require(df.columns.contains("doc_id"),
        s"table kernels require a 'doc_id' key column; relation has " +
          s"[${df.columns.mkString(", ")}]")
      require(!Seq("n_vecs", "n_sub", "ksub", "mean_cos").contains(out),
        s"pq_distortion reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      val embs = df.select(col("doc_id").cast("long").as("vec_id"),
        col(ins.head).as("embedding"))
      // ONE bounded TakeOrdered collects the 16 smallest seed ROWS (the
      // PQ-codebook metadata envelope) — codebooks build from them
      // directly, no second seed-fetch scan
      val seedRows = embs
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .orderBy("vec_id").limit(16).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
      graft.llm.Pq.pqDistortionWith(embs,
          graft.llm.Pq.codebooksFromRows(seedRows, m = 8))
        .withColumnRenamed("mse", out)
    },
    // per-dim embedding drift card over (embedding, is_b) input columns
    // (the ks_drift flag-split convention) — relation-REPLACING, one
    // row per dim: both means/variances, the shift, Welch z, and the
    // 5% two-sided verdict; INTO column(...) names the z column
    "emb_drift" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"emb_drift needs (embedding, is_b) input columns, got $ins")
      require(!Seq("pos", "n_a", "n_b", "mean_a", "mean_b", "var_a",
          "var_b", "delta", "drifted").contains(out),
        s"emb_drift reserves its card column names; pick another INTO " +
          s"column name (got '$out')")
      val flag = col(ins(1)).cast("boolean") <=> lit(true)
      graft.llm.Similarity.embDrift(
          df.filter(!flag).select(col(ins.head).as("embedding")),
          df.filter(flag).select(col(ins.head).as("embedding")))
        .withColumnRenamed("z", out)
    },
    // per-language tokenizer-fertility card over (text, lang) input
    // columns — relation-REPLACING, one row per lang: subword tokens
    // per in-vocab word + OOV rate from a trainLocal(8) model fit on
    // the relation's own text; INTO column(...) names the fertility
    // column
    "bpe_fertility" -> { (df, ins, out) =>
      require(ins.length >= 2,
        s"bpe_fertility needs (text, lang) input columns, got $ins")
      require(!Seq("lang", "n_words", "n_oov_words", "n_bpe_tokens",
          "oov_rate").contains(out),
        s"bpe_fertility reserves its card column names; pick another " +
          s"INTO column name (got '$out')")
      val d = df.select(col(ins.head).as("text"), col(ins(1)).as("lang"))
      graft.llm.Bpe.fertilityCard(d,
          graft.llm.Bpe.trainLocal(df.sparkSession, d, nMerges = 8))
        .withColumnRenamed("fertility", out)
    },
    // THE RELEASE SHEET over a TEXT input column — relation-REPLACING:
    // C4 filter → exact-dedup groups → leakage-safe 80/10/10 split,
    // then the five governance cards (split volumes, train packing plan
    // at seq 64, (lang, source) ROLLUP report, dup-size distribution,
    // source concentration) as one (section, row_key, n1, n2, ...)
    // sheet off ONE persisted corpus pass; the relation must also carry
    // lang/source/n_chars; INTO column(...) names the primary-ratio
    // column (split share / pad waste / avg tokens / dup share / HHI)
    "corpus_release" -> { (df, ins, out) =>
      Seq("doc_id", "lang", "source", "n_chars").foreach { c =>
        require(df.columns.contains(c),
          s"corpus_release needs a '$c' column; relation has " +
            s"[${df.columns.mkString(", ")}]")
      }
      require(!Seq("section", "row_key", "n1", "n2", "v2").contains(out),
        s"corpus_release reserves its sheet column names; pick another " +
          s"INTO column name (got '$out')")
      graft.llm.Curation.releaseSheet(
          df.select(col("doc_id"), col("lang"), col("source"),
            col("n_chars"), col(ins.head).as("text")))
        .withColumnRenamed("v1", out)
    })

  tableBuiltins.foreach { case (k, v) => tableKernels.put(k, v) }

  // text-analysis tier as plain column kernels (pure projections)
  kernels.put("quality_score", cols => graft.llm.TextOps.qualityScore(cols.head))
  kernels.put("lang_guess", cols => graft.llm.TextOps.langGuess(cols.head))
  kernels.put("token_count", cols => graft.llm.TextOps.tokenCount(cols.head))
  kernels.put("fingerprint", cols => graft.llm.TextOps.fingerprint(cols.head))
  kernels.put("pii_scrub", cols => graft.llm.Curation.scrub(cols.head))
  // Flesch reading-ease over a text column — a pure zero-shuffle
  // projection (TextOps.flesch), the readability quality axis
  kernels.put("readability", cols => graft.llm.TextOps.flesch(cols.head))
  // character-distribution Shannon entropy over a text column — the
  // gibberish/encoding-damage axis (fused CharStats codepoint pass,
  // zero-shuffle; NULL text scores as empty = 0.0)
  kernels.put("char_entropy", cols =>
    graft.functions.CharStats.charStats(coalesce(cols.head, lit("")))
      .getField("char_entropy"))
  // stable md5 sampling bucket (0-99) of any id column: filter on the
  // output for a rerun-stable, join-consistent sample (Sampling.hashSample)
  kernels.put("hash_bucket", cols =>
    conv(substring(md5(cols.head.cast("string")), 1, 8), 16, 10)
      .cast("long") % 100)

  def register(name: String, kernel: Kernel): Unit = kernels.put(name, kernel)

  def registerTable(name: String, kernel: TableKernel): Unit =
    tableKernels.put(name, kernel)

  def resolve(name: String): Kernel = {
    val k = kernels.get(name)
    if (k == null)
      throw new IllegalArgumentException(s"unknown kernel: $name")
    k
  }

  def known: Set[String] = {
    val it = kernels.keys()
    var s = Set.empty[String]
    while (it.hasMoreElements) s += it.nextElement()
    s ++ {
      val tt = tableKernels.keys()
      var ts = Set.empty[String]
      while (tt.hasMoreElements) ts += tt.nextElement()
      ts
    }
  }

  /** One-shot application: append `output` (default: job name) computed by
    * the kernel over the input columns. Column kernels are a pure
    * projection — no shuffle; table kernels run their own (bucketed)
    * plans. */
  def apply(df: DataFrame, spec: ComputeSpec): DataFrame = {
    val inputs = spec.inputs.getOrElse(
      throw new IllegalArgumentException(
        s"compute '${spec.name}' has no input columns (FROM table(...))"))
    val out = spec.output.getOrElse(spec.name)
    val tk = tableKernels.get(spec.kernel)
    if (tk != null) tk(df, inputs, out)
    else df.withColumn(out, resolve(spec.kernel)(inputs.map(col)))
  }

  /** Run a registered compute against a temp view / table by name. */
  def runOnce(spark: SparkSession, spec: ComputeSpec, table: String): DataFrame =
    apply(spark.table(table), spec)

  /** `EVERY k TICKS` (SURVEY §2.7): a Structured Streaming query that
    * re-applies the kernel to the current snapshot of `table` every
    * k × tickMs, appending results to an in-memory sink named
    * `<name>_out`. The rate source is only the metronome; the kernel runs
    * over the (batch) relation inside foreachBatch, which is the
    * micro-batch pattern the reference's tick scheduler describes.
    */
  def schedule(
      spark: SparkSession,
      spec: ComputeSpec,
      table: String,
      tickMs: Long = 100L): StreamingQuery = {
    val ticks = spec.scheduleTicks.getOrElse(
      throw new IllegalArgumentException(
        s"compute '${spec.name}' has no EVERY k TICKS schedule"))
    val interval = ticks * tickMs
    // table kernels (minhash_dedup & co) persist intermediates each run;
    // without reclamation a tick-scheduled compute would leak cache
    // entries every batch, forever. Each batch tracks into its own scope
    // and reclaims the PREVIOUS batch's — the current `<name>_out` view
    // may still be consulted until the next tick, and a scoped clear
    // cannot evict caches a concurrent pipeline in this session tracked.
    // After q.stop(), reclaimScheduled(spec.name) releases the last one.
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .queryName(s"${spec.name}_ticker")
      .foreachBatch { (_: DataFrame, batchId: Long) =>
        val (out, scope) = graft.llm.PipelineCaches.scoped {
          runOnce(spark, spec, table)
        }
        out.createOrReplaceTempView(s"${spec.name}_out")
        Option(scheduledScopes.put(spec.name, scope)).foreach(_.clear())
        ()
      }
      .start()
  }
}
