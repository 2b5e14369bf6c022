package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the physical-plan shapes that matter at 100 TB, so a regression
  * (a lost pushdown, a join that degrades to a cartesian product, a
  * window that reintroduces a full shuffle-sort) fails CI instead of
  * surfacing as a cluster incident. Assertions run on the formatted
  * explain of the catalog entries over the test fixtures — tiny data,
  * but plan SHAPE is scale-independent for these invariants: static
  * broadcasts of the dimension tables, scan-level filter pushdown, and
  * the absence of cartesian/range-partition operators don't depend on
  * row counts the way AQE's runtime choices do.
  */
class PlanAuditSpec extends AnyFunSuite {

  private def spark = SparkTestSession.withTables()

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, SparkTestSession.fixtureDir)
    val s = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    graft.llm.PipelineCaches.clear() // entries that persist must not pin
    s
  }

  test("q_scan_project reads only the projected columns, no shuffle") {
    val p = plan("q_scan_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_returnflag:string>"),
      s"projection must reach the parquet scan:\n$p")
    assert(!p.contains("Exchange"), s"projection-only scan must not shuffle:\n$p")
  }

  test("q_filter_pushdown pushes both predicates into the parquet scan") {
    val p = plan("q_filter_pushdown")
    assert(p.contains("LessThan(l_shipdate") &&
      p.contains("GreaterThan(l_discount"),
      s"expected both predicates in PushedFilters:\n$p")
    assert(!p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double,l_discount:double,l_shipdate:timestamp_ntz,"),
      "scan must not read columns beyond the filter+projection set")
  }

  test("q_multi_join_region broadcasts every dimension join") {
    val p = plan("q_multi_join_region")
    assert(p.contains("BroadcastHashJoin"),
      s"dimension joins must be broadcast, not shuffled:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no degenerate join strategies:\n$p")
  }

  test("q_salted_join: the in-entry skew-split require holds — the " +
    "plain join's final adaptive plan reads the planted hot key's " +
    "partition in splits") {
    // the require lives INSIDE the entry, on the executed plan of the
    // materialized join, so constructing it here runs it
    val df = SparkEntry.queries("q_salted_join")(
      spark, SparkTestSession.fixtureDir)
    assert(df.count() > 0)
  }

  test("q_dedup_spans_shifted: pair work rides the banded candidates — " +
    "no cartesian, no nested-loop, and the membership join is keyed " +
    "(constant-width gram keys)") {
    val p = plan("q_dedup_spans_shifted")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"shifted-span detection must stay candidate-bounded:\n$p")
  }

  test("q_dedup_spans_clean: the treatment stays candidate-bounded too " +
    "— coverage explodes only qualifying islands, rebuild aggregates " +
    "by doc_id, no cartesian or nested loop anywhere") {
    val p = plan("q_dedup_spans_clean")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"span removal must stay candidate-bounded:\n$p")
    assert(p.contains("Generate"),
      s"coverage ranges are a generator over island rows:\n$p")
  }

  test("q_decontaminate broadcasts the benchmark gram set") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"the (small) benchmark gram side must broadcast — the corpus side " +
        s"must never shuffle on gram keys:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join here shuffles the full corpus gram stream:\n$p")
  }

  test("q_topk_pergroup aggregates with a bounded heap, not a window") {
    val p = plan("q_topk_pergroup")
    assert(p.contains("ObjectHashAggregate"),
      s"per-key top-k must be the CollectTopK partial aggregation:\n$p")
    assert(!p.contains("Window"),
      s"a window rank shuffles+sorts every row of the fact table:\n$p")
  }

  test("dedup band joins and as-of joins never degrade to cartesian") {
    for (name <- Seq("q_dedup_minhash_pairs", "q_ann_lsh_topk", "q_events_asof")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name must stay an equi-join on bucket/band keys:\n$p")
    }
  }

  test("q_events_range_join is an equi-join on time buckets, never a " +
    "nested loop") {
    val p = plan("q_events_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"the BETWEEN predicate must ride the bucket equi-join:\n$p")
  }

  test("q_dedup_incremental prunes the index with a broadcast semi-join") {
    val p = plan("q_dedup_incremental")
    assert(p.contains("LeftSemi"),
      s"historical index rows must be pruned by the batch's band keys " +
        s"before the candidate join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"candidate generation must stay a band-key equi-join:\n$p")
  }

  test("q_seq_pack packs shard-locally — no global range partitioning") {
    val p = plan("q_seq_pack")
    assert(!p.contains("rangepartitioning"),
      s"sequence packing must not globally sort the corpus:\n$p")
  }

  test("q_hash_sample and q_domain_mix are map-side only — zero shuffles") {
    for (name <- Seq("q_hash_sample", "q_stratified_sample", "q_domain_mix")) {
      val p = plan(name)
      assert(!p.contains("Exchange"),
        s"$name is a projection/generator pipeline and must not shuffle:\n$p")
    }
  }

  test("q_corpus_shuffle ranks inside range partitions, not one global window") {
    val p = plan("q_corpus_shuffle")
    assert(p.contains("rangepartitioning"),
      s"the permutation must range-partition on the shuffle key:\n$p")
    assert(p.contains("windowspecdefinition(_pid"),
      s"row_number must be keyed by the range partition id — a global " +
        s"orderBy window would funnel the corpus through one task:\n$p")
  }

  test("q_quantile_filter joins the histogram back via broadcast") {
    val p = plan("q_quantile_filter")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-value rank table is distinct-value-sized and must " +
        s"broadcast; a shuffle join here repartitions the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus-side shuffle join:\n$p")
  }

  test("q_bm25_search ends in a bounded sort+limit and per-doc windows " +
    "never appear") {
    val p = plan("q_bm25_search")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must fuse to TakeOrderedAndProject, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only broadcast one-row stat joins are acceptable:\n$p")
  }

  test("q_tfidf_topterms ranks per doc_id — the window key is the doc") {
    val p = plan("q_tfidf_topterms")
    assert(p.contains("windowspecdefinition(doc_id"),
      s"the rank window must partition by doc_id (bounded frames), never " +
        s"a global order:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only the broadcast one-row N join may cross:\n$p")
  }

  test("q_events_priority ranks inside range partitions, not one global window") {
    val p = plan("q_events_priority")
    assert(p.contains("windowspecdefinition(_pid"),
      s"delivery positions must rank within range partitions:\n$p")
    assert(!p.contains("windowspecdefinition(priority#") ||
      p.contains("windowspecdefinition(_pid"),
      s"a priority-keyed global window would single-partition the log:\n$p")
  }

  test("q_dedup_simhash_pairs joins on blocks — never a cartesian product") {
    val p = plan("q_dedup_simhash_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the pigeonhole candidate join must stay an equi-join on " +
        s"(block_idx, block_bits):\n$p")
  }

  test("q_ann_ivf_topk keeps the query side distributed — no collected " +
    "probe table in the plan") {
    val p = plan("q_ann_ivf_topk")
    // the old driver-side probe assignment surfaced as a LocalTableScan of
    // collected (query_id, _list) rows; the distributed probe expression
    // keeps every input a parquet scan
    assert(!p.contains("LocalTableScan"),
      s"probe assignment must be a Column expression over the distributed " +
        s"query frame, never rows collected to the driver:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"cell probe must stay an equi-join on _list:\n$p")
  }

  test("q_chunk_docs is a pure projection+generate — zero shuffles") {
    val p = plan("q_chunk_docs")
    assert(!p.contains("Exchange"),
      s"chunking must stay a narrow split/explode/slice pipeline:\n$p")
  }

  test("q_dedup_spans joins back on the md5 segment key — no cartesian") {
    val p = plan("q_dedup_spans")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the repeated-segment join must stay an equi-join on md5(seg):\n$p")
  }

  test("q_decontaminate_emb stays a banded equi-join — never a cartesian") {
    val p = plan("q_decontaminate_emb")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the cross-corpus candidate join must stay an equi-join on " +
        s"(band_idx, band_key):\n$p")
  }

  test("q_vocab_encode broadcasts the bounded vocabulary to the encoder") {
    val p = plan("q_vocab_encode")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"the V-row vocab must broadcast — a shuffle join here would " +
        s"repartition the exploded token stream by token text:\n$p")
  }

  test("q_ann_ivfpq_topk probes cells by equi-join and ships no " +
    "embeddings on the corpus side") {
    val p = plan("q_ann_ivfpq_topk")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the cell probe must stay an equi-join on _list:\n$p")
    assert(!p.contains("LocalTableScan"),
      s"probe assignment must stay a distributed Column expression:\n$p")
  }

  test("the PQ/ANN scoring projections stay inside whole-stage codegen") {
    // the r7 literal-tree forms fell out of whole-stage fusion past the
    // generated-method limits; the reference-object expressions must keep
    // the encode/ADC/int8 scoring inside a WholeStageCodegen span — at
    // 100 TB the scoring projection is the hot loop of the whole entry.
    // Codegen spans only materialize on the EXECUTED plan (AQE), so run
    // the fixture-sized entry and audit the final plan's `*(n)` markers.
    for (name <- Seq("q_ann_pq_topk", "q_ann_ivfpq_topk", "q_ann_int8_topk")) {
      val df = SparkEntry.queries(name)(spark, SparkTestSession.fixtureDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      graft.llm.PipelineCaches.clear()
      val fusedProject = p.split("\n")
        .exists(l => l.contains("*(") && l.contains("Project"))
      assert(fusedProject,
        s"$name must keep its scoring projection codegen-fused:\n$p")
    }
  }

  test("q_domain_cap caps domains with the bounded heap, not a window") {
    val p = plan("q_domain_cap")
    assert(p.contains("ObjectHashAggregate"),
      s"the per-domain cap must be the CollectTopK partial aggregation — " +
        s"the shuffle carries at most cap rows per domain per partition:\n$p")
    assert(!p.contains("Window"),
      s"a window rank shuffles+sorts every row of every domain:\n$p")
  }

  test("q_ts_anomaly windows per entity — no global (unpartitioned) sort") {
    val p = plan("q_ts_anomaly")
    assert(p.contains("Window"), s"rolling moments are keyed windows:\n$p")
    assert(!p.contains("partitionBy=[]") && !p.contains("Sort [ts"),
      s"every window must be partitioned by the entity key:\n$p")
  }

  test("q_dedup_semantic pairs only within cells — an equi-join on the " +
    "cell id, never a cartesian") {
    val p = plan("q_dedup_semantic")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"within-cell pairing must stay an equi-join on cell:\n$p")
  }

  test("q_gopher_filter is a pure per-row projection — zero shuffles") {
    val p = plan("q_gopher_filter")
    assert(!p.contains("Exchange"),
      s"every Gopher rule is a per-row function of the token stats; " +
        s"any shuffle here is a regression:\n$p")
  }

  test("q_dedup_simhash signatures are a zero-shuffle projection") {
    // the signature is a per-row function of the text (SimhashBits);
    // the old explode + 64-column vote aggregation shuffled the corpus
    val p = plan("q_dedup_simhash")
    assert(!p.contains("Exchange"),
      s"per-doc signatures must not shuffle:\n$p")
  }

  test("q_quality_repetition metrics are a zero-shuffle projection") {
    // every repetition metric is a per-row function of the text
    // (TokenStats); the old two explode/agg/join pipelines shuffled
    // (doc_id, token) counts corpus-wide
    val p = plan("q_quality_repetition")
    assert(!p.contains("Exchange"),
      s"per-doc repetition metrics must not shuffle:\n$p")
  }

  test("the multimodal feature/header stages are fused projections — " +
    "no mapPartitions barrier") {
    // rounds 10-11 moved the catalog's imperative hot paths
    // (extractFeaturesStub, imageHeaders, then frameSampleStub's demux —
    // the last mapPartitions in src/main) onto native expressions; a
    // reappearing DeserializeToObject/MapPartitions pair means someone
    // reintroduced a partition loop that blocks whole-stage fusion
    for (name <- Seq("q_multimodal_features", "q_multimodal_headers",
        "q_multimodal_frames")) {
      val p = plan(name)
      assert(!p.contains("MapPartitions") && !p.contains("SerializeFromObject"),
        s"$name must stay a native-expression projection:\n$p")
      // codegen spans only materialize on the EXECUTED plan (AQE): run
      // the fixture-sized entry and audit the final `*(n)` markers
      val df = SparkEntry.queries(name)(spark, SparkTestSession.fixtureDir)
      df.collect()
      val exec = df.queryExecution.executedPlan.toString
      val fusedProject = exec.split("\n")
        .exists(l => l.contains("*(") && l.contains("Project"))
      assert(fusedProject,
        s"$name must fuse into whole-stage codegen:\n$exec")
    }
  }

  // (the r11 pin asserting q_temperature_mix used broadcast one-row
  // totals with no Window is superseded: the "recomputed, domain-sized,
  // harmless" branch it tolerated was in fact a full corpus re-scan per
  // total — the one-scan window pin below is the r12 invariant)

  test("q_bpe_tokenize applies merges as ONE native expression over " +
    "distinct words") {
    val p = plan("q_bpe_tokenize")
    assert(p.contains("bpe_tokens"),
      s"the apply must be the native BpeTokens expression:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q_lm_perplexity keeps the count joins as equi-joins; only the " +
    "1-row V relation may nested-loop") {
    val p = plan("q_lm_perplexity")
    assert(!p.contains("CartesianProduct"),
      s"bigram/unigram count joins must stay equi-joins on gram/token:\n$p")
    // formatted mode prints each node twice (tree + detail); count the
    // "(id) Op" detail headers so one physical node counts once
    val nlj = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length
    assert(nlj <= 1,
      s"only the broadcast 1-row vocabulary-size relation may appear as " +
        s"a nested-loop join, found $nlj:\n$p")
  }

  test("LSH signatures plan as ONE fused expression, not a per-plane chain") {
    // round 10: the composed concat-of-48-VecDots signature inlined past
    // the JIT's method-size budget and ran interpreted (~200x slow).
    // lsh_signature appearing per plan — and vec_dot NOT appearing 24x —
    // pins the fused form in every LSH consumer
    for (name <- Seq("q_dedup_embcos", "q_ann_lsh_topk")) {
      val p = plan(name)
      assert(p.contains("lsh_signature"),
        s"$name must use the fused native signature:\n$p")
      // the exact-cosine rescore legitimately carries a few vec_dots
      // (3 per cosine, printed twice by formatted mode); the per-plane
      // chain would show ~50 at 24 planes
      val dots = "vec_dot".r.findAllIn(p).length
      assert(dots <= 12,
        s"$name: $dots vec_dot nodes suggest the per-plane chain is back:\n$p")
    }
  }

  test("q_cosine_join_rewrite's in-entry no-cartesian require holds") {
    // the entry materializes eagerly under its conf gate, so the frame it
    // RETURNS is a checkpoint scan — the join-shape assertion lives
    // INSIDE the entry (a require on the pre-checkpoint executed plan)
    // and a silently-disabled rewrite throws. Constructing the entry here
    // is what runs that guard; rows>0 confirms the drained result.
    val df = SparkEntry.queries("q_cosine_join_rewrite")(
      spark, SparkTestSession.fixtureDir)
    assert(df.count() > 0)
  }

  test("q_ann_index_append / q_ann_ivfpq_append: store round-trips run " +
    "and the appended stores serve full top-k lists") {
    // constructing these entries RUNS the save → append → load → search
    // round-trip (the returned frame is a checkpoint scan); 50 rows =
    // 5 queries × k 10, so a silently-empty appended store cannot pass.
    // Search-plan shape (broadcast query fan-out, heap top-k, no
    // cartesian at corpus scale) is pinned by the q_ann_rp_topk /
    // q_ann_ivfpq_topk family pins — these entries reuse those plans.
    for (name <- Seq("q_ann_index_append", "q_ann_ivfpq_append")) {
      val df = SparkEntry.queries(name)(spark, SparkTestSession.fixtureDir)
      assert(df.count() == 50, s"$name must serve 5 full top-10 lists")
    }
  }

  test("q_range_join_rewrite's in-entry no-nested-loop require holds") {
    // same contract as the cosine rewrite and skew-join entries: the
    // assertion lives INSIDE the entry on the pre-checkpoint executed
    // plan, so constructing it here runs it — a silently-disabled
    // rewrite throws
    val df = SparkEntry.queries("q_range_join_rewrite")(
      spark, SparkTestSession.fixtureDir)
    assert(df.count() > 0)
  }

  test("q_salted_join_rewrite_outer: the in-entry fired/no-cartesian " +
    "requires hold and null-filled registry gaps survive the split") {
    val df = SparkEntry.queries("q_salted_join_rewrite_outer")(
      spark, SparkTestSession.fixtureDir)
    // keys ≡ 2 (mod 5) are missing from the registry: the split left
    // outer join must preserve those rows with a NULL n_r
    import org.apache.spark.sql.functions.{col => c}
    assert(df.filter(c("n_r").isNull).count() > 0,
      "the fixture's registry gaps must null-fill, not vanish")
    assert(df.filter(c("n_r").isNull && c("k") % 5 =!= 2).count() == 0)
  }

  test("q_salted_join_rewrite_anti: the in-entry fired/no-cartesian " +
    "requires hold and the blocked hot key is fully filtered") {
    val df = SparkEntry.queries("q_salted_join_rewrite_anti")(
      spark, SparkTestSession.fixtureDir)
    import org.apache.spark.sql.functions.{col => c}
    assert(df.count() > 0)
    assert(df.filter(c("k") % 7 === 0).count() == 0,
      "every blocked key (hot key 0 included) must be anti-filtered")
  }

  test("q_salted_join_rewrite_multi: the in-entry fired/no-cartesian " +
    "requires hold on the composite (k, day) key and every hot-tuple " +
    "row is enriched") {
    val df = SparkEntry.queries("q_salted_join_rewrite_multi")(
      spark, SparkTestSession.fixtureDir)
    import org.apache.spark.sql.functions.{col => c}
    assert(df.count() > 0)
    // the hot tuple (0, 7) must join: n_r is never NULL on an inner join
    assert(df.filter(c("n_r").isNull).count() == 0)
    assert(df.filter(c("k") === 0 && c("day") === 7).count() > 0)
  }

  test("q_salted_join_rewrite_full: the plain full outer join under " +
    "the skew confs null-fills left gaps (keys ≡ 2 mod 5) in n_r, and " +
    "the planted right-only pile (k = 1000) survives null-filled on " +
    "the left") {
    val df = SparkEntry.queries("q_salted_join_rewrite_full")(
      spark, SparkTestSession.fixtureDir)
    import org.apache.spark.sql.functions.{col => c}
    assert(df.filter(c("n_r").isNull && c("k") % 5 === 2).count() > 0,
      "registry gaps must null-fill on the right")
    assert(df.filter(c("k") === 1000L).count() > 0,
      "the right-only pile must survive")
    assert(df.filter(c("k") === 1000L && c("event_id").isNotNull)
      .count() == 0, "right-only rows must be genuinely left-NULL")
  }

  test("q_range_join_rewrite_num's in-entry no-nested-loop require " +
    "holds on the numeric band (negative lo, fractional width)") {
    val df = SparkEntry.queries("q_range_join_rewrite_num")(
      spark, SparkTestSession.fixtureDir)
    assert(df.count() > 0)
  }

  test("q_range_join_keyed: the in-entry no-nested-loop require holds " +
    "on whichever plan the measured keyed decision picked") {
    val df = SparkEntry.queries("q_range_join_keyed")(
      spark, SparkTestSession.fixtureDir)
    assert(df.count() > 0)
  }

  test("q_paragraph_retire: the post-retire probe keeps the " +
    "incremental plan shape (semi-join pruned, persisted bases, no " +
    "cartesian) and the takedown-then-recrawl dedups against the " +
    "re-elected representatives") {
    val p = plan("q_paragraph_retire")
    assert(p.contains("LeftSemi"),
      s"probe scans must stay semi-join pruned post-retire:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair work must ride the banded candidates:\n$p")
    // the re-crawled (retired, takedown) docs at +3*base are verbatim
    // twins of the SURVIVING +base copies: every chunk must drop —
    // possible only if retirement re-elected the copies' chunk keys
    val df = SparkEntry.queries("q_paragraph_retire")(
      spark, SparkTestSession.fixtureDir)
    import org.apache.spark.sql.functions.{col => c, max => mx}
    val base = spark.read.parquet(
        SparkTestSession.fixtureDir + "/documents.parquet")
      .agg(mx("doc_id")).collect()(0).getLong(0) + 1L
    val recrawls = df.filter(c("doc_id") >= 3L * base)
    assert(recrawls.count() > 0, "fixture must produce re-crawls")
    assert(recrawls.filter(c("n_dropped") =!= c("n_chunks")).count() == 0,
      "every re-crawled chunk must dedup against a re-elected rep")
  }

  test("q_paragraph_incremental: probe work is pruned by broadcast " +
    "semi-joins (band keys + candidate rep ids), chunk bases ride the " +
    "persisted relations, no cartesian") {
    val p = plan("q_paragraph_incremental")
    assert(p.contains("LeftSemi"),
      s"the index-side scans must be pruned by broadcast semi-joins:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"exact probe and reassembly must read the persisted chunk/" +
        s"group relations:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair work must ride the banded candidates:\n$p")
  }

  test("q_containment_incremental: the index side is pruned by a " +
    "broadcast semi-join on the batch's shingle keys, intersections " +
    "ride keyed equi-joins, no cartesian") {
    val p = plan("q_containment_incremental")
    assert(p.contains("LeftSemi"),
      s"the index scan must be pruned by the batch-key semi-join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the probe must stay a keyed join:\n$p")
  }

  test("q_paragraph_dedup: one corpus scan, the persisted chunk base " +
    "serves candidates AND reassembly, no cartesian") {
    val p = plan("q_paragraph_dedup")
    val docScans = """Scan parquet[^\n]*documents""".r.findAllIn(p).length
    assert(docScans <= 1,
      s"the corpus must scan once (chunk base persisted); found " +
        s"$docScans documents scans:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"candidate generation and reassembly must read the persisted " +
        s"chunk relation:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair work must ride the banded candidates:\n$p")
  }

  test("q_unigram_fertility / q_unigram_encode: the corpus word explode " +
    "joins a BROADCAST vocabulary — no corpus-sized shuffle by word, " +
    "no cartesian") {
    for (name <- Seq("q_unigram_fertility", "q_unigram_encode")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name: the segmented vocab must broadcast onto the word " +
          s"explode:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name: no degenerate joins:\n$p")
    }
  }

  test("q_unigram_lm: the card is bounded driver metadata (a local " +
    "relation), the logisticQuality trained-artifact shape") {
    // training collects only vocabulary-bounded (piece, count) rows per
    // EM round; the resulting card must therefore plan as a local scan
    // with a bounded window — nothing corpus-sized may survive into it
    val p = plan("q_unigram_lm")
    assert(p.contains("LocalTableScan") || p.contains("Scan ExistingRDD"),
      s"the final card must be bounded literal metadata:\n$p")
    assert(!p.contains("Scan parquet"),
      s"no corpus scan may survive into the card lineage:\n$p")
  }

  test("q_ann_rp_topk fuses the projection, heaps the coarse pass, and " +
    "never goes cartesian") {
    val p = plan("q_ann_rp_topk")
    assert(p.contains("signed_projection"),
      s"the JL sketch must be the fused native expression:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"the coarse top-rerank must be the bounded-heap aggregate:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"query fan-out is a broadcast, rescore joins are equi-joins:\n$p")
  }

  test("q_weighted_sample selects via TakeOrdered — never a global sort") {
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"the k smallest priorities must use the per-partition heap merge:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"a range-partitioned global Sort defeats the bounded selection:\n$p")
  }

  test("q_ccnet_buckets joins the per-language histogram back via " +
    "broadcast and windows only the distinct-value table") {
    val p = plan("q_ccnet_buckets")
    assert(p.contains("BroadcastHashJoin"),
      s"the (lang, perplexity) rank table is distinct-value-sized and " +
        s"must broadcast back:\n$p")
    assert(p.contains("windowspecdefinition(lang"),
      s"the prefix-sum window must be keyed by language over the " +
        s"histogram — an unkeyed window funnels everything through one " +
        s"task:\n$p")
  }

  test("q_hybrid_rrf keeps both arms bounded and fuses tiny frames") {
    val p = plan("q_hybrid_rrf")
    assert(p.contains("TakeOrderedAndProject"),
      s"the BM25 arm must end in a bounded sort+limit:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"the cosine arm must rank through the bounded heap:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no stage of the fusion may degrade to a cartesian:\n$p")
  }

  test("q_decontaminate_bloom never joins the benchmark — ONE join " +
    "total (the row-preserving doc_id join)") {
    val p = plan("q_decontaminate_bloom")
    // the whole point of the bitset reference object: the train side is
    // projection -> per-doc agg; the benchmark exists only inside the
    // BloomHit expression. A second join means the gram-table join from
    // q_decontaminate crept back in
    val joins = """\(\d+\) [A-Za-z]*Join""".r.findAllIn(p).length
    assert(joins == 1,
      s"expected exactly the row-preserving doc_id join, found $joins:\n$p")
    assert(p.contains("bloom_hit"),
      s"membership must run through the native BloomHit expression:\n$p")
  }

  test("q_dsir_weights broadcasts the bucket-ratio table; totals ride " +
    "windows, so the corpus tokenizes at most 3 times") {
    val p = plan("q_dsir_weights")
    assert(!p.contains("CartesianProduct"),
      s"the ratio join must stay an equi-join on the hash bucket:\n$p")
    val nlj = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length
    assert(nlj == 0,
      s"the token totals ride whole-relation windows over the " +
        s"bucket-bounded ratio table — a nested-loop total join means a " +
        s"duplicated corpus lineage crept back, found $nlj:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the <=1024-row log-ratio table must broadcast onto the token " +
        s"stream — a shuffle here repartitions the whole corpus by " +
        s"hash bucket:\n$p")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans <= 4,
      s"DSIR is two profile passes + one apply pass (plus the cheap " +
        s"doc_id-only scan) — more means a total re-derived the corpus " +
        s"lineage, found $scans:\n$p")
  }

  test("the four analysis cards run ONE corpus pass each: totals as " +
    "whole-relation windows, never same-lineage broadcast joins") {
    // (entry, max 'Scan parquet' nodes) — the scan count IS the pin: a
    // crossJoin(broadcast(rel.agg)) total plans rel's corpus lineage once
    // per reuse (q_token_budget measured 4 full text scans before r12)
    for ((name, maxScans) <- Seq(
        ("q_token_budget", 1), ("q_temperature_mix", 1),
        ("q_embedding_coverage", 1), ("q_pack_plan", 1))) {
      val p = plan(name)
      val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
      assert(scans <= maxScans,
        s"$name must read its corpus ONCE, found $scans scans:\n$p")
      assert(p.contains("Window"),
        s"$name totals must ride whole-relation windows over the " +
          s"bounded aggregate:\n$p")
      assert(!p.contains("Join"), s"$name needs no join at all:\n$p")
    }
  }

  test("q_pmi_pairs: bounded top-k, no cartesian; vocab lineage is " +
    "statically shared-shaped (identical exchanges AQE reuses at runtime)") {
    val p = plan("q_pmi_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N pairs must be a bounded sort+limit, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pair generation is per-doc array HOFs, never a self-join:\n$p")
    val nlj = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length
    assert(nlj <= 1,
      s"only the 1-row n_docs relation may nested-loop, found $nlj:\n$p")
  }

  test("q_pmi_pairs reads the corpus at most TWICE at runtime — AQE " +
    "stage reuse serves every vocab consumer from one shuffle") {
    // the static plan shows the tokenize+distinct lineage under three
    // consumers, but all three exchange subtrees are canonically
    // identical, so AQE materializes the shuffle once. This is a RUNTIME
    // property — pin it with the task input metrics, not the explain.
    // (A driver-collected local vocab would make the static plan
    // two-scan, but measured 1.5x slower: it forces two sequential
    // corpus jobs where stage reuse already gives one.)
    val s = spark
    val nDocs = s.read
      .parquet(s"${SparkTestSession.fixtureDir}/documents.parquet").count()
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          records.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    s.sparkContext.addSparkListener(listener)
    try {
      records.set(0L)
      SparkEntry.queries("q_pmi_pairs")(s, SparkTestSession.fixtureDir)
        .collect()
      // the listener bus is async: poll until the counter is stable
      var last = -1L
      var spins = 0
      while (records.get != last && spins < 40) {
        last = records.get; spins += 1; Thread.sleep(250)
      }
      // one text pass (stage-reused) + the doc_id-only n_docs pass;
      // small slack for speculative/metric noise
      assert(records.get <= nDocs * 2 + nDocs / 2,
        s"q_pmi_pairs read ${records.get} records for a $nDocs-doc " +
          s"corpus — the vocab lineage is no longer stage-reused")
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("q_corpus_overlap is two independent 1-row sketch passes — no " +
    "pair generation, no corpus join") {
    val p = plan("q_corpus_overlap")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans <= 3,
      s"one pass per corpus (the variant corpus unions two branches of " +
        s"the same table) — more means a sketch re-derived its corpus, " +
        s"found $scans:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the only join is the 1-row x 1-row sketch combine:\n$p")
    val joins = """\(\d+\) [A-Za-z]*Join""".r.findAllIn(p).length
    assert(joins <= 1,
      s"no corpus-side join may appear, found $joins:\n$p")
  }

  test("scan-work budgets hold at RUNTIME for the operators the r12 " +
    "sweep fixed — totals and row-preservation never re-derive corpora") {
    // task-input-metrics budgets (in corpus rows read, cache reads
    // included) for the entries whose duplicated lineage ScanMeter
    // exposed; a regression here means a total/row-preserve re-derives
    // its corpus again. Budgets carry ~20% slack over the measured
    // post-fix counts to absorb metric noise, not another corpus pass.
    val s = spark
    val nDocs = s.read
      .parquet(s"${SparkTestSession.fixtureDir}/documents.parquet").count()
    val nEvents = s.read
      .parquet(s"${SparkTestSession.fixtureDir}/events.parquet").count()
    // (entry, budget in input rows): measured post-fix at sf0.001/0.01 —
    // ce_delta 6 corpus passes, ccnet 4, lm_perplexity 4, psi 2 event
    // passes + bin-cache, bm25 4 row-passes (2 text + id + cache)
    val budgets = Seq(
      ("q_ce_delta", nDocs * 13 / 2),
      ("q_ccnet_buckets", nDocs * 9 / 2),
      ("q_lm_perplexity", nDocs * 9 / 2),
      ("q_events_psi", nEvents * 5 / 2),
      ("q_bm25_search", nDocs * 5))
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          records.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    s.sparkContext.addSparkListener(listener)
    try {
      for ((name, budget) <- budgets) {
        records.set(0L)
        SparkEntry.queries(name)(s, SparkTestSession.fixtureDir).collect()
        graft.llm.PipelineCaches.clear()
        var last = -1L
        var spins = 0
        while (records.get != last && spins < 40) {
          last = records.get; spins += 1; Thread.sleep(250)
        }
        assert(records.get <= budget,
          s"$name read ${records.get} input rows, budget $budget — a " +
            s"total or row-preserving join is re-deriving its corpus")
      }
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("q_mad_outliers computes both medians from ONE cached histogram: " +
    "two corpus scans, all quantile machinery on InMemory reads") {
    val p = plan("q_mad_outliers")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans <= 2,
      s"histogram build + row-preserving attach are the only corpus " +
        s"scans — the deviation histogram must re-aggregate the CACHED " +
        s"one, found $scans:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the med/MAD derivations must read the persisted histogram:\n$p")
    val nlj = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length
    assert(nlj <= 3,
      s"only the 1-row median/MAD relations may nested-loop, " +
        s"found $nlj:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the attach must broadcast the 1-row constants:\n$p")
    graft.llm.PipelineCaches.clear()
  }

  test("q_centroid_cos is one sum pass + one broadcast attach — " +
    "no window, no decimal division, no corpus self-join") {
    val p = plan("q_centroid_cos")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans <= 2,
      s"dim-sum pass + attach are the only embedding scans, " +
        s"found $scans:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the (groups x dims)-bounded centroid table must broadcast onto " +
        s"the embedding relation:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"a shuffle join here repartitions the embedding payload:\n$p")
  }

  test("q_readability is a zero-shuffle projection reading only " +
    "(doc_id, text)") {
    val p = plan("q_readability")
    assert(!p.contains("Exchange"),
      s"the Flesch card is a pure projection — no shuffle:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"column pruning must reach the scan:\n$p")
  }

  test("q_ce_delta keeps both LMs' count joins as equi-joins; only the " +
    "two 1-row V relations may nested-loop") {
    val p = plan("q_ce_delta")
    assert(!p.contains("CartesianProduct"),
      s"count joins must stay equi-joins on gram/token:\n$p")
    val nlj = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length
    assert(nlj <= 2,
      s"only the two broadcast 1-row vocabulary-size relations (one per " +
        s"LM) may nested-loop, found $nlj:\n$p")
  }

  test("q_char_entropy is a zero-shuffle fused projection reading only " +
    "(doc_id, text)") {
    val p = plan("q_char_entropy")
    assert(!p.contains("Exchange"),
      s"the char card is a pure CharStats projection — no shuffle:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"column pruning must reach the scan:\n$p")
    assert(p.contains("char_stats"),
      s"the fused native expression must be in the plan, not a " +
        s"composable chain:\n$p")
  }

  test("q_vocab_card scans the corpus ONCE; totals and the Zipf fit read " +
    "the persisted vocab-bounded count table") {
    val p = plan("q_vocab_card")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans <= 1,
      s"the word-count fit is the only corpus pass, found $scans:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"both consumers must read the persisted count table:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-K rank cut must heap per partition, not globally " +
        s"sort:\n$p")
    val nlj = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length
    assert(nlj <= 1 && !p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"),
      s"only the two 1-row card halves may nested-loop, found $nlj:\n$p")
    graft.llm.PipelineCaches.clear()
  }

  test("q_boilerplate_frac shingles the corpus ONCE and joins back on " +
    "the md5 gram key — no cartesian, no payload re-shingle") {
    val p = plan("q_boilerplate_frac")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    // 2 = the entry's union corpus construction (originals + trimmed
    // copies — two arms over the same file); the gram relation itself
    // shingles that union ONCE and is persisted for both consumers
    assert(scans <= 2,
      s"the persisted gram relation feeds both the count side and the " +
        s"join side — only the union arms may scan, found $scans:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"both consumers must read the persisted gram keys:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the count join must stay an equi-join on gram_key:\n$p")
    graft.llm.PipelineCaches.clear()
  }

  test("q_c4_filter is a zero-shuffle projection over the union arms, " +
    "reading only (doc_id, text)") {
    val p = plan("q_c4_filter")
    assert(!p.contains("Exchange"),
      s"the C4 verdict is a pure per-row projection — no shuffle:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"column pruning must reach the scan:\n$p")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans <= 2,
      s"only the two union arms (originals + planted copies) may scan, " +
        s"found $scans:\n$p")
  }

  test("q_emb_stats is one posexplode pass with a map-side-combined " +
    "dim aggregation; the share window runs on the dim-sized table") {
    val p = plan("q_emb_stats")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans == 1, s"one corpus pass, found $scans:\n$p")
    assert(p.contains("partial_sum"),
      s"the moment sums must partial-aggregate before the shuffle — the " +
        s"exchange carries dims x partitions rows, never the corpus:\n$p")
    val shuffles = """\(\d+\) Exchange""".r.findAllIn(p).length
    assert(shuffles <= 2,
      s"the dim agg + the dim-sized share window are the only " +
        s"exchanges, found $shuffles:\n$p")
  }

  test("q_kmeans_assign reassigns off the persisted init relation and " +
    "broadcasts the refined centroids") {
    // the seed collect and the centroid-sum collect run eagerly at
    // construction (bounded metadata); the audited plan is the reassign
    val p = plan("q_kmeans_assign")
    assert(p.contains("InMemoryTableScan"),
      s"the reassign must read the persisted init assignment, not " +
        s"re-derive it:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the k-row centroid table must broadcast onto the corpus:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no corpus-sized shuffle or cartesian in the step:\n$p")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans <= 1,
      s"the persisted relation is the only corpus source, found $scans:\n$p")
  }

  test("q_unimax_alloc aggregates the corpus ONCE map-side-combined; " +
    "the waterfill windows run on the domain-sized table") {
    val p = plan("q_unimax_alloc")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans == 1, s"one corpus pass, found $scans:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"the domain agg must partial-aggregate before its shuffle:\n$p")
    val shuffles = """\(\d+\) Exchange""".r.findAllIn(p).length
    assert(shuffles <= 2,
      s"the domain agg + the single-partition waterfill window are the " +
        s"only exchanges, found $shuffles:\n$p")
  }

  test("q_winsorize reads both quantiles off one persisted histogram " +
    "and attaches them as a 1-row broadcast") {
    val p = plan("q_winsorize")
    assert(p.contains("InMemoryTableScan"),
      s"both cut points must read the persisted value histogram:\n$p")
    val nlj = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length
    assert(nlj <= 1,
      s"only the 1-row (qlo, qhi) relation may nested-loop, found " +
        s"$nlj:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the attach must stay a broadcast of the 1-row cut relation:\n$p")
    graft.llm.PipelineCaches.clear()
  }

  test("q_temporal_split derives the cut from a map-side-combined minute " +
    "histogram and attaches it as a 1-row broadcast") {
    val p = plan("q_temporal_split")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans <= 2,
      s"the cut derivation and the label attach are the only corpus " +
        s"passes, found $scans:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"the minute agg must partial-aggregate before its shuffle:\n$p")
    val nlj = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length
    assert(nlj <= 1,
      s"only the 1-row cutoff may nested-loop, found $nlj:\n$p")
  }

  test("q_vocab_overlap joins the two vocab-bounded count tables and " +
    "never windows the vocabulary through one partition") {
    val p = plan("q_vocab_overlap")
    assert(!p.contains("Window"),
      s"totals must be a 1-row broadcast, not an allRows window over " +
        s"the vocabulary:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the union-vocab join must persist for its two consumers:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"word counts must partial-aggregate before their shuffles:\n$p")
    graft.llm.PipelineCaches.clear()
  }

  test("q_distinct_ngrams builds every n-gram order in ONE corpus pass") {
    val p = plan("q_distinct_ngrams")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans <= 1,
      s"all three gram orders must ride one projection over one scan, " +
        s"found $scans:\n$p")
    assert(p.contains("partial_count"),
      s"the (n, gram) count must partial-aggregate before its shuffle:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the card is agg-only — no joins:\n$p")
  }

  test("q_dup_size_card windows only the size-distribution table") {
    val p = plan("q_dup_size_card")
    assert(p.contains("partial_count"),
      s"the fingerprint agg must partial-aggregate before its shuffle:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the card is agg-only — no joins:\n$p")
    // the share window runs AFTER the size rollup — over the
    // handful-of-rows distribution table, never the corpus
    val shuffles = """\(\d+\) Exchange""".r.findAllIn(p).length
    assert(shuffles <= 4,
      s"fingerprint agg + size rollup + the card window are the only " +
        s"shuffles, found $shuffles:\n$p")
  }

  test("q_len_quantiles windows the persisted histogram, not the corpus") {
    val p = plan("q_len_quantiles")
    assert(p.contains("InMemoryTableScan"),
      s"the cumulative windows and the final agg must read the persisted " +
        s"(group, value) histogram:\n$p")
    assert(p.contains("partial_count"),
      s"the histogram agg must partial-aggregate before its shuffle:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"grouped quantiles are histogram arithmetic — no joins:\n$p")
    graft.llm.PipelineCaches.clear()
  }

  test("q_ks_drift reads both CDFs off the persisted side-tagged " +
    "histogram; only the 1-row max relation may nested-loop") {
    val p = plan("q_ks_drift")
    assert(p.contains("InMemoryTableScan"),
      s"the sup-gap scan and the winning-value filter must read the " +
        s"persisted histogram:\n$p")
    val nlj = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length
    assert(nlj <= 1,
      s"only the 1-row D-max relation may nested-loop, found $nlj:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the card is histogram arithmetic — no corpus joins:\n$p")
    graft.llm.PipelineCaches.clear()
  }

  test("q_domain_hhi aggregates the corpus ONCE map-side-combined; " +
    "windows run on the domain-bounded count table") {
    val p = plan("q_domain_hhi")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans <= 1,
      s"one domain aggregation is the only corpus pass, found $scans:\n$p")
    assert(p.contains("partial_count"),
      s"the domain agg must partial-aggregate before its shuffle:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the card is integer arithmetic over the count table — no " +
        s"joins:\n$p")
    graft.llm.PipelineCaches.clear()
  }

  test("embTopPc's moment pass builds all dims^2 products in ONE scan " +
    "with map-side partial aggregation") {
    // the catalog entry is eager (driver-local iterations), so pin the
    // corpus-pass shape on the moment aggregation directly
    val s = spark
    import org.apache.spark.sql.functions._
    val e = s.table("embeddings").filter(col("embedding").isNotNull)
    val pairs = e.select(size(col("embedding")).as("_d"),
        posexplode(graft.functions.GramTerms.gramTerms(col("embedding")))
          .as(Seq("_pos", "_p")))
      .groupBy(
        (col("_pos") / col("_d")).cast("int").as("i"),
        (col("_pos") % col("_d")).cast("int").as("j"))
      .agg(count(lit(1)).as("_n"), sum("_p").as("_s"))
    val p = pairs.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans == 1,
      s"all dims^2 moments must ride one corpus scan, found $scans:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"the (i, j) moment agg must partial-aggregate before its " +
        s"shuffle:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the Gram pass is projection + aggregation — never a self-join:\n$p")
  }

  test("q_pair_jaccard_hist generates candidates via the capped band " +
    "join and bins them map-side — never all pairs") {
    val p = plan("q_pair_jaccard_hist")
    assert(!p.contains("CartesianProduct"),
      s"candidate pairs must come from the banded equi-join, never a " +
        s"cartesian:\n$p")
    assert(p.contains("partial_count"),
      s"the bin histogram must partial-aggregate before its shuffle:\n$p")
    // the share window runs AFTER the bin agg — over the <=21-row
    // histogram, never the pair stream
    assert(p.contains("Window"), s"the share total is a window over the " +
      s"bin-bounded card:\n$p")
  }

  test("q_cluster_purity bounds everything by ONE map-side (cell, label) " +
    "aggregation; only the 1-row purity relation may nested-loop") {
    val p = plan("q_cluster_purity")
    assert(p.contains("InMemoryTableScan"),
      s"both the NMI terms and the purity max must read the persisted " +
        s"contingency table:\n$p")
    assert(p.contains("partial_count"),
      s"the (cell, label) agg must partial-aggregate before its " +
        s"shuffle:\n$p")
    val nlj = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length
    assert(nlj <= 1,
      s"only the 1-row purity relation may nested-loop, found $nlj:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"assignment is a zero-shuffle projection against broadcast " +
        s"centers — no corpus joins:\n$p")
  }

  test("q_ngram_novelty broadcasts the test-gram set both ways — the " +
    "train side never shuffles on gram keys") {
    val p = plan("q_ngram_novelty")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"the (small) distinct test-gram side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join here shuffles the full train gram stream:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"every join is keyed on gram_key or doc_id:\n$p")
  }

  test("q_corpus_release reads the corpus ONCE — every stage and card " +
    "runs off the persisted base/split relations") {
    val p = plan("q_corpus_release")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans <= 1,
      s"the release sheet's whole point is composing the governance " +
        s"cards over ONE corpus pass; found $scans parquet scans:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"split machinery and all five cards must read the persisted " +
        s"kept/keptSplit relations:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the only joins are the doc_id split attach and the bounded " +
        s"dup-count attach — broadcast/hash, never cartesian or a " +
        s"corpus sort-merge:\n$p")
  }

  test("q_corpus_release_scored keeps the one-corpus-scan discipline " +
    "with the classifier filter in the loop — scoring pass, cutoff, " +
    "keep-join, and all five cards read persisted relations") {
    val p = plan("q_corpus_release_scored")
    // the stored weights are their own (bounded, ≤257-row) parquet
    // store — the CORPUS still scans once; allow the store reads
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    val docScans = """Scan parquet[^\n]*documents""".r.findAllIn(p).length
    assert(docScans <= 1,
      s"the corpus must scan once; found $docScans documents scans " +
        s"($scans total parquet scans):\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"scoring, cutoff, keep-join, and the cards must read the " +
        s"persisted base/scored/kept relations:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the cutoff attach is a broadcast one-row cross (the N " +
        s"pattern), never a real cartesian:\n$p")
  }

  test("q_pack_plan_bpe broadcasts the trained vocab to the corpus side " +
    "— encode adds no corpus shuffle beyond its doc_id agg") {
    val p = plan("q_pack_plan_bpe")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"the (vocabulary-bounded) BPE vocab must broadcast onto the " +
        s"exploded corpus words:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join here shuffles the corpus word stream by " +
        s"word:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"every join is keyed on word or doc_id:\n$p")
  }

  test("q_bpe_fertility carries lang through the word explode — one " +
    "corpus pass, broadcast vocab, no doc_id join") {
    val p = plan("q_bpe_fertility")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans <= 1,
      s"lang rides the explode, so ONE corpus scan feeds the card; " +
        s"found $scans:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"the vocabulary-bounded (word, n_tokens) table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no corpus-side shuffle joins in the fertility card:\n$p")
  }

  test("q_emb_drift is one side-tagged union pass with a map-side " +
    "(pos, side) aggregation — no joins, state 2x dims") {
    val p = plan("q_emb_drift")
    assert(p.contains("partial_count"),
      s"the (pos, side) moment agg must partial-aggregate before its " +
        s"shuffle:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastHashJoin"),
      s"the card is pure union + aggregation — no joins anywhere:\n$p")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans <= 2,
      s"one scan per union arm (the two id-parity filters of the same " +
        s"table), found $scans:\n$p")
  }

  test("q_pq_distortion is one corpus projection + a 1-row aggregate — " +
    "encode and all three folds in the same pass, no joins") {
    val p = plan("q_pq_distortion")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastHashJoin"),
      s"the distortion card never joins — codes decode against the " +
        s"codebook reference object and the m x ksub norm literal:\n$p")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans <= 1,
      s"one corpus pass computes every per-row term, found $scans:\n$p")
  }

  test("q_int8_distortion is one corpus projection + a 1-row aggregate " +
    "— quantize and all three folds in the same pass, no joins") {
    val p = plan("q_int8_distortion")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastHashJoin"),
      s"the card never joins:\n$p")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans <= 1,
      s"one corpus pass computes every per-row term, found $scans:\n$p")
  }

  test("q_jaccard_join_exact generates candidates via the prefix " +
    "equi-join — exactness without a cartesian anywhere") {
    val p = plan("q_jaccard_join_exact")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the whole point: recall 1.0 WITHOUT all-pairs work — candidates " +
        s"ride the prefix-shingle equi-join:\n$p")
    assert(p.contains("Window"),
      s"the rare-first prefix rank is a per-doc window:\n$p")
  }

  test("q_containment_join_exact: the one-sided prefix filter still " +
    "rides keyed equi-joins — exactness without a cartesian anywhere") {
    val p = plan("q_containment_join_exact")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"recall 1.0 WITHOUT all-pairs work — the A-prefix joins the " +
        s"full shingle index on the shingle key:\n$p")
    assert(p.contains("Window"),
      s"the rare-first prefix rank is a per-doc window:\n$p")
  }

  test("q_containment_recall_audit merges two pair-bounded relations " +
    "into one 1-row agg — no cartesian, prefix window present") {
    val p = plan("q_containment_recall_audit")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"truth and candidates are both non-quadratic generations:\n$p")
    assert(p.contains("Window"),
      s"the exact side's rare-first prefix rank is a per-doc window:\n$p")
  }

  test("q_dedup_drop_contained rides the exact join's envelope — " +
    "pair-keyed witness merge, doc-keyed agg, no cartesian") {
    val p = plan("q_dedup_drop_contained")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the drop rule adds only keyed joins to the exact join:\n$p")
  }

  test("q_lsh_plan never touches a corpus relation") {
    val p = plan("q_lsh_plan")
    assert(!p.contains("Scan parquet"),
      s"the design card is pure parameter arithmetic — planning it must " +
        s"not scan any table:\n$p")
  }

  test("q_corpus_report rolls up in ONE Expand pass with two shuffles") {
    val p = plan("q_corpus_report")
    assert(p.contains("Expand"),
      s"ROLLUP must plan as grouping-sets Expand, not one scan per " +
        s"margin:\n$p")
    // two shuffles by design: the dup-hash count agg and the rollup agg
    // (BroadcastExchange prints distinctly and is not counted)
    val shuffles = """\(\d+\) Exchange""".r.findAllIn(p).length
    assert(shuffles <= 2,
      s"the data card must stay two shuffles at any corpus size, " +
        s"found $shuffles:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the dup-count join must stay an equi-join on the text hash:\n$p")
  }

  test("q_lsh_recall_audit merges two non-quadratic pair relations — " +
    "no cartesian anywhere despite computing ground truth") {
    val p = plan("q_lsh_recall_audit")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"truth rides the prefix equi-join, candidates the band equi-join, " +
        s"the audit a pair-key equi-join:\n$p")
    assert(p.contains("Window"),
      s"the rare-first prefix rank window must be present (the exact " +
        s"side is really running):\n$p")
  }

  test("q_contamination_span broadcasts gram membership both ways and " +
    "windows only per test doc — train never shuffles on gram keys") {
    val p = plan("q_contamination_span")
    assert(p.contains("BroadcastHashJoin"),
      s"distinct test grams broadcast to train; the seen set broadcasts " +
        s"back:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge gram join would shuffle the train gram stream:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no degenerate joins:\n$p")
    assert(p.contains("Window"),
      s"the islands row_number is a per-test-doc window:\n$p")
  }

  test("mmr candidate pool broadcasts the one query row and TakeOrders " +
    "the pool — everything downstream of it is pool-bounded") {
    val s = spark
    graft.Tables.register(s, SparkTestSession.fixtureDir)
    val p = graft.llm.Similarity
      .mmrCandidates(s.table("embeddings"), 0L, 16)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("TakeOrderedAndProject"),
      s"the pool cut must be a bounded-heap TakeOrdered, not a global " +
        s"sort:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the single query row broadcasts onto the corpus projection:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-side shuffle anywhere in candidate generation:\n$p")
  }

  test("q_hll_card builds registers via a map-side partial aggregation " +
    "— sketch state is groups x 256, never token-keyed") {
    val p = plan("q_hll_card")
    assert(p.contains("BroadcastHashJoin"),
      s"the audit-column join rides a broadcast of the per-group exact " +
        s"counts:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing here is big enough to sort-merge — both join sides are " +
        s"post-aggregation group cards:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no degenerate joins:\n$p")
    val partials = "partial_max".r.findAllIn(p).length
    assert(partials >= 1,
      s"the register max must combine map-side (the 100 TB path):\n$p")
  }

  test("q_emb_norm_card reads one persisted norm histogram for every " +
    "statistic — single corpus pass, bounded windows") {
    val p = plan("q_emb_norm_card")
    // the formatted explain renders the persisted histogram's CACHED
    // lineage (including its parquet scan) under every InMemoryTableScan
    // reference, so scan-counting the text over-counts; the pin is that
    // every consumer goes through the cache at all
    assert(p.contains("InMemoryTableScan"),
      s"all consumers read the persisted (norm, count) histogram:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the final card join is a broadcast of a 1-row agg:\n$p")
  }

  test("q_corpus_diff joins constant-width fingerprint projections — " +
    "text never crosses the shuffle") {
    val p = plan("q_corpus_diff")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the diff is a doc_id equi-join:\n$p")
    assert(!p.contains("Window"), s"no windows needed:\n$p")
    // constant-width shuffle: the join keys/payload are (doc_id, md5,
    // count) — the fingerprint projection must sit below the exchange,
    // so no exchange output carries the text column
    val exchanges = "Exchange[^\\n]*".r.findAllIn(p).toList
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("text#")),
      s"text must be consumed by the projection below the join:\n$p")
  }

  test("q_domain_tail windows only the domain-count table") {
    val p = plan("q_domain_tail")
    assert(p.contains("Window"),
      s"the largest-first rank rides the bounded domain table:\n$p")
    assert(!p.contains("Join"), s"a pure agg card must not join:\n$p")
    val partials = "partial_sum".r.findAllIn(p).length
    assert(partials >= 1,
      s"the domain token agg must combine map-side:\n$p")
  }

  test("q_classifier_auc windows only the score histogram — the " +
    "single-partition window is bounded by distinct 6-dp scores") {
    val p = plan("q_classifier_auc")
    assert(p.contains("Window"),
      s"the below-cumulative rides the histogram window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the weight scoring join still broadcasts:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian anywhere:\n$p")
  }

  test("q_classifier_calibration audits the STORED weights — broadcast " +
    "scoring join, bins-bounded agg, no cartesian (train-once store; " +
    "no training loop in the audit's plan)") {
    val p = plan("q_classifier_calibration")
    assert(p.contains("BroadcastHashJoin"),
      s"the stored weight table still broadcasts in the scoring " +
        s"pass:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no degenerate joins in the audit:\n$p")
  }

  test("q_join_skew_card never runs the data join — count tables only, " +
    "bounded-heap hot-key cut") {
    val p = plan("q_join_skew_card")
    assert(p.contains("TakeOrderedAndProject"),
      s"the hot-key cut is a bounded-heap TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only 1-row broadcast combines allowed:\n$p")
    val partials = "partial_count".r.findAllIn(p).length
    assert(partials >= 1,
      s"the key counts must combine map-side:\n$p")
  }

  test("q_length_buckets is two aggregations over one projection — " +
    "no joins, no windows, bucket-count output") {
    val p = plan("q_length_buckets")
    assert(!p.contains("Join"), s"a pure agg card must not join:\n$p")
    assert(!p.contains("Window"), s"no windows needed:\n$p")
    val partials = "partial_count".r.findAllIn(p).length
    assert(partials >= 1, s"the bucket agg must combine map-side:\n$p")
  }

  test("q_cms_topk builds the counter grid map-side and broadcasts it " +
    "onto the probe rows — sketch state is depth x width, mergeable") {
    val p = plan("q_cms_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"the exact top-N is a bounded-heap TakeOrdered:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the <= depth*width sketch broadcasts onto the N*depth probe " +
        s"rows:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing here justifies a shuffle join:\n$p")
    val partials = "partial_count".r.findAllIn(p).length
    assert(partials >= 1,
      s"the cell counts must combine map-side:\n$p")
  }

  test("r13-addition card tier holds the no-degenerate-join invariant " +
    "(the r13 verdict's unpinned list): q_dedup_savings, " +
    "q_filter_sweep, q_gram_entropy, q_langid_confusion, " +
    "q_script_shares, q_strat_alloc, q_lsh_sensitivity, " +
    "q_minhash_est_quality, q_event_transitions — no cartesian, no " +
    "corpus sort-merge join; 1-row broadcast combines (the N pattern) " +
    "are the only nested loops allowed") {
    // entries whose 1-row totals ride a broadcast nested-loop cross
    // (the established bounded N pattern) — everything else must have
    // NO nested loop at all
    val oneRowCross = Set("q_gram_entropy", "q_strat_alloc",
      "q_lsh_sensitivity", "q_minhash_est_quality")
    // dedup-audit cards whose sort-merge joins carry CANDIDATE-PAIR
    // relations (banded generation, skew-capped) — pair-bounded by
    // construction, never the corpus
    val pairBounded = Set("q_lsh_sensitivity", "q_minhash_est_quality")
    for (name <- Seq("q_dedup_savings", "q_filter_sweep",
        "q_gram_entropy", "q_langid_confusion", "q_script_shares",
        "q_strat_alloc", "q_lsh_sensitivity", "q_minhash_est_quality",
        "q_event_transitions")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name: no real cartesian ever:\n$p")
      if (!pairBounded(name))
        assert(!p.contains("SortMergeJoin"),
          s"$name: a card must never shuffle-join its corpus:\n$p")
      if (!oneRowCross(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name: no nested-loop join expected in this card:\n$p")
      // q_script_shares is a pure zero-shuffle projection + one
      // complete-mode agg — nothing to combine map-side
      if (name != "q_script_shares") {
        val partials = "partial_".r.findAllIn(p).length
        assert(partials >= 1,
          s"$name: the card's aggregation must combine map-side:\n$p")
      }
    }
  }

  test("q_salting_plan inherits the skew card's count-table envelope — " +
    "bounded-heap hot-key cut, map-side key counts, no data join") {
    val p = plan("q_salting_plan")
    assert(p.contains("TakeOrderedAndProject"),
      s"the hot-key cut is a bounded-heap TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only 1-row broadcast combines allowed:\n$p")
    // the full null-safe key-count merge may sort-merge — it joins two
    // KEY-CARDINALITY count tables, never the data relations it prices
    val partials = "partial_count".r.findAllIn(p).length
    assert(partials >= 1,
      s"the key counts must combine map-side:\n$p")
  }

  test("q_quality_classifier scores the STORED weights via a broadcast " +
    "join — one corpus pass, no corpus-side shuffle on buckets (the " +
    "train-once store replaced the in-entry persisted training loop)") {
    val p = plan("q_quality_classifier")
    assert(p.contains("BroadcastHashJoin"),
      s"the <=257-row stored weight table must broadcast onto the " +
        s"count relation:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge weight join would shuffle the corpus-sized count " +
        s"relation for a bounded store:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no degenerate joins in the scoring pass:\n$p")
    // scoring builds its count relation in ONE pass and aggregates by
    // doc_id — the iters+1-pass persisted relation lives only in
    // training (lrTrainImpl), which this entry no longer runs
    val docScans = """Scan parquet[^\n]*documents""".r.findAllIn(p).length
    assert(docScans <= 2,
      s"the token branch and the intercept branch are the only corpus " +
        s"reads (one scan each under union), found $docScans:\n$p")
  }
}
