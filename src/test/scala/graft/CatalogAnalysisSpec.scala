package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every catalog entry must at least ANALYZE against the current
  * fixtures: a schema drift in the driver-generated testdata (e.g. the
  * events ts column switching TIMESTAMP(NANOS) → TIMESTAMP_NTZ between
  * rounds, which silently dropped q_events_sessions from a correctness
  * round) should fail here, in CI, not in the driver's Verify run.
  * Analysis + optimization only — no job is ever submitted, so the whole
  * catalog costs seconds. */
class CatalogAnalysisSpec extends AnyFunSuite {

  test("all catalog entries analyze and optimize against the fixtures") {
    val s = SparkTestSession.withTables()
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          fn(s, SparkTestSession.fixtureDir).queryExecution.optimizedPlan
          graft.llm.PipelineCaches.clear()
          None
        } catch {
          case e: Throwable =>
            graft.llm.PipelineCaches.clear()
            Some(s"$name: ${e.getClass.getSimpleName} ${e.getMessage.linesIterator.nextOption.getOrElse("")}")
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} catalog entries fail analysis:\n${failures.mkString("\n")}")
  }

  test("every oracled entry exists in the query catalog, and sort keys too") {
    val qs = SparkEntry.queries.keySet
    val orphanOracles = SparkEntry.oracleSql.keySet.diff(qs)
    val orphanSorts = SparkEntry.verifySort.keySet.diff(qs)
    assert(orphanOracles.isEmpty, s"oracles without queries: $orphanOracles")
    assert(orphanSorts.isEmpty, s"verifySort without queries: $orphanSorts")
  }

  test("every catalog entry has a recorded floor in BASELINE_QUERIES.json " +
    "(the driver regression gate must see every entry)") {
    // the round-12 straggler pattern: entries landing without floors are
    // invisible to the per-query regression gate. This keeps the two
    // keysets moving in the same commit.
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BASELINE_QUERIES.json")), "UTF-8")
    val floorKeys = """"(q_[a-z0-9_]+)"""".r
      .findAllMatchIn(text).map(_.group(1)).toSet
    val qs = SparkEntry.queries.keySet
    val unfloored = qs.diff(floorKeys)
    val stale = floorKeys.diff(qs)
    assert(unfloored.isEmpty,
      s"catalog entries without a floor (run graft.tools.QProbe and " +
        s"record min warm time): $unfloored")
    assert(stale.isEmpty, s"floors without catalog entries: $stale")
  }

  /** The four-part-standard PIN gate (r13 verdict task 6, "gates, not
    * memory"): every catalog entry must either appear in
    * PlanAuditSpec.scala or sit on the EXPLICIT exemption list below.
    * The list is frozen legacy debt plus the structurally-exempt
    * classes — a NEW entry landing without a pin fails here, and a
    * paid-off pin must be deleted from the list in the same commit
    * (both directions asserted).
    *
    * Exempt classes:
    *  - streaming replays (q_stream_*, the watermark/session/funnel
    *    event replays): constructing the frame RUNS the drain — there
    *    is no lazily-explainable batch plan to pin; their scale story
    *    is state-partition configuration, tested in streaming specs.
    *  - TRAIN-statement entries (q_train_*): the oracled relation is
    *    the compiled SELECT input; the fit itself is test-pinned.
    *  - early-round relational/scalar entries whose shapes the
    *    family-level pins (scan pushdown, broadcast dimension joins,
    *    window/topk) already cover — frozen as-is, new entries of the
    *    same shape must still pin.
    * Kernel-coverage note (documented exemption, same verdict task):
    * the events tier (q_event.. / q_stream..) and TRAIN/compute entries
    * carry no DSL table kernel — kernels cover the llm/curation
    * operator tier; the four r13 stragglers (abtt_transform,
    * ann_recall_card, lsh_sensitivity, minhash_est_quality) and the
    * r14 operator kernels are asserted registered below. Further
    * explicit kernel exemptions: `salted_join` takes TWO arbitrary
    * relations (the COMPUTE syntax is single-relation; the self-join
    * diagnostics join_skew/salting_plan cover the DSL surface) and
    * `corpus_release_scored`/`stream_quality` require a stored model
    * artifact the one-shot COMPUTE contract cannot reference (their
    * batch halves corpus_release/logistic_quality ARE kernels), and the
    * r15 store-maintenance entries `ann_index_append`/`ann_ivfpq_append`
    * are save→append→load round-trips over persisted stores — the same
    * stored-artifact exemption; their search halves are covered by the
    * existing ANN kernels. `range_join_rewrite`,
    * `range_join_rewrite_num`, `salted_join_rewrite_outer` and
    * `salted_join_rewrite_anti` are the same two-relation exemption (the planted-skew join under
    * AQE's skew split / the range-join library call through its
    * conf-gated optimizer rule); `containment_incremental`,
    * `stream_containment`, and the r16 `paragraph_incremental` need a
    * persisted/accumulated index artifact (their one-relation
    * diagnosis halves `containment_join_exact` / `paragraph_dedup` ARE
    * kernels). */
  test("every catalog entry is plan-pinned or explicitly exempt, and " +
    "the r13-straggler kernels are registered") {
    val legacyUnpinned = Set(
      // streaming replays (no lazily-explainable plan)
      "q_stream_cms", "q_stream_corpus_report", "q_stream_dedup_rearm",
      "q_stream_hll", "q_stream_interval_join",
      "q_stream_interval_join_outer", "q_stream_sessions",
      "q_stream_static_join", "q_stream_vocab_drift", "q_stream_quality",
      "q_stream_containment", "q_stream_paragraph",
      "q_events_late_watermark", "q_events_sessions",
      "q_events_drift_windows", "q_events_funnel", "q_events_retention",
      "q_events_lag", "q_events_windowed",
      // TRAIN-statement entries (fit test-pinned; input is plain SQL)
      "q_train_functions", "q_train_select_basic",
      "q_train_source_join", "q_train_subquery", "q_expr_features",
      // compute kernels' own smoke entries (projection-only)
      "q_compute_immune_scan", "q_compute_relu", "q_compute_vector_add",
      // frozen early-round relational/scalar/llm debt — shapes covered
      // by the family pins; do NOT add new names here
      "q_abtt_transform", "q_agg_pricing", "q_ann_cosine_topk",
      "q_ann_recall_card", "q_array_ops", "q_array_unnest",
      "q_base64_roundtrip", "q_bpe_encode", "q_bpe_merges",
      "q_bpe_vocab", "q_case_conditional_agg",
      "q_cluster_balanced_sample", "q_corpus_filter",
      "q_corpus_pipeline", "q_crossengine_zero", "q_date_buckets",
      "q_dedup_containment", "q_dedup_exact", "q_dedup_groups",
      "q_dedup_groups_cc", "q_dedup_keep_best", "q_dedup_minhash_sigs",
      "q_dedup_ngram_jaccard", "q_dedup_semantic_auto", "q_emb_top_pc",
      "q_having_nations", "q_interval_window", "q_join_segment",
      "q_json_props", "q_lang_guess", "q_lang_mixture",
      "q_leakage_split", "q_mmr_rerank", "q_multimodal_join",
      "q_multimodal_resize", "q_parts_supplied", "q_percent_rank_cont",
      "q_pii_scrub", "q_pivot_priority", "q_rollup_pricing",
      "q_set_ops", "q_subquery_alias", "q_text_stats",
      "q_theta_join_pairs", "q_top_ngrams", "q_topk_orders",
      "q_ts_forecast_input", "q_ts_rolling", "q_uuid_shape",
      "q_window_rank")
    val pa = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/scala/graft/PlanAuditSpec.scala")),
      "UTF-8")
    val qs = SparkEntry.queries.keySet
    val pinned = qs.filter(n => pa.contains("\"" + n + "\""))
    val newDebt = qs.diff(pinned).diff(legacyUnpinned)
    assert(newDebt.isEmpty,
      s"new catalog entries without a PlanAuditSpec pin (add a pin or " +
        s"— only for a structurally-exempt class — extend the " +
        s"documented list): $newDebt")
    val paidOff = legacyUnpinned.intersect(pinned)
    assert(paidOff.isEmpty,
      s"entries now pinned must leave the exemption list: $paidOff")
    val ghost = legacyUnpinned.diff(qs)
    assert(ghost.isEmpty,
      s"exemption-list names no longer in the catalog: $ghost")
    // the r13-verdict straggler kernels + the r14 operator kernels
    // exist in the DSL registry
    val kernels = graft.dml.runtime.ComputeRegistry.known
    for (k <- Seq("abtt_transform", "ann_recall_card",
        "lsh_sensitivity", "minhash_est_quality",
        "containment_join_exact", "containment_recall_audit",
        "drop_contained", "shared_spans", "remove_shared_spans",
        "unigram_lm", "unigram_token_count", "paragraph_dedup"))
      assert(kernels.contains(k), s"kernel $k must stay registered")
  }
}
