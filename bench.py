"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line (LAST, so a bounded tail capture always
holds it whole — round 2's line grew past the driver's tail window and
the official number was lost to "parsed": null):
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
Per-run samples, spread, and shuffle counts go to BENCH_DETAIL.json
next to this file instead of the printed line.

Each query is forced to full execution with the noop sink (computes
everything, writes nothing — measures the plan, not the collect).
Per-query time is the MEDIAN of n_runs (default 3): round 2's q4 was
recorded at 5.6× its quiet-machine time because one noisy run doubled
a 2-run mean; the median discards a single outlier run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parlerproject_spark.session import get_spark  # noqa: E402
from parlerproject_spark import queries as Q  # noqa: E402
from parlerproject_spark.plans import inspect  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_segment_revenue",
    "q5_region_revenue",
    "window_rank_orders",
    "tumbling_window_events",
    "semi_join_building_orders",
    "doc_frequency",
    "topic_terms_ctfidf",
    "exact_dedup_docs",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_docs",
    "knn_bruteforce",
    "knn_lsh",
    "knn_ivf",
    "embedding_near_dup_lsh",
    "asof_join_purchase_view",
    "html_extract_posts",
    "embed_documents_fake",
    "topic_assignments",
    "media_features",
    "rolling_fingerprints_docs",
    "fingerprint_overlap_pairs",
    "clean_corpus_pipeline",
    "q6_revenue_delta",
    "q10_returned_customers",
    "q4_priority_late_ship",
    "q7_nation_volume",
    "q14_promo_revenue",
    "q18_large_orders",
    "q19_brand_disjunction",
]

# Timed and reported alongside, but NOT in the headline total: the
# headline set is frozen at round 1's 31 queries so `value` stays
# comparable across rounds; additions land here.
EXTRA = [
    "q8_market_share",
    "q13_order_count_distribution",
    "q16_supplier_counts",
    "q21_sole_late_supplier",
    "value_quartiles_bucketed",
    "view_purchase_stream_join",
    "repetition_ratio_docs",
    "stream_dedup_events",
    # round-2 additions, timed per VERDICT r2 task 6
    "near_dup_clusters",
    "hourly_counts_gap_filled",
    "robust_zscores_by_user",
    "train_val_test_split",
    "window_family_orders",
    # round-3 additions
    "robust_zscores_native",
    "language_id_script_aware",
    "pii_redaction_docs",
    "decontaminate_corpus",
    "sessionize_events",
    "stratified_sample_docs",
    "corpus_shuffle_order",
    "line_dedup_docs",
    "pack_sequences_docs",
    "phash_near_dup_media",
    "lm_score_docs",
    "vocab_coverage_docs",
    "chunk_documents_docs",
    "domain_mix_weights_docs",
    "url_dedup_normalized",
    # round-4 additions: the reference's flagship batch job now has a
    # recorded number (VERDICT r3 task 6), plus the CDC pair and the
    # incremental-rollup / mergeable-sketch family
    "pipeline_archive_metadata",
    "cdc_snapshot_diff_orders",
    "cdc_merge_latest_events",
    "incremental_rollup_events",
    "rollup_serve_monthly",
    "distinct_users_hll_rollup",
    "audience_overlap_theta",
    "value_quantiles_kll",
    "zorder_events_stats",
    "exact_substring_spans",
    # round-4b additions: retrieval, data selection, graph rank
    "bm25_ranked_docs",
    "pmi_collocations_docs",
    "dsir_weights_docs",
    "perplexity_buckets_docs",
    "nb_quality_scores_docs",
    "cointeraction_pagerank",
    "cms_user_freq_estimates",
    "bloom_incremental_dedup_docs",
    "semantic_dedup_embeddings",
    "bpe_segment_docs",
    "scd2_user_type_history",
    "dsir_resample_docs",
    "gopher_quality_docs",
    "c4_line_filter_docs",
    "decayed_trending_users",
    "snapshot_asof_user_state",
    "knn_pq",
    "personalized_pagerank_user0",
    "grouped_split_by_source",
    "pretraining_corpus_pipeline",
    # round-5 additions: density/mining/PCA, time-series, fuzzy ER,
    # unigram tokenizer, composed RAG tail, unicode canonicalization.
    # dbscan/hard-negatives bench their SCALE modes (lsh/cell); the
    # exact modes are O(n²) oracle baselines by construction.
    "dbscan_clusters_lsh",
    "hard_negatives_cell",
    "embedding_covariance",
    "pca_whiten_embeddings",
    "unicode_normalize_docs",
    "time_weighted_value_users",
    "interpolate_hourly_values",
    "fuzzy_best_match_parts",
    "unigram_segment_docs",
    "rag_context_budget",
    "logreg_quality_scores_docs",
    "cut_substring_spans_docs",
    "ngram_novelty_docs",
    "token_budget_sample_docs",
    "gopher_repetition_docs",
    "semantic_decontaminate_embeddings",
    "funnel_view_click_purchase",
    "cohort_retention_weekly",
    "rolling_features_events",
    # round-5 session-2: graph structure, behavioral models, corpus
    # diagnostics, cross-split backoff LM
    "markov_transitions_events",
    "corpus_zipf_stats_docs",
    "triangle_counts_events",
    "label_propagation_events",
    "item_cf_similarity_events",
    "stupid_backoff_docs",
    "textrank_keywords_docs",
    "compression_ratio_docs",
    # round-5 session-3: spatial join, CUSUM, int8 quantization,
    # mixture weights, A/B test, BFS, MMR re-rank
    "spatial_user_pairs",
    "cusum_changepoints_events",
    "int8_quantize_embeddings",
    "mixture_weights_sources",
    "ab_test_purchase_events",
    "bfs_distances_events",
    "mmr_rerank_embeddings",
    "source_overlap_jaccard",
    "fk_integrity_audit",
    # round-5 session-4: profiling, heavy hitters, phrase retrieval,
    # incremental near-dup store, canonical dedup selection
    "profile_events_table",
    "key_skew_events",
    "heavy_hitters_users",
    "phrase_count_docs",
    "incremental_near_dup_docs",
    "canonical_docs_near_dup",
    "psi_drift_events",
    "training_shard_manifest",
    "ks_drift_events",
    "split_skew_join_events",
    "bootstrap_ci_events",
    "ses_forecast_users",
    "except_all_priorities",
    "intersect_all_priorities",
    "trimmed_mean_events",
    "negative_samples_docs",
    "retractable_rollup_events",
    "erase_audit_events",
    "source_scorecard_docs",
    "corpus_refresh_pipeline",
    "search_snippets_docs",
    "hybrid_rerank_docs",
    "blocklist_filter_docs",
    "embedding_drift_snapshots",
    # round-6 additions: attribution, SRM guardrail, weighted
    # reservoir sampling, per-source calibration, FIM transform,
    # scene cuts
    "touch_attribution_events",
    "srm_check_events",
    "weighted_sample_docs",
    "calibrate_scores_docs",
    "fim_transform_docs",
    "scene_cuts_media",
    # round-6 evaluation pillar: ranking eval, AUC, calibration,
    # agreement, survival
    "ranking_metrics_docs",
    "roc_auc_docs",
    "calibration_docs",
    "fleiss_kappa_docs",
    "kaplan_meier_users",
    # round-7: sampled-fit/full-assign density topics (HDBSCAN
    # analogue; exact fit on the 1/4 sample, broadcast full assign),
    # Bradley-Terry preference strengths, k-anonymity audit
    "density_topic_assignments",
    "bradley_terry_sources",
    "k_anonymity_events",
    "leakage_safe_split_docs",
    "dp_event_type_counts",
    "token_js_divergence_sources",
    # round-7 session 2: curriculum order, length-bucket batching,
    # per-group quantile trim, MAD outliers, Benford audit
    "curriculum_order_docs",
    "length_bucket_batches_docs",
    "quantile_band_docs",
    "robust_outliers_events",
    "benford_values_events",
    "source_minhash_similarity",
    "vocab_coverage_sources",
    "linear_trend_users",
    "diff_in_diff_events",
    "stream_enrich_segments",
    "psi_gate_events",
    "margin_pairs_embeddings",
    "margin_pairs_lsh_embeddings",
    "citation_support_docs",
    "citation_pr_docs",
    "dpo_pipeline_events",
    "rrf_hybrid_docs",
    "bpe_fertility_by_source",
    "doremi_weights_by_source",
    "chrf_pairs_docs",
    "pass_at_k_events",
    "expectations_orders",
    "wordpiece_segment_docs",
    "krippendorff_alpha_events",
    "rouge_l_pairs_docs",
    "edit_distance_pairs_docs",
    "bleu_pairs_docs",
    "grouped_roc_auc_sources",
    "ips_policy_value_events",
    "t_closeness_events",
    "association_source_lang",
    "repetition_spans_docs",
    "truncation_recall_embeddings",
    "selection_parity_sources",
    "conformal_coverage_docs",
    "weak_label_summary_docs",
    "active_learning_batch_docs",
    "theil_sen_trend_users",
    "rfm_scores_users",
    "group_sequential_ab_events",
    "cuped_lift_events",
    "mann_whitney_arms_events",
    "distinct_ngram_sources",
    "loso_quality_sources",
    "ece_docs",
    "association_rules_events",
    "readability_docs",
    "k_core_users",
    "heaps_law_sources",
    "gini_user_value_events",
    "graph_stats_events",
    "gains_curve_docs",
    "required_sample_size_events",
    "cv_fold_auc_docs",
    "spearman_length_tokens_sources",
    # round-8: zip archive source end-to-end, landmark (UMAP-role)
    # projection + projected-space topic clustering
    "pipeline_zip_archive_metadata",
    "landmark_projection_embeddings",
    "landmark_topic_assignments",
    "dictionary_tag_docs",
    "preference_pairs_events",
    "dialogue_assembly_events",
    "profile_drift_events",
    "purged_time_folds_events",
    "late_interaction_topk_embeddings",
    "groundedness_docs",
    "dictionary_tag_arrow_docs",
    "maxsim_rerank_embeddings",
    # round-10: auto-profiled gates, weighted agreement, SQ-ANN,
    # diversity, UniMax water-fill, quantile matching, mojibake
    "auto_expectations_orders",
    "krippendorff_ordinal_events",
    "krippendorff_interval_events",
    "knn_sq",
    "diversity_by_source_docs",
    "unimax_mixture_docs",
    "quantile_match_events",
    "mojibake_repair_fixture",
    "card_luhn_fixture",
    "token_f1_pairs_docs",
    "sentence_chunks_docs",
    # round-11 additions
    "rag_pipeline_docs",
    "hashed_bow_docs",
    "pack_sequences_ffd_docs",
    "pack_waste_ffd_docs",
    "tar_shard_counts_docs",
    # round-12 additions
    "token_entropy_docs",
    "acf_users",
    "format_signals_docs",
    # round-13 additions
    "containment_pairs_docs",
    "psi_timeline_events",
    "mahalanobis_outliers_embeddings",
    "simhash_pairs_docs",
    "epochs_to_exhaust_sources",
    "seasonal_decompose_events",
    "fd_audit_orders",
    "wasserstein_drift_events",
    "token_gini_sources",
    "user_entropy_events",
    "activity_profile_events",
]


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def _cross_round_medians(repo_dir: str) -> dict[str, float]:
    """Per-query median of the official per-round headline timings
    (BENCH_r*.json). Each driver file wraps the printed line under
    'parsed'; older/manual files may hold the dict directly. A
    missing or malformed file contributes nothing — the flagging
    below degrades to 'no history, nothing flagged'."""
    import glob

    per_q: dict[str, list[float]] = {}
    for p in sorted(glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))):
        try:
            with open(p) as fh:
                d = json.load(fh)
        except (OSError, ValueError):
            continue
        qs = (d.get("parsed") or d).get("queries") \
            if isinstance(d, dict) else None
        if not isinstance(qs, dict):
            continue
        for name, sec in qs.items():
            if isinstance(sec, (int, float)):
                per_q.setdefault(name, []).append(float(sec))
    return {n: round(_median(v), 3) for n, v in per_q.items() if v}


def _printed_line(headline: dict, timings: dict, flagged: dict,
                  limit: int = 1900) -> str:
    """The one printed JSON line, hard-capped at `limit` chars so the
    driver's bounded tail capture always holds it whole.

    The flagged (regression-decidability) diagnostic must SURVIVE the
    guard in some form — r13 had 30 flagged queries (host steal) and
    the full dict was popped at exactly the moment it was needed
    (VERDICT r13 item 1). Degrade stepwise: full dict ->
    {name: ratio-vs-history} -> {count, max_ratio} (always fits) ->
    finally drop the per-query map itself."""
    headline = dict(headline)
    line = json.dumps(headline, separators=(",", ":"))
    if len(line) > limit and flagged:
        headline["flagged"] = {
            n: round(timings[n] / v["hist_median"], 2)
            for n, v in flagged.items()}
        line = json.dumps(headline, separators=(",", ":"))
    if len(line) > limit and flagged:
        worst = max(
            timings[n] / v["hist_median"] for n, v in flagged.items())
        headline["flagged"] = {"count": len(flagged),
                               "max_ratio": round(worst, 2)}
        line = json.dumps(headline, separators=(",", ":"))
    if len(line) > limit:
        headline.pop("queries", None)
        line = json.dumps(headline, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # median-of-5: this host shows intermittent multi-second
    # hypervisor steal (observed q1 per-run spread 1.0-4.3 s on
    # identical work); 3 runs let ONE noisy window poison a median,
    # 5 tolerate two. Extras still run once (see below).
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("bench")
    registry = Q.queries()

    # Warm the JVM + parquet footers and the Python/Arrow worker
    # daemons once so per-query numbers measure the queries, not
    # session startup.
    Q.flagship(spark, sf_dir).count()
    spark.range(32).mapInPandas(lambda it: it, "id long").count()

    runs: dict[str, list[float]] = {}
    spread: dict[str, float] = {}
    shuffles: dict[str, int] = {}

    errors: dict[str, str] = {}

    def time_queries(names: list[str], runs_each: int,
                     slow_rerun_sec: float | None = None
                     ) -> dict[str, float]:
        # A missing or crashing query is recorded and skipped — one bad
        # entry must never cost the round its headline number (round 2
        # lost its number to an oversized output line; same lesson).
        timings: dict[str, float] = {}
        for name in names:
            try:
                fn = registry[name]
                per = []
                for _ in range(runs_each):
                    start = time.perf_counter()
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite").save()
                    per.append(round(time.perf_counter() - start, 3))
                # Host-drift guard (VERDICT r9 item 2): a single cold
                # run can read 2-3x its quiet value under drift the
                # end-of-suite steal probe cannot see (r9: untouched
                # extras moved 274s->397s total with steal_index < 1
                # both runs). Any single-run timing above the
                # threshold gets two warm re-runs and reports the
                # median-of-3, so an extra's regression claim is
                # decidable from the artifact alone.
                if (slow_rerun_sec is not None and len(per) == 1
                        and per[0] > slow_rerun_sec):
                    for _ in range(2):
                        start = time.perf_counter()
                        fn(spark, sf_dir).write.format("noop").mode(
                            "overwrite").save()
                        per.append(round(time.perf_counter() - start, 3))
                runs[name] = per
                timings[name] = round(_median(per), 3)       # median of runs
                spread[name] = round(max(per) - min(per), 3)  # noise bound
                # exchanges in the pre-execution plan: the shuffles the
                # query schedules (AQE may later coalesce partitions or
                # convert joins, but the exchange boundaries it starts
                # from are the comparable metric)
                shuffles[name] = inspect.exchange_count(
                    inspect.executed_plan(fn(spark, sf_dir)))
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"[:200]
        return timings

    # Headline keeps the median-of-n noise guard; the ~200-query extra
    # tail runs ONCE each — at 3 runs the full bench outgrew a
    # 10-minute wall — EXCEPT that any extra whose single run exceeds
    # SPARK_GRAFT_BENCH_SLOW_RERUN_SEC (default 2 s) is re-run twice
    # warm and reported as a median-of-3 (cheap: warm re-runs of a
    # >2 s query cost far less than its cold run, and only ~15% of
    # extras cross the threshold).
    n_runs_extra = max(1, int(
        os.environ.get("SPARK_GRAFT_BENCH_EXTRA_RUNS", "1")))
    slow_rerun = float(
        os.environ.get("SPARK_GRAFT_BENCH_SLOW_RERUN_SEC", "2.0"))
    timings = time_queries(HEADLINE, n_runs)
    extra = time_queries(EXTRA, n_runs_extra,
                         slow_rerun_sec=slow_rerun if n_runs_extra == 1
                         else None)

    # Steal marker (VERDICT r7 item 6): host steal moved untouched
    # queries ±2× between rounds and cost a full manual adjudication.
    # Re-time the three cheapest TPC-H headline queries at the END of
    # the suite; steal_index = median(end-median / headline-median).
    # ~1.0 → machine conditions held for the whole suite; >>1 → the
    # host got noisier as the suite ran (later queries' numbers are
    # inflated); <<1 → the headline pass itself ran under steal.
    # Regression triage starts from this number, not from a diff.
    # Bias note: the headline median includes each query's first
    # (cold) execution, the end probes are fully warm — so a quiet
    # host reads slightly BELOW 1.0 (more below at
    # SPARK_GRAFT_BENCH_RUNS=1, where "median" == the cold run).
    # Only an index well above 1 indicates steal during the suite.
    steal_probes = ["q1_pricing_summary", "q6_revenue_delta",
                    "q14_promo_revenue"]
    steal: dict[str, dict] = {}
    for name in steal_probes:
        if name not in timings or timings[name] <= 0:
            continue
        try:
            per = []
            for _ in range(3):
                start = time.perf_counter()
                registry[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite").save()
                per.append(round(time.perf_counter() - start, 3))
            steal[name] = {"headline": timings[name],
                           "end": round(_median(per), 3), "runs": per}
        except Exception as exc:  # noqa: BLE001
            errors[f"steal:{name}"] = f"{type(exc).__name__}: {exc}"[:200]
    ratios = [v["end"] / v["headline"] for v in steal.values()]
    steal_index = round(_median(ratios), 3) if ratios else None

    # Regression decidability (VERDICT r12 item 5): a headline query
    # whose median exceeds 1.5× its own cross-round median (read from
    # the driver-recorded BENCH_r*.json files) gets its per-run
    # samples + spread attached to the PRINTED artifact, so "host
    # noise or real regression" is answerable from BENCH_r{N} alone —
    # r12's q1 0.536→0.858 drift needed a manual session to adjudicate.
    flagged: dict[str, dict] = {}
    hist = _cross_round_medians(
        os.path.dirname(os.path.abspath(__file__)))
    for name, med in timings.items():
        ref = hist.get(name)
        if ref and med > 1.5 * ref:
            flagged[name] = {"runs": runs.get(name, []),
                             "spread": spread.get(name),
                             "hist_median": ref}

    total = round(sum(timings.values()), 3)
    # The PRINTED line must stay under the driver's ~2,000-char tail
    # capture (round 5 lost its official headline to parsed:null when
    # the 118-entry per-query extra map pushed the line to ~17 KB).
    # Printed line = scalars + the 31 frozen headline timings only
    # (~1.2 KB); the per-query extra map lives ONLY in the
    # BENCH_DETAIL.json sidecar.
    headline = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "extra_total": round(sum(extra.values()), 3),
        "extra_count": len(extra),
        "steal_index": steal_index,
    }
    if flagged:
        headline["flagged"] = flagged

    # Full detail (per-run samples, spread, min-of-runs, shuffle
    # counts, per-query extras) to a sidecar file. min-of-runs sits
    # next to the median so a steal-inflated round is adjudicable
    # from the artifact: the MIN of n runs is the host's best window
    # and barely moves under intermittent steal, while the median
    # absorbs it (VERDICT r13 item 1).
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    min_runs = {n: min(per) for n, per in runs.items() if per}
    with open(detail_path, "w") as fh:
        json.dump({**headline, "extra": extra, "n_runs": n_runs,
                   "runs": runs, "spread": spread, "min": min_runs,
                   "shuffles": shuffles,
                   "steal": steal, "errors": errors}, fh, indent=1)

    # The compact headline line, printed LAST.
    print(_printed_line(headline, timings, flagged))


if __name__ == "__main__":
    main()
