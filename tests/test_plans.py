"""Plan-quality assertions: the scale claims, checked against the
optimizer's actual output (SURVEY §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parlerproject_spark import queries as Q
from parlerproject_spark.catalog import load_table
from parlerproject_spark.plans import inspect


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = (load_table(spark, "orders", sf_dir)
          .filter(F.col("o_orderkey") < 100)
          .select("o_orderkey", "o_totalprice"))
    pushed = inspect.pushed_filters(df)
    assert any("o_orderkey" in f and "LessThan" in f for f in pushed), pushed


def test_column_pruning_narrows_read_schema(spark, sf_dir):
    df = (load_table(spark, "lineitem", sf_dir)
          .groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q")))
    scans = inspect.read_schema_columns(df)
    assert scans and set(scans[0]) == {"l_returnflag", "l_quantity"}, scans


def test_q1_prunes_and_pushes(spark, sf_dir):
    df = Q.q1_pricing_summary(spark, sf_dir)
    scans = inspect.read_schema_columns(df)
    # 7 of 11 lineitem columns needed — never a full-width read
    assert scans and len(scans[0]) <= 7, scans
    assert any("l_shipdate" in f for f in inspect.pushed_filters(df))


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = Q.q5_region_revenue(spark, sf_dir)
    strategies = inspect.join_strategies(df)
    # region/nation/customer-side must broadcast; no cartesian anywhere
    assert strategies.count("BroadcastHashJoin") >= 2, strategies
    assert "CartesianProduct" not in strategies


def test_semi_and_anti_joins_broadcast(spark, sf_dir):
    for q in ("semi_join_building_orders", "anti_join_idle_customers"):
        df = Q.queries()[q](spark, sf_dir)
        plan = inspect.executed_plan(df)
        assert "Broadcast" in plan, q


def test_topk_uses_take_ordered(spark, sf_dir):
    df = Q.topk_orders(spark, sf_dir)
    assert "TakeOrderedAndProject" in inspect.executed_plan(df)


def test_q1_stays_in_codegen(spark, sf_dir):
    df = Q.q1_pricing_summary(spark, sf_dir)
    assert inspect.codegen_stage_count(df) >= 1
    # scan→filter→partial-agg → exchange → final-agg: exactly one shuffle
    assert inspect.exchange_count(inspect.final_plan(df)) == 1


def test_share_of_total_single_scan(spark, sf_dir):
    """The window-over-grouped-result formulation must not rescan the
    fact table (one scan, one agg exchange, one single-partition
    exchange for the tiny window)."""
    df = Q.share_of_total_events(spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert plan.count("FileScan") + plan.count("BatchScan") == 1


def test_q6_pushes_every_filter_to_scan(spark, sf_dir):
    df = Q.queries()["q6_revenue_delta"](spark, sf_dir)
    pushed = " ".join(inspect.pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    scans = inspect.read_schema_columns(df)
    # only the 4 referenced columns are read
    assert scans and len(scans[0]) == 4, scans


def test_clean_corpus_single_shuffle(spark, sf_dir):
    df = Q.queries()["clean_corpus_pipeline"](spark, sf_dir)
    # quality+lang gates are narrow; the md5 groupBy is the only
    # exchange (AQE may add a coalesce read, never a second shuffle)
    plan = inspect.final_plan(df)
    assert inspect.exchange_count(plan) == 1, plan
    assert any("lang" in f for f in inspect.pushed_filters(df))


def test_q10_broadcasts_nation_no_cartesian(spark, sf_dir):
    df = Q.queries()["q10_returned_customers"](spark, sf_dir)
    strategies = inspect.join_strategies(df)
    assert "CartesianProduct" not in strategies
    assert strategies.count("BroadcastHashJoin") >= 1, strategies


def test_winnow_fingerprints_zero_shuffle(spark, sf_dir):
    df = Q.queries()["rolling_fingerprints_docs"](spark, sf_dir)
    # the whole algorithm runs in array expressions inside the scan
    # stage — any exchange here would be a 100 TB regression
    plan = inspect.final_plan(df)
    assert inspect.exchange_count(plan) == 0, plan


def test_q19_disjunction_pushes_derived_predicates(spark, sf_dir):
    df = Q.queries()["q19_brand_disjunction"](spark, sf_dir)
    # Catalyst must derive the single-table implications of the OR
    # and push them into both scans
    pushed = " ".join(inspect.pushed_filters(df))
    assert "l_quantity" in pushed, pushed
    assert "p_brand" in pushed or "p_size" in pushed, pushed
    assert "CartesianProduct" not in inspect.join_strategies(df)


def test_q18_joins_broadcast_filtered_agg(spark, sf_dir):
    df = Q.queries()["q18_large_orders"](spark, sf_dir)
    strategies = inspect.join_strategies(df)
    # the HAVING-pruned aggregate must broadcast into both joins —
    # a sort-merge here would shuffle the full orders/customer tables
    assert strategies.count("BroadcastHashJoin") == 2, strategies


def test_q4_semi_join_not_inner(spark, sf_dir):
    df = Q.queries()["q4_priority_late_ship"](spark, sf_dir)
    plan = inspect.final_plan(df)
    assert "LeftSemi" in plan, plan


def test_bucketed_quartiles_no_window_no_global_sort(spark, sf_dir):
    df = Q.queries()["value_quartiles_bucketed"](spark, sf_dir)
    plan = inspect.final_plan(df)
    # quartiles WITHOUT ranking the corpus: no Window operator, and
    # the only Sort is the 4-row presentation orderBy after the
    # aggregate — never a pre-aggregation global sort of events
    assert "Window" not in plan, plan
    import re
    assert not re.search(r"\bntile\(", plan), plan  # "percentile(" is expected
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_ntile_quartiles_input_is_bounded_topk(spark, sf_dir):
    df = Q.queries()["ntile_value_quartiles"](spark, sf_dir)
    plan = inspect.final_plan(df)
    # the full table meets only a distributed top-k; the single-
    # partition ntile window sees at most 4000 rows at any scale
    assert "TakeOrderedAndProject" in plan, plan


def test_q16_not_in_is_anti_join(spark, sf_dir):
    df = Q.queries()["q16_supplier_counts"](spark, sf_dir)
    # the NOT IN must PLAN as a left anti join (check pre-AQE: with
    # an empty exclusion set at tiny SF, AQE's PropagateEmptyRelation
    # legitimately erases the join from the final plan)
    plan = inspect.executed_plan(df)
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in inspect.join_strategies(df)


def test_q21_single_per_order_aggregate(spark, sf_dir):
    # the EXISTS/NOT-EXISTS pair must decorrelate to ONE aggregate
    # over lineitem-per-order, not correlated re-scans: lineitem is
    # scanned at most twice (l1 side + aggregate side)
    df = Q.queries()["q21_sole_late_supplier"](spark, sf_dir)
    plan = inspect.final_plan(df)
    import re
    li_scans = len([m for m in re.findall(r"FileScan parquet \[[^\]]*l_orderkey", plan)])
    assert li_scans <= 2, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_q8_q9_broadcast_dims(spark, sf_dir):
    for name in ("q8_market_share", "q9_profit_by_nation"):
        df = Q.queries()[name](spark, sf_dir)
        strategies = inspect.join_strategies(df)
        assert strategies.count("BroadcastHashJoin") >= 3, (name, strategies)
        assert "CartesianProduct" not in strategies, name


def test_corpus_shuffle_numbers_bounded_extract(spark, sf_dir):
    df = Q.queries()["corpus_shuffle_order"](spark, sf_dir)
    plan = inspect.final_plan(df)
    # the permutation head is cut by a distributed top-k BEFORE the
    # row_number window: the single-partition window sees exactly 50
    # rows at any corpus size
    assert "TakeOrderedAndProject" in plan, plan


#: documented bounded single-partition windows (input is a top-k /
#: limit extract or an already-aggregated scalar frame) — every other
#: registered query must plan zero unpartitioned windows
_BOUNDED_WINDOW_ALLOWLIST = {
    "ntile_value_quartiles",   # 4000-row top-k extract
    "vocab_coverage_docs",     # top-k vocabulary rows only
    "corpus_shuffle_order",    # 50-row limit extract
    "bm25_ranked_docs",        # rank over the 20-row limit extract
    "pmi_collocations_docs",   # rank over the 50-row limit extract
    "rag_context_budget",      # running token sum over the k=8 extract
    "corpus_zipf_stats_docs",  # rank over the 1000-row head extract
    "key_skew_events",         # cum-share over the top-20 key extract
    "negative_samples_docs",   # cumulative bounds over the min_count-cut vocab
    "hybrid_rerank_docs",      # rank over the limit(top_k) rerank extract
    "gains_curve_docs",        # cumulative window over the ≤10-row
                               # score-BAND table (bands are a fixed
                               # constant, not data-driven), after the
                               # banded aggregation has already
                               # reduced the corpus
    "rrf_hybrid_docs",         # rank windows over three bounded
                               # extracts: bm25 top-50, knn k=50,
                               # and the fused limit(top_k=20) —
                               # fusion input is systems × k rows,
                               # never the corpus
    "seasonal_decompose_events",  # MA/σ windows over the per-DAY
                               # table — calendar-bounded (365
                               # rows/year) after one map-side-
                               # combined daily aggregation; never
                               # corpus rows
    "quantile_match_events",   # bucket-offset running sum over the
                               # <= stats.RANK_BUCKETS(1024)-row global
                               # count table — bounded by the
                               # constant, never the data; all
                               # row-level windows partition by bucket
    "curriculum_order_docs",   # cell-offset running sum over the
                               # (band, shard) count table: at most
                               # bands × 16 shards rows (8 × 16 here),
                               # never the docs; the row-level window
                               # partitions by (band, shard)
    "unimax_mixture_docs",     # water-fill cumsum over the per-SOURCE
                               # count table: one row per source,
                               # bounded by the domain alphabet
    "krippendorff_ordinal_events",  # cumulative-margin sum over the
                               # label-marginal table: rows = distinct
                               # grades (5 here), bounded by the label
                               # alphabet, never the ratings
    "kaplan_meier_users",      # cum-hazard over the per-DAY lifetime
                               # histogram: rows ≤ observation window
                               # in days (a decade of data = ~3.7k
                               # rows) regardless of corpus size
    "rag_pipeline_docs",       # rank windows over the bm25 top-50,
                               # dense top-50, and fused limit(20)
                               # extracts — systems × k rows, never
                               # the corpus (the rrf_hybrid_docs
                               # precedent, composed)
}


def test_plan_lists_name_registered_queries():
    """A stale name in the allowlist or the scan budgets exempts
    nothing and hides that its query is gone."""
    names = set(Q.queries())
    assert set(_BOUNDED_WINDOW_ALLOWLIST) <= names
    assert set(_SCAN_BUDGET_OVERRIDES) <= names


def test_registry_has_no_unpartitioned_window_over_unbounded_input(
        spark, sf_dir):
    import re
    flagged = {}
    for name, fn in Q.queries().items():
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for m in re.finditer(
                r"windowspecdefinition\(([^()]*?)specifiedwindowframe", plan):
            first = m.group(1).split(",")[0].strip()
            # a partition column renders bare; an order-only spec leads
            # with a SortOrder ("col ASC/DESC ...") -> unpartitioned
            if " ASC" in first or " DESC" in first:
                flagged.setdefault(name, []).append(first)
    assert set(flagged) <= _BOUNDED_WINDOW_ALLOWLIST, flagged


def test_phrase_count_zero_shuffle_map(spark, sf_dir):
    """phrase_count is one regexp pass over the scan: no exchange,
    no join, and the scan reads only (doc_id, text)."""
    from parlerproject_spark.plans.inspect import (exchange_count,
                                                   final_plan,
                                                   read_schema_columns)
    df = Q.queries()["phrase_count_docs"](spark, sf_dir)
    # the trailing orderBy adds one range exchange; the core is the
    # child — assert on the un-ordered operator output instead
    from parlerproject_spark.catalog import load_table
    from parlerproject_spark.operators.retrieval import phrase_count
    core = phrase_count(load_table(spark, "documents", sf_dir),
                        "hash join")
    assert exchange_count(final_plan(core)) == 0
    assert all(set(cols) <= {"doc_id", "text"}
               for cols in read_schema_columns(core))
    assert df.count() > 0


def test_profile_table_is_single_scan_single_agg(spark, sf_dir):
    """One aggregation job over one scan no matter how many columns
    are profiled (the EXPAND for exact distincts multiplies rows
    in-stage, never re-reads)."""
    from parlerproject_spark.catalog import load_table
    from parlerproject_spark.operators.profiling import profile_table
    from parlerproject_spark.plans.inspect import executed_plan
    ev = load_table(spark, "events", sf_dir)
    plan = executed_plan(profile_table(ev, ["event_id", "user_id",
                                            "event_type"]))
    assert plan.count("FileScan") == 1
    assert plan.count("Expand") == 1


def test_heavy_hitters_verify_pass_broadcasts_candidates(spark, sf_dir):
    """Pass 2's exact count must semi-join the raw table against a
    BROADCAST candidate set — never shuffle the corpus on the key
    before the filter."""
    from parlerproject_spark.catalog import load_table
    from parlerproject_spark.operators.profiling import heavy_hitters
    from parlerproject_spark.plans.inspect import executed_plan
    ev = load_table(spark, "events", sf_dir)
    plan = executed_plan(heavy_hitters(ev, "user_id", k=50))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_registry_has_no_cartesian_products(spark, sf_dir):
    """No registered query may plan a CartesianProduct: every
    intentional crossJoin in the engine is crossJoin(broadcast(
    <one-row/bounded side>)) which plans as BroadcastNestedLoopJoin.
    A CartesianProduct means both sides shuffle-materialize — the
    one join shape with no 100 TB story."""
    flagged = {}
    for name, fn in Q.queries().items():
        plan = fn(spark, sf_dir)._jdf.queryExecution() \
            .executedPlan().toString()
        if "CartesianProduct" in plan:
            flagged[name] = True
    assert not flagged, sorted(flagged)


def test_diversity_ngrams_single_corpus_scan(spark, sf_dir):
    """The round-10 audit caught diversity_ngrams scanning documents
    3× against a docstring claiming 1 (exchange reuse does not
    survive column pruning). The rewritten single-linear-chain form
    must keep exactly ONE documents FileScan in the FINAL plan."""
    df = Q.queries()["diversity_by_source_docs"](spark, sf_dir)
    final = inspect.final_plan(df)
    assert final.count("FileScan") == 1, final


#: Per-query FileScan-budget ratchet (VERDICT r10 #2): cap on how
#: many times the FINAL executed plan may scan any single source
#: table. Default 2 (a source + one legitimate second pass, e.g. the
#: cand/ref sides of a pair metric). Entries below are the measured
#: round-11 ceilings for queries that structurally re-derive an
#: intermediate across consumers — each is a known, documented cost
#: (most are bounded-side rescans of a column-pruned scan, not a
#: corpus blow-up), and the ratchet direction is DOWN: lowering a
#: value after a restructure is expected; raising one (or a default
#: query drifting past 2) fails the suite and needs a justification
#: here. diversity_by_source_docs deliberately has NO entry: its
#: round-11 restructure brought it to 1 and the default pins it.
_SCAN_BUDGET_OVERRIDES = {
    # one stats/cut pass + re-scored corpus pass + bounded extract
    "krippendorff_interval_events": 3,
    "krippendorff_alpha_events": 3,
    "quantile_match_events": 3,       # documented: 3 pruned scans
    "wordpiece_segment_docs": 3,
    "bpe_fertility_by_source": 3,
    "heavy_hitters_users": 3,         # sketch pass + exact verify pass
    "hybrid_rerank_docs": 3,
    "minhash_lsh_pairs": 3,           # shingle, band, verify passes
    "ranking_metrics_docs": 3,
    "semantic_decontaminate_embeddings": 3,
    "token_budget_sample_docs": 3,
    "association_rules_events": 3,
    "ips_policy_value_events": 3,
    "robust_outliers_events": 3,
    "theil_sen_trend_users": 3,
    "weak_label_summary_docs": 3,
    "bradley_terry_sources": 3,
    "maxsim_rerank_embeddings": 3,
    "embedding_covariance": 3,
    "corpus_refresh_pipeline": 3,
    "pmi_collocations_docs": 3,
    "margin_pairs_lsh_embeddings": 4,  # FINAL (r13 audit): 2 sig
                                       # passes + 2 keyed vector
                                       # fetch-backs; folding the
                                       # fetch-backs would 8× the
                                       # bucket-join shuffle (vectors
                                       # ride every table row). 4 is
                                       # a one-table fixture artifact
                                       # — real src/tgt snapshots
                                       # cost 2 scans per table.
    # embedding_drift_snapshots (was 4): round-13 tagged-union single
    # pass — norms ride the exploded stream, pos-0 marker rows carry
    # the per-side stats; 2 scans statically (one per snapshot half)
    # fk_integrity_audit (was 4): round-13 stacked one-pass audit —
    # FK columns unpivot per child scan, parents union-tag, one keyed
    # join; max 2 scans/table, the default covers it
    # cut_substring_spans_docs (was 4): round-13 combined
    # token+gram-hash stream — count table and cutting pass share one
    # exploded scan, coverage via rows-window; 2 scans statically
    # curriculum_order_docs (was 3): the (band, shard) cell counts are
    # one aggregation feeding the offset window, where a broadcast
    # cross join re-planned them — 2 scans, the default covers it
    # quantile_band_docs (was 4): round-13 persisted bounds + offset
    # tables (roc_auc idiom) — final ranked pass is the only corpus
    # consumer; 2 scans statically
    # citation_support_docs / citation_pr_docs (were 5): round-13 —
    # the fixture's tokenized stream localCheckpoints once
    # (eager=False) and answers/citations/sources all derive from
    # it; final plans carry ZERO parquet scans
    "bloom_incremental_dedup_docs": 4,  # batch+seen BOTH fixture-cut
                                        # from documents (2 sides × 2
                                        # passes); real inputs are two
                                        # tables, giving 2 each
    # grouped_roc_auc_sources / cv_fold_auc_docs (were 3 each): the
    # grouped per-(group,score) histogram persist — 1 scan each
    # roc_auc_docs / mann_whitney_arms_events (were 4 each): the
    # round-12 distinct-score-histogram persist collapsed the four
    # consumers onto one materialization — 1 scan each now
    # lm_score_docs / perplexity_buckets_docs / stupid_backoff_docs
    # (were 4 each): round-12 fused n-gram key streams (lower orders
    # ride with NULL tail keys) train each LM in ONE corpus pass and
    # the persisted count table feeds every model consumer — all
    # three now fit the default budget of 2 (train + score)
    # dsir_weights/resample (were 5): model-sized persist collapsed
    # the totals+broadcast consumers — now 2, the default covers them
    # pretraining_corpus_pipeline (was 6): the round-12 survivor-set
    # localCheckpoint at the gate/rescore boundary moved the 2 real
    # corpus scans into the checkpoint job; the final plan reads the
    # materialized survivors, so the default budget covers it
    # nb_quality_scores_docs (was 7): the round-12 single-pass model
    # table (posexplode_outer + pos-0 doc markers, §7 persist) left
    # exactly train + score = 2 scans — the default covers it
    # round-11 restructures REMOVED former entries: token_f1 (was 6),
    # bleu (6), chrf (8), rouge_l/edit_distance (4), and
    # truncation_recall (10) all now fit the default budget of 2 —
    # single-chain per side / single-scan prefix-sim sweep.
}


def _max_scans_per_table(plan: str) -> int:
    import collections
    import re
    tabs = re.findall(r"file:[^\]]*?/(\w+)\.parquet", plan)
    return max(collections.Counter(tabs).values(), default=0)


def test_registry_filescan_budget(spark, sf_dir):
    """Registry-wide scan-count ratchet: no query's FINAL executed
    plan may scan one source table more times than its budget
    (default 2). Static (pre-execution) plans overcount — AQE only
    applies exchange reuse at runtime — so a static breach triggers
    an execute-and-recount before it flags. This is the guard that
    keeps the diversity_ngrams class of regression (a docstring
    claiming one tokenize pass while the executed plan runs three)
    from silently returning."""
    over = {}
    for name, fn in Q.queries().items():
        cap = _SCAN_BUDGET_OVERRIDES.get(name, 2)
        df = fn(spark, sf_dir)
        static = df._jdf.queryExecution().executedPlan().toString()
        if _max_scans_per_table(static) <= cap:
            continue
        worst = _max_scans_per_table(inspect.final_plan(df))
        if worst > cap:
            over[name] = worst
    assert not over, f"scan budget exceeded (query -> scans): {over}"
