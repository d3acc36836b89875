"""Cache-lifecycle contract (SCALE.md §7, VERDICT r12 item 6).

Operators persist model-sized reduction tables with the lazy API;
the SESSION owns the release boundary via caching.release_all. This
suite pins both halves of that contract: persist-heavy queries do
pin relations when materialized, and release_all drops every one of
them, so a long driver/oracle session that releases at its query
boundaries (tools/check_oracle.py does) cannot accumulate caches.
The model-sized fits keep their state on the driver instead, through
caching.collect_state: its row cap and job tag are pinned here too.
"""

from __future__ import annotations

import pytest

import parlerproject_spark.queries as Q
from parlerproject_spark import caching
from parlerproject_spark.caching import cached_rdd_count, release_all

SF_DIR = "/root/testdata/sf0.001"

# A cross-section of the persist-using families flagged in ADVICE
# r12: AUC histograms, NB model table, fused n-gram LM counts,
# quantile-band offsets, embedding-drift per-dim stats; plus two
# that pin localCheckpoint blocks: an eager checkpoint (the Zipf
# term table) and a fixpoint loop (k-core peels).
PERSIST_QUERIES = [
    "roc_auc_docs",
    "nb_quality_scores_docs",
    "stupid_backoff_docs",
    "quantile_band_docs",
    "embedding_drift_snapshots",
    "corpus_zipf_stats_docs",
    "k_core_users",
]


def test_release_all_drops_every_pinned_relation(spark):
    release_all(spark)
    assert cached_rdd_count(spark) == 0
    pinned_during = 0
    for name in PERSIST_QUERIES:
        Q.queries()[name](spark, SF_DIR).collect()
        pinned_during = max(pinned_during, cached_rdd_count(spark))
    assert pinned_during > 0, (
        "expected the persist-heavy sample to pin at least one "
        "relation — did the operators stop persisting?")
    released = release_all(spark)
    assert released >= 1
    assert cached_rdd_count(spark) == 0, (
        "release_all left cached relations behind")


def test_release_all_unpins_checkpoints(spark):
    """The cache manager does not track localCheckpoint blocks; every
    fixpoint round leaves one pinned until release_all unpins it."""
    from parlerproject_spark.operators.graph import k_core

    release_all(spark)
    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)],
                                  "src long, dst long")
    assert k_core(edges, k=2).collect()
    assert cached_rdd_count(spark) > 0
    release_all(spark)
    assert cached_rdd_count(spark) == 0


def test_release_all_destroys_partner_broadcast(spark):
    """Exact-mode pair scoring ships its partner matrix as a
    SparkContext broadcast; once the query has run, release_all must
    destroy it on the driver and the executors instead of leaving it
    pinned until GC."""
    release_all(spark)
    rows = Q.queries()["embedding_near_dup_pairs"](spark, SF_DIR).collect()
    assert rows
    pending = list(caching._BROADCASTS.get(spark.sparkContext, []))
    assert len(pending) == 1, pending
    release_all(spark)
    assert not pending[0]._jbroadcast.isValid()
    assert spark.sparkContext not in caching._BROADCASTS


def test_release_between_queries_keeps_results_identical(spark):
    """Releasing at the query boundary must be semantically free:
    the same query re-run after a release returns the same rows."""
    name = "roc_auc_docs"
    first = Q.queries()[name](spark, SF_DIR).collect()
    release_all(spark)
    second = Q.queries()[name](spark, SF_DIR).collect()
    assert first == second


def test_collect_state_caps_rows_and_restores_the_description(spark):
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        assert len(caching.collect_state(spark.range(5), cap=5,
                                         name="probe_state")) == 5
        with pytest.raises(ValueError, match="probe_state"):
            caching.collect_state(spark.range(5), cap=4, name="probe_state")
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)


def test_model_fits_keep_the_empty_input_result(spark):
    """A fit over no rows returns no rows in its usual schema, not a
    driver-side division by zero."""
    from parlerproject_spark.operators.preference import bradley_terry
    from parlerproject_spark.operators.sampling import doremi_weights
    from parlerproject_spark.operators.selection import (
        logreg_quality_classifier)

    def empty(ddl):
        return spark.createDataFrame([], ddl)

    fits = [
        (doremi_weights(empty("domain string, loss double, ref_loss double")),
         "struct<domain:string,excess:double,weight:double>"),
        (bradley_terry(empty("winner string, loser string")),
         "struct<item:string,strength:double,n_wins:bigint,n_games:bigint>"),
        (logreg_quality_classifier(
            empty("doc_id bigint, text string, label int")),
         "struct<doc_id:bigint,margin:double,prob:double,pred:bigint>"),
    ]
    for out, schema in fits:
        assert out.schema.simpleString() == schema
        assert out.collect() == []


# Values where a JSON round trip could drift: NaN, ±inf, -0.0, the
# smallest subnormal, near-max, a non-shortest sum, a bigint past 2^53,
# NULL, and a string needing escapes and surrogate pairs.
EDGE_DDL = "x double, n bigint, s string"
EDGE_ROWS = [
    (float("nan"), 2 ** 62 + 1, "é☃😀\"\\"),
    (float("inf"), None, None),
    (float("-inf"), -(2 ** 63), ""),
    (-0.0, 0, "a"),
    (5e-324, 1, None),
    (1.797e308, 2, "x"),
    (0.1 + 0.2, 3, "y"),
    (None, 4, "z"),
]


def test_literal_frame_round_trips_like_create_dataframe(spark):
    """`literal_frame` gives the values and the schema `createDataFrame`
    gives (repr tells NaN and -0.0 apart where == would not)."""
    got = caching.literal_frame(spark, EDGE_ROWS, EDGE_DDL)
    ref = spark.createDataFrame(EDGE_ROWS, EDGE_DDL)
    assert got.schema == ref.schema
    assert ([tuple(map(repr, r)) for r in got.collect()]
            == [tuple(map(repr, r)) for r in ref.collect()])


def test_literal_frame_of_no_rows_keeps_the_schema(spark):
    got = caching.literal_frame(spark, [], EDGE_DDL)
    assert got.collect() == []
    assert got.schema == spark.createDataFrame([], EDGE_DDL).schema


def test_literal_raises_on_a_value_that_does_not_fit(spark):
    """FAILFAST: a string where a bigint belongs is an error, not NULL."""
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        spark.range(1).select(
            caching.literal({"a": "x"}, "struct<a:bigint>")).collect()


def test_literal_folds_to_one_literal(spark):
    """The optimizer folds the JSON parse away: the optimized plan holds
    the value itself, and no `from_json` runs per row."""
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        F.element_at(caching.literal([1.5, 2.5], "array<double>"),
                     (F.col("id") % 2 + 1).cast("int")).alias("w"),
        F.map_from_entries(caching.literal(
            [{"key": 5, "value": 1.0}, {"key": 7, "value": 2.0}],
            "array<struct<key:bigint,value:double>>"))[F.col("id") + 5]
        .alias("p"))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in plan, plan
    assert [tuple(r) for r in df.collect()] == [
        (1.5, 1.0), (2.5, None), (1.5, 2.0)]


def test_literal_frame_scans_no_python_rdd(spark):
    """`createDataFrame` plans a Python RDD scan (Python workers start);
    `literal_frame` plans none."""
    from parlerproject_spark.plans.inspect import executed_plan

    got = caching.literal_frame(spark, EDGE_ROWS, EDGE_DDL)
    ref = spark.createDataFrame(EDGE_ROWS, EDGE_DDL)
    assert "ExistingRDD" in executed_plan(ref)
    assert "ExistingRDD" not in executed_plan(got)
