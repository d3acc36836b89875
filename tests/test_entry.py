"""Driver-contract smoke tests."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert {f.name for f in df.schema.fields} == {"lang", "n_docs", "avg_chars"}
    assert len(rows) >= 0


def test_every_oracle_key_has_a_query():
    qs = entrymod.queries()
    for name in entrymod.oracle_sql():
        assert name in qs


def test_all_queries_build_plans(spark, sf_dir):
    """Every registered query must at least analyze (schema resolves)
    at sf0.001 — catches column typos without running 42 jobs."""
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        assert df.schema is not None, name


def test_registry_integrity():
    """Query names are unique and every oracle belongs to a registered
    query. The driver order itself is pinned by test_driver_order."""
    import parlerproject_spark.queries as q
    names = list(q.queries())
    assert len(names) == len(set(names))
    assert set(q.oracle_sql()) <= set(names)


def test_corpus_refresh_pipeline_funnel_invariants(spark, sf_dir):
    import parlerproject_spark.queries as Q
    rows = Q.queries()["corpus_refresh_pipeline"](spark, sf_dir).collect()
    assert rows, "refresh pipeline returned no sources"
    for r in rows:
        assert r["n_batch"] >= r["n_exact"] >= r["n_near"] >= r["n_kept"]
        assert (r["n_kept"] == 0) == (r["n_tokens"] == 0)
        assert 0.0 <= r["weight"] <= 1.0
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4
