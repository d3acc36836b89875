"""Oracle gate for the operators that keep one implementation.

Each operator below once offered alternative `impl=` paths; only the
path its registered queries run is left. This test runs those queries
at the test scale and compares them with their DuckDB `oracle_sql()`
exactly as tools/check_oracle.py does (row count, per-column dtype
family, order-insensitive value hash), so the remaining path is gated
on an independent reference instead of on a twin implementation.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

import __spark_entry__ as entry
from parlerproject_spark.caching import release_all

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import TABLES, dtype_family, value_hash  # noqa: E402

QUERIES = [
    "semantic_decontaminate_embeddings",
    "embedding_near_dup_pairs",
    "semantic_dedup_embeddings",
    "density_topic_assignments",
    "topic_assignments",
    "knn_ivf",
    "gopher_repetition_docs",
    "knn_lsh",
    "margin_pairs_embeddings",
    "rolling_fingerprints_docs",
    "bpe_segment_docs",
    "bpe_fertility_by_source",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_query_hash_matches_oracle(spark, sf_dir, duck, name):
    try:
        sdf = entry.queries()[name](spark, sf_dir).toPandas()
    finally:
        release_all(spark)
    odf = duck.execute(entry.oracle_sql()[name]).df()
    assert len(sdf) == len(odf) > 0
    assert ({c: dtype_family(sdf[c]) for c in sorted(sdf.columns)}
            == {c: dtype_family(odf[c]) for c in sorted(odf.columns)})
    assert value_hash(sdf) == value_hash(odf)
