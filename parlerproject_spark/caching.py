"""Session-level cache lifecycle (SCALE.md §7, VERDICT r12 item 6).

Operators persist their model-sized reduction artifacts (distinct-
score histograms, n-gram count tables, NB/LM model tables, per-group
quantile offsets) with the LAZY `.persist()` API: every consumer of
the returned DataFrame reads the one materialization, and repeated
identical calls are deduped by Spark's plan-keyed CacheManager. What
the lazy API cannot know is when the LAST consumer has run — that
boundary belongs to the session driving the queries, not to the
operator. A long session running hundreds of registered queries
(the oracle gate, the round driver) therefore accumulates cached
relations unless it releases them at its own query boundaries.

`release_all(spark)` is that boundary: it drops every cached
relation of the session (Catalog.clearCache — the SQL-cache-manager
API, which also unpins the backing RDD blocks), destroys every
broadcast variable created through `session_broadcast`, and returns
how many RDDs were pinned before the call. Hot-path operators with an
in-query release point keep their explicit unpersist/cache_out seams
(dedup.py, topics.py, similarity.py's `cache_out`); this helper is
the backstop for everything else.

Callers that RE-run the same query (bench.py's median-of-N) must NOT
release between runs — warm runs legitimately reuse the plan-keyed
cache; bench documents that reliance instead.
"""

from __future__ import annotations

import weakref

#: Broadcast variables awaiting the next `release_all`, per
#: SparkContext (weak, so a stopped context's entries go with it).
_BROADCASTS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def session_broadcast(spark, value):
    """`sparkContext.broadcast(value)` whose lifetime ends at the
    session's next `release_all`: the operator that builds the plan
    cannot know when its last consumer has run, so — like a lazy
    persist — the broadcast is released at the query boundary instead
    of staying pinned on the driver and executors until GC."""
    sc = spark.sparkContext
    bc = sc.broadcast(value)
    _BROADCASTS.setdefault(sc, []).append(bc)
    return bc


def cached_rdd_count(spark) -> int:
    """Number of RDDs currently pinned in this session's block
    manager (DataFrame persists register one each once
    materialized)."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def release_all(spark) -> int:
    """Drop every cached relation in the session and destroy every
    `session_broadcast`; returns the number of pinned RDDs released.
    Safe to call between queries — the next query re-persists (and
    re-broadcasts) what it needs."""
    n = cached_rdd_count(spark)
    spark.catalog.clearCache()
    for bc in _BROADCASTS.pop(spark.sparkContext, []):
        bc.destroy()
    return n
