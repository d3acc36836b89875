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
relation (Catalog.clearCache, which also unpins the backing RDD
blocks), unpins every other persistent RDD (`localCheckpoint`
blocks, e.g. each `fixpoint` round's) and destroys every
`session_broadcast`. Hot-path operators with an in-query release
point keep their explicit unpersist/cache_out seams (dedup.py,
topics.py, similarity.py's `cache_out`); this helper is the
backstop for everything else.

A DataFrame built before a release must not run after it, and
callers that RE-run the same query (bench.py's median-of-N) must
NOT release between runs — warm runs legitimately reuse the
plan-keyed cache; bench documents that reliance instead.
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
    """Drop every cached relation and checkpoint in the session and
    destroy every `session_broadcast`; returns the number of pinned
    RDDs released.
    Safe to call between queries — the next query re-persists (and
    re-broadcasts) what it needs."""
    n = cached_rdd_count(spark)
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)
    for bc in _BROADCASTS.pop(spark.sparkContext, []):
        bc.destroy()
    return n


def fixpoint(state, step, *, rounds, name, converged=None):
    """The one driver loop of the iterative operators: at most `rounds`
    rounds of `state = step(state).localCheckpoint(eager=False)`, so no
    round's plan compounds. LAZY, yet under AQE declaring the checkpoint
    runs the round's shuffle and broadcast stages at once, so building
    the query runs each round's jobs; they carry the job description
    `{name}#{i}` (i from 1; the job group callers count jobs by is left
    alone). With `converged(prev, cur)` (one probe job per round) the
    loop returns at the first round where it holds and raises when none
    does: a fit cut short is a wrong answer. Without it, exactly
    `rounds` rounds run."""
    sc = state.sparkSession.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    try:
        for i in range(1, rounds + 1):
            sc.setJobDescription(f"{name}#{i}")
            prev, state = state, step(state).localCheckpoint(eager=False)
            if converged is not None and converged(prev, state):
                return state
    finally:
        sc.setLocalProperty("spark.job.description", caller)
    if converged is not None:
        raise RuntimeError(f"{name}: no fixed point within "
                           f"max_iter={rounds} rounds")
    return state
