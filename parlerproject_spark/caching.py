"""Session-level cache lifecycle and iterative-fit state (SCALE.md §5,
§7; VERDICT r12 item 6).

Operators persist their model-sized reduction artifacts (distinct-
score histograms, n-gram count tables, NB/LM model tables, per-group
quantile offsets) with the LAZY `.persist()` API: every consumer reads
the one materialization, and Spark's plan-keyed CacheManager dedupes
repeated identical calls. When the LAST consumer has run is known only
to the session driving the queries, so a long session (the oracle
gate, a registry-wide run) releases at its own query boundaries:
`release_all(spark)` drops every cached relation, unpins every other
persistent RDD (`localCheckpoint` blocks, e.g. each `fixpoint`
round's) and destroys every `session_broadcast`. Hot-path operators
with an in-query release point keep their explicit unpersist/cache_out
seams (dedup.py, topics.py).
Iterative fits keep corpus-sized state in a DataFrame that `fixpoint`
checkpoints each round, and model-sized state on the driver, collected
each round by the capped `collect_state`.
`collect_state` is the one way out of a plan to the driver;
`literal` / `literal_frame` are the one way a driver value enters one.

A DataFrame built before a release must not run after it, and
callers that RE-run the same query (bench.py's median-of-N) must
NOT release between runs — warm runs legitimately reuse the
plan-keyed cache; bench documents that reliance instead.
"""

from __future__ import annotations

import json
import weakref
from contextlib import contextmanager

from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Broadcast variables awaiting the next `release_all`, per
#: SparkContext (weak, so a stopped context's entries go with it).
_BROADCASTS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

#: `collect_state` cap where the data sizes a fit's state (DoReMi's
#: domains, Bradley-Terry's items): it ships in every task's plan.
MODEL_STATE_ROWS = 65_536


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


@contextmanager
def _job_description(sc, desc):
    """Tag the block's jobs `desc`, then restore the caller's tag."""
    caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", caller)


def collect_state(df, *, cap, name):
    """A model-sized fit's state on the driver: the rows of `df`, collected
    under the job description `name`. Raises `ValueError` past `cap`
    rows; the driver never holds more than cap + 1."""
    with _job_description(df.sparkSession.sparkContext, name):
        rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(f"{name}: model state exceeds cap={cap} rows")
    return rows


def literal(value, ddl):
    """`value` (JSON-serializable) as a Column of type `ddl`: one
    `from_json` of one string, which constant folding turns into one
    Literal (`lit(list)` and `array(*lits)` cost a py4j call per
    element). FAILFAST: a value that does not fit `ddl` raises instead
    of reading as NULL. JSON keys are strings, so a map is
    `F.map_from_entries` over an `array<struct<key,value>>` literal."""
    return F.from_json(F.lit(json.dumps(value)), ddl, {"mode": "FAILFAST"})


def literal_frame(spark, rows, ddl):
    """The tuples `rows` as a DataFrame of schema `ddl` ("a string, b
    double"), inlined from one `literal`: unlike `createDataFrame` no
    Python worker starts, and no rows give an empty frame."""
    schema = T.StructType.fromDDL(ddl)
    return spark.range(1).select(F.inline(literal(
        [dict(zip(schema.names, r)) for r in rows], T.ArrayType(schema))))


def fixpoint(state, step, *, rounds, name, converged=None):
    """The one driver loop of the corpus-sized iterative operators (CC,
    label propagation, BFS, k-core): at most `rounds` rounds of
    `state = step(state).localCheckpoint(eager=False)`, so no round's
    plan compounds. Under AQE declaring the lazy checkpoint runs the
    round's shuffle and broadcast stages at once, as jobs tagged
    `{name}#{i}` (i from 1). With `converged(prev, cur)` (one probe job
    per round) the loop returns at the first round where it holds and
    raises when none does: a fit cut short is a wrong answer. Without
    it, exactly `rounds` rounds run."""
    sc = state.sparkSession.sparkContext
    for i in range(1, rounds + 1):
        with _job_description(sc, f"{name}#{i}"):
            prev, state = state, step(state).localCheckpoint(eager=False)
            if converged is not None and converged(prev, state):
                return state
    if converged is not None:
        raise RuntimeError(f"{name}: no fixed point within "
                           f"max_iter={rounds} rounds")
    return state
