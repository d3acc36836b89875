"""Declarative data-quality expectations — the ingest gate a 100 TB
pipeline runs before a snapshot is allowed to feed training: assert
nullability, uniqueness, ranges, value sets, and regex shapes over a
frame and get back one small per-rule report (checked / failed /
pass-rate / verdict) instead of a crash or a silent bad partition.

Great-Expectations-shaped, Spark-first: every ROW-level rule compiles
to a conditional-aggregation expression and every `unique` rule to a
count-distinct, and ALL of them ride ONE global aggregate — a single
scan of the data no matter how long the rule list or how wide the
table. Catalyst plans the mixed distinct/non-distinct aggregate as
one Expand (each input row fans out once per distinct column plus
once for the plain counters) feeding one partial+final aggregate —
still a single job, map-side partials, no shuffle wider than a row
of counters. Results come back as a constant-size table — one row
per rule — assembled driver-side from the single collected counter
row (a bounded, rule-count-sized read, documented).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ROW_KINDS = ("not_null", "in_range", "in_set", "matches", "custom")
_KINDS = _ROW_KINDS + ("unique",)


@dataclass(frozen=True)
class Expectation:
    """One declarative rule.

    kind:
      not_null  — col IS NOT NULL
      in_range  — lo <= col <= hi (params: lo, hi; NULL fails)
      in_set    — col ∈ params["values"] (NULL fails)
      matches   — col RLIKE params["pattern"] (NULL fails)
      unique    — col has no duplicate non-NULL values
      custom    — params["predicate"] is a boolean Column; rows where
                  it is NULL or false fail
    """
    name: str
    kind: str
    col: str | None = None
    params: dict[str, Any] = field(default_factory=dict)

    def __post_init__(self):
        if self.kind not in _KINDS:
            raise ValueError(f"unknown expectation kind {self.kind!r}")
        if self.kind != "custom" and not self.col:
            raise ValueError(f"{self.kind} expectation needs a column")


def _violated(e: Expectation) -> F.Column:
    """Boolean column: True where the row VIOLATES the rule."""
    c = F.col(e.col) if e.col else None
    if e.kind == "not_null":
        return c.isNull()
    if e.kind == "in_range":
        lo, hi = e.params["lo"], e.params["hi"]
        ok = (c >= F.lit(lo)) & (c <= F.lit(hi))
        return ~F.coalesce(ok, F.lit(False))
    if e.kind == "in_set":
        vals = list(e.params["values"])
        if not vals:
            raise ValueError("in_set expectation needs a non-empty set")
        return ~F.coalesce(c.isin(vals), F.lit(False))
    if e.kind == "matches":
        return ~F.coalesce(c.rlike(e.params["pattern"]), F.lit(False))
    if e.kind == "custom":
        pred = e.params["predicate"]
        return ~F.coalesce(pred, F.lit(False))
    raise AssertionError(e.kind)


def _suite_agg(df: DataFrame, row_rules: Sequence[Expectation],
               uni_rules: Sequence[Expectation]) -> DataFrame:
    """The whole suite as ONE unexecuted single-row aggregate —
    factored out so tests can assert the plan scans the input exactly
    once (the fused-suite contract) without executing it."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, r in enumerate(row_rules):
        aggs.append(F.sum(F.when(_violated(r), 1).otherwise(0))
                    .alias(f"__f{i}"))
    for i, r in enumerate(uni_rules):
        aggs.append(F.count(F.col(r.col)).alias(f"__un{i}"))
        aggs.append(F.count_distinct(F.col(r.col)).alias(f"__ud{i}"))
    return df.agg(*aggs)


def expect_suite(df: DataFrame, rules: Sequence[Expectation],
                 spark=None) -> DataFrame:
    """Evaluate every rule and return one row per rule:
    rule, kind, col, n_checked, n_failed, pass_rate (6 dp), passed.

    n_checked is the full row count for row-level rules and the
    non-NULL row count for `unique` (NULLs are not duplicates of
    each other — the SQL UNIQUE convention; pair a not_null rule to
    forbid them). pass_rate = 1 − n_failed / n_checked (1.0 when
    n_checked = 0: an empty frame vacuously passes).

    ONE job for the whole suite: every row-level rule is a
    conditional sum and every unique rule a (count, count_distinct)
    pair, all in a single `df.agg(...)` — Catalyst plans the mixed
    aggregate as one Expand feeding one partial+final aggregate, so
    N unique rules cost one shared extra projection of the scan, not
    N extra jobs. The report is a PLAN, not a driver artifact (r14):
    the per-rule rows explode out of the single aggregate row
    in-engine, so building the suite launches no jobs and the whole
    report is one action — the previous form collected the counter
    row at DataFrame-BUILD time and re-parallelized a Python list,
    which cost ~6 driver-synchronized jobs per call (guide §1.3) and
    made report construction eager. pass_rate is F.round(…, 6):
    HALF_UP on the double's SHORTEST decimal form (Java
    BigDecimal.valueOf), which agrees with DuckDB's round(). The old
    Decimal(double).quantize(HALF_UP) rounded the exact binary value
    instead, so on a tie such as 1 − 36/1600000 (0.9999775) the two
    differ by 1e-6 (0.999978 now, 0.999977 before).
    """
    if not rules:
        raise ValueError("expect_suite needs at least one rule")
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        raise ValueError("duplicate expectation names")

    row_rules = [r for r in rules if r.kind != "unique"]
    uni_rules = [r for r in rules if r.kind == "unique"]

    agg = _suite_agg(df, row_rules, uni_rules)

    checked: dict[str, F.Column] = {}
    failed: dict[str, F.Column] = {}
    for i, r in enumerate(row_rules):
        checked[r.name] = F.col("__n")
        failed[r.name] = F.coalesce(F.col(f"__f{i}"), F.lit(0))
    for i, r in enumerate(uni_rules):
        checked[r.name] = F.col(f"__un{i}")
        failed[r.name] = (F.col(f"__un{i}")
                          - F.coalesce(F.col(f"__ud{i}"), F.lit(0)))

    entries = []
    for r in rules:
        n = checked[r.name].cast("long")
        f = failed[r.name].cast("long")
        rate = (F.when(n == 0, F.lit(1.0))
                .otherwise(F.round(F.lit(1.0) - f / n, 6)))
        entries.append(F.struct(
            F.lit(r.name).alias("rule"),
            F.lit(r.kind).alias("kind"),
            F.lit(r.col or "").alias("col"),
            n.alias("n_checked"),
            f.alias("n_failed"),
            rate.alias("pass_rate"),
            (f == 0).alias("passed")))
    return (agg.select(F.explode(F.array(*entries)).alias("__e"))
            .select("__e.*"))


# Spark DataFrame.dtypes simpleString names for numeric types. The
# base token is matched EXACTLY (text before any '(' parameter list),
# not by prefix — "int".startswith-style tests would also claim
# "interval day to second" columns and emit in_range rules with
# interval literals, an expression path the gate never intends.
_NUMERIC_TOKENS = frozenset({"tinyint", "smallint", "int", "bigint",
                             "float", "double", "decimal"})


def _is_numeric_dtype(dtype: str) -> bool:
    return dtype.split("(", 1)[0].strip() in _NUMERIC_TOKENS


def infer_expectations(ref: DataFrame, cols: Sequence[str], *,
                       set_card_max: int = 20) -> list[Expectation]:
    """Auto-profile a REFERENCE snapshot into an expectation suite —
    the Great-Expectations auto-profiling shape: profile yesterday's
    good snapshot once, then gate today's snapshot with the derived
    rules (`auto_gate`). The reference notebooks hand-tolerate
    exactly this class of drift — the ragged-schema NaN padding of
    `preview_data.ipynb:316` is a missing not_null gate.

    Generation contract (deterministic; per column, in this order):
      {c}_not_null  — iff the reference has rows and ZERO nulls in c
      {c}_in_range  — iff c is numeric with ≥ 1 non-null;
                      lo/hi = the reference's exact min/max
      {c}_in_set    — iff c is a string column with
                      1 ≤ distinct ≤ set_card_max; values = the
                      reference's distinct non-null values
      {c}_unique    — iff c has ≥ 1 non-null and
                      distinct == non-null count

    Two bounded jobs: `profiling.profile_table` (one aggregation
    pass) decides WHICH rules exist; one follow-up single-row agg
    collects the rule PARAMETERS (typed min/max for numeric columns,
    collect_set — capped by set_card_max via the profile's exact
    cardinality — for qualifying string columns). Driver state is
    |cols| profile rows plus one parameter row, never data-sized.
    """
    from parlerproject_spark.operators.profiling import profile_table

    if not cols:
        raise ValueError("infer_expectations needs at least one column")
    dtypes = dict(ref.select(*cols).dtypes)
    prof = {r["col_name"]: r
            for r in profile_table(ref, cols, approx=False).collect()}

    def is_num(c):
        return _is_numeric_dtype(dtypes[c])

    range_cols = [c for c in cols if is_num(c)
                  and prof[c]["n_rows"] - prof[c]["n_nulls"] >= 1]
    set_cols = [c for c in cols if dtypes[c] == "string"
                and 1 <= prof[c]["n_distinct"] <= set_card_max]
    aggs = []
    for c in range_cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    for c in set_cols:
        aggs.append(F.sort_array(F.collect_set(c)).alias(f"__vs_{c}"))
    params = ref.agg(*aggs).collect()[0] if aggs else {}

    rules: list[Expectation] = []
    for c in cols:
        p = prof[c]
        nn = p["n_rows"] - p["n_nulls"]
        if p["n_rows"] > 0 and p["n_nulls"] == 0:
            rules.append(Expectation(f"{c}_not_null", "not_null", c))
        if c in range_cols:
            rules.append(Expectation(
                f"{c}_in_range", "in_range", c,
                params={"lo": params[f"__mn_{c}"],
                        "hi": params[f"__mx_{c}"]}))
        if c in set_cols:
            rules.append(Expectation(
                f"{c}_in_set", "in_set", c,
                params={"values": list(params[f"__vs_{c}"])}))
        if nn >= 1 and p["n_distinct"] == nn:
            rules.append(Expectation(f"{c}_unique", "unique", c))
    return rules


def auto_gate(ref: DataFrame, cur: DataFrame, cols: Sequence[str], *,
              set_card_max: int = 20, spark=None) -> DataFrame:
    """profile → rules → gate, composed: derive an expectation suite
    from a reference snapshot (`infer_expectations`) and evaluate it
    against the current snapshot (`expect_suite`). Cost = one profile
    pass + one bounded parameter agg over the reference, then the
    expect_suite single-aggregate pass over the current snapshot."""
    return expect_suite(cur, infer_expectations(
        ref, cols, set_card_max=set_card_max), spark=spark)


def validation_sink(stream_df: DataFrame, rules: Sequence[Expectation],
                    path: str, *, checkpoint: str):
    """Run the expectation suite on EVERY micro-batch of a stream —
    the ingest gate as a streaming citizen: each batch's per-rule
    report (one row per rule, with the batch id) lands under
    `path`/batch=<id> as parquet; replayed batches overwrite their
    own subdirectory, so restart is idempotent (the rollup_sink /
    cms_sink recipe). Serving reads the directory and has, at any
    mid-stream moment, the full per-batch gate history — which batch
    broke which rule, with counts, instead of a dead stream.

    The per-batch cost is the batch-level expect_suite contract: one
    conditional aggregate for all row-level rules plus one
    count-distinct per unique rule (uniqueness here is WITHIN-batch
    by construction — cross-batch uniqueness is a stateful dedup
    problem, `streaming.stateful` territory — and the report column
    names say so). Returns the StreamingQuery.
    """
    import os

    from pyspark.sql import functions as F

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        rep = expect_suite(batch_df, rules, spark=batch_df.sparkSession)
        (rep.withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
         .coalesce(1)
         .write.mode("overwrite")
         .parquet(os.path.join(path, f"batch={batch_id}")))

    return (stream_df.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def serve_validation_reports(spark, path: str) -> DataFrame:
    """Read-side union of streamed per-batch gate reports.
    Columns: rule, kind, col, n_checked, n_failed, pass_rate,
    passed, batch_id."""
    return spark.read.parquet(f"{path}/batch=*")
