"""Irregular-sample time-series aggregates (hypertable family).

Event streams sample a continuous signal at irregular instants; a
plain avg(value) over-weights bursts. The standard fixes —
TimescaleDB's `time_weight('Linear', …)` and `interpolate` — are
re-expressed here as window algebra: lead()-based trapezoid areas
for the time-weighted mean, and a grid/as-of construction for
linear interpolation. Both are per-key windows over one ts-ordered
exchange — no self-joins, no UDFs, the same shuffle any per-user
rollup already pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def time_weighted_avg(events: DataFrame, *, key_col: str = "user_id",
                      ts_col: str = "ts", val_col: str = "value",
                      out_col: str = "twa") -> DataFrame:
    """Linear (trapezoidal) time-weighted mean per key:
    Σ (vᵢ+vᵢ₊₁)/2 · Δtᵢ / Σ Δtᵢ over consecutive samples. Keys with
    a single sample (no interval) fall back to that sample's value —
    the TimescaleDB convention. Epoch math runs in microseconds
    (bigint) so no float ts rounding enters the weights.
    Columns: <key_col>, n_samples, <out_col> (round 6)."""
    w = Window.partitionBy(key_col).orderBy(ts_col)
    us = (F.unix_micros(F.col(ts_col).cast("timestamp"))
          if dict(events.dtypes)[ts_col].startswith("timestamp")
          else F.col(ts_col).cast("bigint"))
    # ties on the instant are broken by value so the trapezoid chain
    # is the same sequence in every engine
    wl = Window.partitionBy(key_col).orderBy("us", "v")
    stepped = events.select(
        key_col, F.col(val_col).cast("double").alias("v"), us.alias("us")) \
        .withColumn("v2", F.lead("v").over(wl)) \
        .withColumn("dt", (F.lead("us").over(wl) - F.col("us"))
                    .cast("double"))
    agg = (stepped.groupBy(key_col)
           .agg(F.count(F.lit(1)).alias("n_samples"),
                F.sum(F.when(F.col("dt").isNotNull(),
                             (F.col("v") + F.col("v2")) / 2.0
                             * F.col("dt"))).alias("area"),
                F.sum(F.when(F.col("dt").isNotNull(), F.col("dt")))
                .alias("span"),
                F.min(F.struct("us", "v")).getField("v").alias("first_v")))
    return agg.select(
        key_col, "n_samples",
        F.round(F.when(F.col("span") > 0,
                       F.col("area") / F.col("span"))
                .otherwise(F.col("first_v")), 6).alias(out_col))


def interpolate_grid(events: DataFrame, *, key_col: str = "user_id",
                     ts_col: str = "ts", val_col: str = "value",
                     step_minutes: int = 60) -> DataFrame:
    """Linear interpolation of each key's signal onto a regular
    grid (TimescaleDB `interpolate`): grid points span the key's
    own [min ts, max ts], value = v₀ + (v₁−v₀)·(t−t₀)/(t₁−t₀)
    between the surrounding samples; exact-hit points take the
    sample value. Construction: per-key sequence() expands the
    grid (narrow), then ONE as-of style window per side — the
    previous sample rides forward with last(ignorenulls), the next
    with first() over the reversed frame — all on a single
    (key, ts)-ordered exchange.
    Columns: <key_col>, grid_ts, v_interp (round 6)."""
    step_us = step_minutes * 60 * 1_000_000
    base = events.select(
        key_col,
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
        F.col(val_col).cast("double").alias("v"))
    # resolve duplicate-instant samples deterministically (mean)
    base = base.groupBy(key_col, "us").agg(F.avg("v").alias("v"))
    bounds = base.groupBy(key_col).agg(
        F.min("us").alias("lo"), F.max("us").alias("hi"))
    grid = bounds.select(
        key_col,
        F.explode(F.sequence(
            (F.ceil(F.col("lo") / step_us) * step_us).cast("bigint"),
            F.col("hi"), F.lit(step_us))).alias("us")) \
        .withColumn("is_grid", F.lit(True))
    merged = base.withColumn("is_grid", F.lit(False)) \
        .unionByName(grid.withColumn("v", F.lit(None).cast("double")))
    # samples sort before grid points at the same instant so an
    # exact hit sees itself as the "previous sample"
    w_prev = Window.partitionBy(key_col) \
        .orderBy("us", F.col("is_grid").asc()) \
        .rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.partitionBy(key_col) \
        .orderBy(F.col("us").desc(), F.col("is_grid").desc()) \
        .rowsBetween(Window.unboundedPreceding, 0)
    stepped = (merged
               .withColumn("pv", F.last("v", ignorenulls=True).over(w_prev))
               .withColumn("pt", F.last(F.when(~F.col("is_grid"), F.col("us")),
                                        ignorenulls=True).over(w_prev))
               .withColumn("nv", F.last("v", ignorenulls=True).over(w_next))
               .withColumn("nt", F.last(F.when(~F.col("is_grid"), F.col("us")),
                                        ignorenulls=True).over(w_next)))
    # exact hit first: covers a grid point on the LAST sample, whose
    # "next sample" frame is empty (nt null) — pt == us there
    interp = F.when(F.col("us") == F.col("pt"), F.col("pv")) \
        .otherwise(F.col("pv")
                   + (F.col("nv") - F.col("pv"))
                   * (F.col("us") - F.col("pt"))
                   / (F.col("nt") - F.col("pt")))
    return (stepped.filter(F.col("is_grid"))
            .select(key_col,
                    F.timestamp_micros(F.col("us")).alias("grid_ts"),
                    F.round(interp, 6).alias("v_interp")))


def cusum_changepoints(events: DataFrame, *, key_col: str = "user_id",
                       ts_col: str = "ts", val_col: str = "value",
                       k: float = 0.5, h: float = 5.0) -> DataFrame:
    """One-sided CUSUM drift statistic per key (Page 1954):
    standardize the key's value sequence, then fold
    s_i = max(0, s_{i-1} + z_i - k) over (ts, event_id) order; report the
    peak statistic, where it peaked, and how often it crossed `h`.

    The recursion is inherently sequential PER KEY — no window
    frame expresses max(0, running) — so the sequence is collected
    into one array per key (bounded by per-key cardinality, the
    same contract every per-key sessionization holds) and folded by
    a single JVM `aggregate` higher-order function: one groupBy
    exchange, zero Python, state O(1) per element. Standardization
    (mean/std) happens in-array on the same sorted list, so the
    whole operator is one exchange end to end. Keys with < 5 rows
    or zero variance carry no drift signal and are dropped.
    Columns: <key>, n_events, max_cusum (round 6), peak_idx
    (1-based, first peak wins), n_alarms (s > h).
    """
    rows = F.sort_array(F.collect_list(F.struct(
        F.col(ts_col).alias("t"),
        F.col("event_id").alias("tb"),
        F.col(val_col).cast("double").alias("v"))))
    per = (events.groupBy(key_col).agg(rows.alias("rs"))
           .filter(F.size("rs") >= 5)
           .withColumn("n", F.size("rs"))
           .withColumn("mu", F.expr(
               "aggregate(rs, 0.0d, (a, x) -> a + x.v) / n"))
           .withColumn("sd", F.expr(
               "sqrt(aggregate(rs, 0.0d, "
               "(a, x) -> a + (x.v - mu) * (x.v - mu)) / n)"))
           .filter(F.col("sd") > 0))
    # acc: (s = current cusum, m = max so far, pi = argmax index,
    #       i = position, na = alarm count); strict > keeps the
    #       FIRST peak, matching the oracle's min(i)-at-max.
    fold = F.expr(
        f"""aggregate(
              rs,
              struct(0.0d AS s, 0.0d AS m, 0L AS pi, 0L AS i, 0L AS na),
              (a, x) -> struct(
                greatest(0.0d, a.s + (x.v - mu) / sd - {k}d) AS s,
                greatest(a.m,
                         greatest(0.0d, a.s + (x.v - mu) / sd - {k}d)) AS m,
                CASE WHEN greatest(0.0d, a.s + (x.v - mu) / sd - {k}d) > a.m
                     THEN a.i + 1 ELSE a.pi END AS pi,
                a.i + 1 AS i,
                a.na + CASE WHEN greatest(0.0d,
                            a.s + (x.v - mu) / sd - {k}d) > {h}d
                            THEN 1 ELSE 0 END AS na))""")
    return (per.withColumn("f", fold)
            .select(F.col(key_col),
                    F.col("n").cast("long").alias("n_events"),
                    F.round(F.col("f.m"), 6).alias("max_cusum"),
                    F.col("f.pi").alias("peak_idx"),
                    F.col("f.na").alias("n_alarms")))


def ses_level(df: DataFrame, *, key_col: str, bucket_col: str,
              val_col: str, alpha: float = 0.5) -> DataFrame:
    """Simple-exponential-smoothing level (and flat one-step
    forecast) per key over an ordered bucket series — the first-line
    per-entity forecaster (monitoring baselines, demand smoothing).

    The recurrence l_t = α x_t + (1-α) l_{t-1}, l_0 = x_0 has the
    CLOSED FORM l_T = (1-α)^T x_0 + Σ_{t≥1} α (1-α)^{T-t} x_t — a
    per-row weight times the value, so the whole per-key recursion
    is ONE row_number window (for t and T) and ONE aggregation: no
    iterative fold, no per-key collect. Weights underflow to exact
    0.0 for ancient buckets, which is the behavior you want (and
    with α = 0.5 every weight is a power of two, so the oracle's
    pow() agrees bit-for-bit).

    Columns: <key_col>, n_buckets, level (round 6) — level IS the
    flat h-step forecast for SES.
    """
    w = Window.partitionBy(key_col).orderBy(bucket_col)
    t = F.row_number().over(w) - 1
    n = F.count(F.lit(1)).over(Window.partitionBy(key_col))
    coef = F.when(
        t == 0, F.pow(F.lit(1.0 - alpha), n - 1)
    ).otherwise(F.lit(alpha) * F.pow(F.lit(1.0 - alpha), n - 1 - t))
    return (df.select(F.col(key_col), F.col(bucket_col),
                      F.col(val_col).alias("__x"))
            .withColumn("__c", coef)
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_buckets"),
                 F.round(F.sum(F.col("__c") * F.col("__x")), 6)
                 .alias("level")))


#: x-axis origin for trend fits — 2024-01-01 UTC; centering the
#: regressor keeps the normal-equation sums ~1e2-scale so the
#: cross-engine float parity survives the regr_* subtractions
#: (raw epoch seconds ~1.7e9 would cancel catastrophically).
_TREND_EPOCH0 = 1_704_067_200


def linear_trend(events: DataFrame, *, key_col: str = "user_id",
                 ts_col: str = "ts",
                 value_col: str = "value") -> DataFrame:
    """Per-key OLS trend — slope / intercept / R² of value over time
    (hours since 2024-01-01) — the drift-direction monitor behind
    "is this user's / source's metric trending up": one keyed
    aggregation using the regr_* aggregates (JVM-side running sums,
    map-side combined — never a per-key sort or window; the same
    one-pass normal-equation shape at any scale).

    Keys with fewer than 2 points or zero time variance fit no line
    and report nulls (regr_* semantics on both engines).

    Columns: <key_col>, n, slope (value/hour), intercept, r2
    (round 6).
    """
    x = ((F.unix_micros(F.col(ts_col).cast("timestamp")) / 1e6
          - _TREND_EPOCH0) / 3600.0)
    y = F.col(value_col).cast("double")
    base = events.select(F.col(key_col), x.alias("__x"), y.alias("__y"))
    return (base.groupBy(key_col)
            .agg(F.count("*").cast("long").alias("n"),
                 F.round(F.regr_slope("__y", "__x"), 6).alias("slope"),
                 F.round(F.regr_intercept("__y", "__x"), 6)
                 .alias("intercept"),
                 F.round(F.regr_r2("__y", "__x"), 6).alias("r2")))


def diff_in_diff(events: DataFrame, *, unit_col: str = "user_id",
                 ts_col: str = "ts", value_col: str = "value",
                 treat_expr=None) -> DataFrame:
    """Difference-in-differences estimate for a launch at the
    2024-01-15 cutover:
    did = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre),
    the parallel-trends-adjusted effect when randomization happened
    at the UNIT level but exposure started at a point in time.

    `treat_expr` defaults to the deterministic unit-hash arm
    (stable_hash31 % 2 — the same assignment srm_check audits).
    One four-cell aggregation over the scan (group by arm × period,
    map-side combined) and a broadcast pivot of the 4-row frame —
    nothing above cell granularity ever shuffles.

    One row: n_cells plus per-cell means (pre_ctrl, post_ctrl,
    pre_treat, post_treat) and did (round 6).
    """
    from parlerproject_spark.functions.text import stable_hash31
    if treat_expr is None:
        treat_expr = (stable_hash31(F.col(unit_col).cast("string")) % 2
                      ).cast("int")
    post = (F.col(ts_col).cast("timestamp")
            >= F.lit("2024-01-15").cast("timestamp")).cast("int")
    cells = (events
             .select(treat_expr.alias("__t"), post.alias("__p"),
                     F.col(value_col).cast("double").alias("__y"))
             .groupBy("__t", "__p")
             .agg(F.avg("__y").alias("__m"), F.count("*").alias("__n")))
    m = {(t, p): F.max(F.when((F.col("__t") == t) & (F.col("__p") == p),
                              F.col("__m")))
         for t in (0, 1) for p in (0, 1)}
    return (cells.agg(
        F.sum("__n").cast("long").alias("n"),
        F.round(m[(0, 0)], 6).alias("pre_ctrl"),
        F.round(m[(0, 1)], 6).alias("post_ctrl"),
        F.round(m[(1, 0)], 6).alias("pre_treat"),
        F.round(m[(1, 1)], 6).alias("post_treat"),
        F.round((m[(1, 1)] - m[(1, 0)]) - (m[(0, 1)] - m[(0, 0)]), 6)
        .alias("did")))


def theil_sen_trend(events: DataFrame, *, key_col: str = "user_id",
                    ts_col: str = "ts",
                    value_col: str = "value",
                    max_per_key: int | None = None) -> DataFrame:
    """Per-key Theil–Sen robust trend — the median of all pairwise
    slopes (value per hour), with intercept = median(y − slope·x) —
    the outlier-resistant companion to `linear_trend`: one corrupted
    reading drags an OLS slope arbitrarily far, but Theil–Sen
    tolerates ~29% contamination (breakdown point 1−1/√2).

    Scale contract: pair volume is Σ n_k² — quadratic in the PER-KEY
    depth, never in the corpus (per-key history is bounded by the
    retention window by contract, and `max_per_key` hard-caps it).
    The whole estimator is ONE keyed aggregation (r13): each key's
    ≤ max_per_key points collect into an array and the pair slopes,
    slope median, and residual-median intercept are JVM array
    algebra inside that single groupBy — the previous shape
    re-derived the subsample three times (pair self-join → keyed
    median → residual re-join), 3 scans + 3 keyed exchanges for the
    same answer. The explicit lower·0.5 + higher·0.5 interpolation
    reproduces Spark's Percentile(0.5) (= F.median) bit-for-bit, and
    slope (y_j−y_i)/(x_j−x_i) is sign-symmetric under IEEE rounding,
    so unordered array pairs equal the old ordered x_b > x_a join
    set. Pairs with identical timestamps are excluded on BOTH
    engines (no 0-division slope); a key with NO valid pair (one
    event, or every event at one instant) fits no line and produces
    NO output row — absence, not nulls, mirrored by the oracle's
    inner joins.

    The regressor is hours since 2024-01-01 (same centering as
    linear_trend) so cross-engine float parity survives the
    subtractions. Columns: <key_col>, n_pairs, slope, intercept
    (round 6).

    `max_per_key` bounds the Σ n_k² contract under skewed keys: a
    key deeper than the cap is deterministically md5-subsampled to
    `max_per_key` events BEFORE the pair join (rank by
    stable_hash31 of "<key>:<unix_micros>" — INTEGER renderings
    only, so a SQL oracle replays the exact same subsample; double
    columns never enter the hash string because their text forms
    differ across engines), capping any key's pair volume at
    N·(N−1)/2 no matter how hot it is at 100× scale. The estimator
    stays a valid Theil–Sen over a uniform-ish (hash-ordered)
    subsample; keys at or below the cap are untouched
    (equivalence pytest). Ties (same key, same instant) rank by
    value — a double COMPARISON, which is exact on both engines.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    y = F.col(value_col).cast("double")
    base = events.select(F.col(key_col).alias("__k"),
                         us.alias("__us"), y.alias("__y"))
    if max_per_key is not None:
        from pyspark.sql.window import Window

        from parlerproject_spark.functions.text import stable_hash31
        h = stable_hash31(F.concat_ws(
            ":", F.col("__k").cast("string"),
            F.col("__us").cast("string")))
        w = (Window.partitionBy("__k")
             .orderBy(h.asc(), F.col("__us").asc(), F.col("__y").asc()))
        base = (base.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= max_per_key).drop("__rn"))
    base = base.select(
        "__k", "__y",
        ((F.col("__us") / 1e6 - _TREND_EPOCH0) / 3600.0).alias("__x"))
    # ONE keyed aggregation does the whole estimator (r13): the old
    # shape re-derived `base` three times (pair self-join, slope
    # median, residual re-join) — 3 scans + 3 keyed exchanges of the
    # same subsample. With max_per_key capping every key at N points,
    # the per-key point set is an array of ≤ N (x, y) structs, so the
    # pair slopes (≤ N(N−1)/2), their median, and the residual median
    # are all JVM array algebra inside a single map-side-combinable
    # collect_list groupBy. Slope (y_j−y_i)/(x_j−x_i) is sign-
    # symmetric and IEEE division of negated args rounds identically,
    # so unordered index pairs reproduce the old x_b>x_a pair set
    # bit-for-bit; the explicit lower*0.5 + higher*0.5 interpolation
    # below is exactly Spark's Percentile(0.5) (= F.median) formula,
    # and pairs whose slope is NULL (null y) stay in n_pairs but drop
    # from the median, matching F.count/F.median semantics.
    pts = base.groupBy("__k").agg(
        F.collect_list(F.struct("__x", "__y")).alias("__p"))
    # equal-x (and null-x) partners are filtered OUT of the pair set
    # before the slope projection — they must not count in n_pairs,
    # exactly like the old strict x_b > x_a join filter; a null-y
    # slope stays IN the array (counted, median-skipped) like the old
    # count(1)/median pair.
    slopes = F.expr("""
        flatten(transform(__p, (a, i) ->
          transform(filter(slice(__p, i + 2, size(__p) - i - 1),
                           b -> b.__x <> a.__x),
                    b -> (b.__y - a.__y) / (b.__x - a.__x))))""")
    median_of = ("CASE WHEN size({s}) = 0 THEN CAST(NULL AS DOUBLE) "
                 "WHEN size({s}) % 2 = 1 "
                 "THEN element_at({s}, CAST((size({s}) + 1) div 2 AS INT)) "
                 "ELSE element_at({s}, CAST(size({s}) div 2 AS INT)) * 0.5 "
                 "   + element_at({s}, CAST(size({s}) div 2 + 1 AS INT)) * 0.5 "
                 "END")
    return (pts
            .select("__k", "__p", slopes.alias("__sl"))
            .filter(F.expr("size(__sl) > 0"))
            .select("__k", "__p",
                    F.expr("size(__sl)").cast("long").alias("n_pairs"),
                    F.expr("array_sort(filter(__sl, s -> s IS NOT NULL))")
                    .alias("__ss"))
            .select("__k", "__p", "n_pairs",
                    F.expr(median_of.format(s="__ss")).alias("__m"))
            .select("__k", "n_pairs", "__m",
                    F.expr("array_sort(filter(transform(__p, "
                           "q -> q.__y - __m * q.__x), r -> r IS NOT NULL))")
                    .alias("__rs"))
            .select(F.col("__k").alias(key_col),
                    F.col("n_pairs"),
                    F.round("__m", 6).alias("slope"),
                    F.round(F.expr(median_of.format(s="__rs")), 6)
                    .alias("intercept")))


def autocorrelation(events: DataFrame, *, key_col: str = "user_id",
                    ts_col: str = "ts", value_col: str = "value",
                    order_col: str = "event_id") -> DataFrame:
    """Per-key sample autocorrelation function (ACF) at lags
    1..3 — the standard serial-dependence diagnostic: r_k ≈ 0
    means the series is white noise around its mean (metrics safe to
    treat i.i.d.), r_1 near 1 flags strong persistence (sessions,
    ramps), alternating-sign r_k flags oscillation. r_k uses the
    standard full-variance denominator
    r_k = Σ_{t>k} x̃_t·x̃_{t−k} / Σ_t x̃_t², x̃ = x − x̄_key,
    so |r_k| ≤ 1 and lags are comparable.

    Plan: ONE scan; the per-key mean rides a keyed full-frame window
    (no join-back), each lag is one `lag` over the same keyed sort,
    and the sums are one map-side-combined groupBy — every shuffle
    is keyed on <key_col>, partitions are key-history-sized (the
    same retention-bounded contract as the other per-key timeseries
    operators). Ordering ties break on <order_col> so both engines
    walk the series identically. Keys with zero variance (constant
    series) have no defined ACF and emit NULL r_k (try_divide), not
    a division error.

    Columns: <key_col>, n, r1, r2, r3 (round 6).
    """
    kc = F.col(key_col)
    w = (Window.partitionBy(key_col)
         .orderBy(F.col(ts_col).asc(), F.col(order_col).asc()))
    xbar = F.avg(F.col(value_col).cast("double")).over(
        Window.partitionBy(key_col))
    base = events.select(kc, F.col(ts_col), F.col(order_col),
                         (F.col(value_col).cast("double") - xbar)
                         .alias("__xc"))
    lags = base.select(
        key_col, "__xc",
        *[F.lag("__xc", k).over(w).alias(f"__l{k}")
          for k in range(1, 4)])
    aggs = [F.count("*").cast("long").alias("n"),
            F.sum(F.col("__xc") * F.col("__xc")).alias("__den")]
    for k in range(1, 4):
        aggs.append(F.sum(F.col("__xc") * F.col(f"__l{k}"))
                    .alias(f"__num{k}"))
    out = lags.groupBy(key_col).agg(*aggs)
    return out.select(
        key_col, "n",
        *[F.round(F.try_divide(F.col(f"__num{k}"), F.col("__den")), 6)
          .alias(f"r{k}") for k in range(1, 4)])


def seasonal_decompose(events: DataFrame, *, time_col: str = "ts",
                       value_col: str = "value") -> DataFrame:
    """Additive seasonal decomposition of the DAILY total series
    (round 13 — the classical moving-average decomposition every
    monitoring stack runs before alerting): total_t = trend_t
    (centered 7-day moving average)
    + seasonal_{dow(t)} (mean detrended value per day-of-week slot)
    + residual_t, with |residual| > 2 · stddev_pop(residual)
    flagged. Decomposing before thresholding is what separates "it's
    Saturday" from a real incident — raw-total alerts fire every
    weekend.

    Scale shape: the corpus collapses to the bounded per-day table
    in ONE map-side-combined aggregation; every window after that
    runs over days (calendar-bounded — a year is 365 rows), so the
    unpartitioned windows are bounded by construction, never
    corpus-sized. Edge days average over their available neighbors
    (both engines' ROWS BETWEEN frames agree on partial windows).

    Columns: period (yyyy-MM-dd string), dow (1=Sun..7=Sat,
    Spark dayofweek), total, trend, seasonal, residual (round 6),
    is_anomaly (boolean on the ROUNDED residual so engines agree
    at the boundary).
    """
    daily = (events.select(
                 F.date_format(F.col(time_col), "yyyy-MM-dd")
                 .alias("period"),
                 F.dayofweek(F.col(time_col)).alias("dow"),
                 F.col(value_col).cast("double").alias("v"))
             .groupBy("period", "dow")
             .agg(F.round(F.sum("v"), 6).alias("total")))
    w_ma = (Window.orderBy("period")
            .rowsBetween(-3, 3))
    with_trend = daily.withColumn(
        "trend", F.round(F.avg("total").over(w_ma), 6))
    detr = with_trend.withColumn(
        "dt", F.col("total") - F.col("trend"))
    w_dow = Window.partitionBy("dow")
    seas = detr.withColumn(
        "seasonal", F.round(F.avg("dt").over(w_dow), 6))
    resid = seas.withColumn(
        "residual", F.round(F.col("dt") - F.col("seasonal"), 6))
    w_all = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    sd = F.stddev_pop("residual").over(w_all)
    return (resid.withColumn(
                "is_anomaly",
                F.abs(F.col("residual")) > F.round(
                    F.lit(2.0) * sd, 6))
            .select("period", "dow", "total", "trend", "seasonal",
                    "residual", "is_anomaly"))
