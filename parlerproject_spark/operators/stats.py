"""JVM-native per-group robust statistics.

The default implementation of per-group median/MAD z-scores. The
grouped-map applyInPandas twin (functions/py_udfs.robust_zscores)
stays as the documented custom-operator escape hatch, but it
materializes each group as one pandas frame — a heavy-hitter key OOMs
a worker at scale. This form is pure Column algebra over window
aggregates: Spark's sort-based window spills to disk, so a hot key
degrades to spilled sort, never to OOM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def robust_zscores_native(df: DataFrame, *, key_col: str = "user_id",
                          val_col: str = "value",
                          id_col: str = "event_id") -> DataFrame:
    """Per-group robust z-score ((x - median) / MAD) as two window
    aggregates over ONE exchange.

    Both windows partition by `key_col` with no ordering, so the
    second reuses the first's hash partitioning — the physical plan
    has a single Exchange followed by two Window operators. Compare
    the applyInPandas twin: same one shuffle, but whole-group
    materialization in a Python worker.

    Median is Spark's exact interpolated percentile — the same
    definition as numpy / DuckDB quantile_cont, so all three agree
    bit-for-bit after round(, 6). Null semantics follow SQL: nulls
    are ignored by the medians, a null value yields a null z when
    MAD > 0, and a group with MAD = 0 or NULL (constant or all-null)
    emits z = 0.0 for every row. Columns: <key_col>, <id_col>, z.
    """
    w = Window.partitionBy(key_col)
    staged = df.select(
        key_col, id_col, F.col(val_col).alias("__v"),
        F.median(val_col).over(w).alias("__med"))
    staged = staged.withColumn(
        "__mad", F.median(F.abs(F.col("__v") - F.col("__med"))).over(w))
    z = (F.when(F.col("__mad") > 0,
                F.round((F.col("__v") - F.col("__med")) / F.col("__mad"), 6))
         .otherwise(F.lit(0.0)))
    return staged.select(key_col, id_col, z.alias("z"))


def psi_drift(ref: DataFrame, cur: DataFrame, *, key_col: str,
              val_col: str, bins: int = 10) -> DataFrame:
    """Population Stability Index between a reference snapshot and a
    current snapshot of a numeric column, per key — the standing
    drift monitor every production corpus/feature pipeline runs
    (PSI < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 action).

    Bins are FIXED-WIDTH over the reference's [min, max] per key
    (not percentile-interpolated: equal-width edges are exact IEEE
    arithmetic both engines reproduce bit-for-bit, where engine
    percentile interpolation can differ in ulps and flip a boundary
    value's bin). Values outside the reference range clamp into the
    edge bins — new mass beyond the observed range lands in bin 0 or
    bins-1, which is exactly the shift PSI should flag. Proportions
    are smoothed ((c + 0.5) / (n + bins/2)) so an empty bin never
    produces ln(0).

    Plan shape: one aggregation per side for the reference edges
    (key-count rows, broadcast back), one binning aggregation per
    side (map-side combined), one key-bin join of two bounded
    partial tables, one final per-key aggregation. The raw tables
    stream; nothing corpus-sized is ever collected or windowed.

    Columns: <key_col>, psi (round 6), n_ref, n_cur.
    """
    edges = (ref.groupBy(key_col)
             .agg(F.min(val_col).cast("double").alias("__mn"),
                  F.max(val_col).cast("double").alias("__mx")))

    def binned(df: DataFrame, tag: str) -> DataFrame:
        w = (F.col("__mx") - F.col("__mn")) / F.lit(float(bins))
        raw = F.when(F.col("__mx") == F.col("__mn"), F.lit(0)).otherwise(
            F.floor((F.col(val_col).cast("double") - F.col("__mn")) / w))
        b = F.least(F.greatest(raw, F.lit(0)),
                    F.lit(bins - 1)).cast("int").alias("bin")
        return (df.join(F.broadcast(edges), key_col)
                .select(key_col, b)
                .groupBy(key_col, "bin")
                .agg(F.count(F.lit(1)).alias(f"c_{tag}")))

    r = binned(ref, "ref")
    c = binned(cur, "cur")
    # full outer on (key, bin): a bin empty on one side still
    # contributes its smoothed term
    j = (r.join(c, [key_col, "bin"], "full_outer")
         .select(key_col,
                 F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
                 F.coalesce("c_cur", F.lit(0)).alias("c_cur")))
    totals = Window.partitionBy(key_col)
    p_ref = ((F.col("c_ref") + 0.5)
             / (F.sum("c_ref").over(totals) + 0.5 * bins))
    p_cur = ((F.col("c_cur") + 0.5)
             / (F.sum("c_cur").over(totals) + 0.5 * bins))
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return (j.select(key_col, term.alias("__t"), "c_ref", "c_cur")
            .groupBy(key_col)
            .agg(F.round(F.sum("__t"), 6).alias("psi"),
                 F.sum("c_ref").cast("long").alias("n_ref"),
                 F.sum("c_cur").cast("long").alias("n_cur")))


def psi_timeline(ref: DataFrame, cur: DataFrame, *, time_col: str,
                 val_col: str, bins: int = 10) -> DataFrame:
    """Per-period PSI TIMELINE against one fixed reference window
    (round 13) — psi_drift answers "has the distribution moved
    between two snapshots"; production monitoring wants the curve:
    one PSI value per day (yyyy-MM-dd) of the current stream vs the
    frozen reference, so a drift ONSET is datable and a transient
    ingest glitch distinguishable from a sustained shift.

    Same binning contract as psi_drift (fixed-width over the
    reference [min, max] — exact IEEE edge arithmetic both engines
    reproduce; out-of-range mass clamps to edge bins; Laplace
    0.5-smoothed proportions so empty bins never ln(0)).

    Shape: the reference collapses to ONE bins-row histogram
    (edges pass + hist pass, both map-side combined, broadcast
    onward); the current stream is ONE (period, bin) aggregation.
    The period×bins grid is built from the aggregated day table
    itself (bounded: days × bins rows) cross-joined with the
    broadcast reference histogram, so every smoothed term exists
    even for bins a day never hit. No corpus-sized join or window
    anywhere; cost at 100 TB = two reference passes + one stream
    pass + bounded-table algebra.

    Columns: period, n_events, psi (round 6).
    """
    # the two reduction artifacts (1-row edges, bins-row reference
    # histogram) persist, as the histogram evaluation._rank_sum feeds
    # to `_bucketed_prefix_sum` does, so their three consumers read
    # one materialization each instead of re-running the reference
    # scans per subtree (was 5 static source scans)
    edges = ref.agg(F.min(val_col).cast("double").alias("__mn"),
                    F.max(val_col).cast("double").alias("__mx")).persist()
    w = (F.col("__mx") - F.col("__mn")) / F.lit(float(bins))
    raw = F.when(F.col("__mx") == F.col("__mn"), F.lit(0)).otherwise(
        F.floor((F.col(val_col).cast("double") - F.col("__mn")) / w))
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)) \
        .cast("int").alias("bin")
    rhist = (ref.crossJoin(F.broadcast(edges))
             .select(b)
             .groupBy("bin").agg(F.count(F.lit(1)).alias("c_ref")))
    chist = (cur.crossJoin(F.broadcast(edges))
             .select(F.date_format(F.col(time_col), "yyyy-MM-dd")
                     .alias("period"), b)
             .groupBy("period", "bin")
             .agg(F.count(F.lit(1)).alias("c_cur")))
    periods = chist.groupBy("period").agg(
        F.sum("c_cur").alias("n_events"))
    # full 0..bins-1 universe off the one-row edges frame: a bin
    # with zero REFERENCE mass but current mass must still
    # contribute its (smoothed) term
    allbins = (edges.select(F.explode(
                   F.sequence(F.lit(0), F.lit(bins - 1))).alias("bin"))
               .join(rhist, "bin", "left")
               .select("bin", F.coalesce("c_ref", F.lit(0)).alias("c_ref"))
               .persist())
    grid = (periods.crossJoin(F.broadcast(allbins))
            .join(chist, ["period", "bin"], "left")
            .select("period", "n_events", "bin", "c_ref",
                    F.coalesce("c_cur", F.lit(0)).alias("c_cur")))
    n_ref = F.sum("c_ref").over(Window.partitionBy("period"))
    p_ref = (F.col("c_ref") + 0.5) / (n_ref + 0.5 * bins)
    p_cur = (F.col("c_cur") + 0.5) / (F.col("n_events") + 0.5 * bins)
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return (grid.select("period", "n_events", term.alias("__t"))
            .groupBy("period")
            .agg(F.max("n_events").cast("long").alias("n_events"),
                 F.round(F.sum("__t"), 6).alias("psi"))
            .select("period", "n_events", "psi"))


def _cumulative_counts(ref: DataFrame, cur: DataFrame, key_col: str,
                       value: Column) -> DataFrame:
    """Per-(key, value) two-sample counts with running and total
    counts — the one frame behind ks_drift and wasserstein_drift.

    Shape: tag-and-union the two sides (zero shuffle), ONE keyed
    aggregation to per-(key, value) counts, then cumulative sums and
    per-key totals as windows over the same key partitioning — the
    value ordering is a per-key sort inside the one exchange, never a
    global sort. Keys present in only one snapshot are dropped: both
    statistics are undefined there (and would divide by zero under
    ANSI arithmetic otherwise).
    Columns: <key_col>, __v (= `value`), c_ref, c_cur, cum_r, cum_c,
    n_r, n_c.
    """
    def tag(side: DataFrame, r: int) -> DataFrame:
        return side.select(F.col(key_col), value.alias("__v"),
                           F.lit(r).alias("__r"), F.lit(1 - r).alias("__c"))

    g = (tag(ref, 1).unionByName(tag(cur, 0))
         .groupBy(key_col, "__v")
         .agg(F.sum("__r").alias("c_ref"), F.sum("__c").alias("c_cur")))
    byk = Window.partitionBy(key_col)
    w = byk.orderBy("__v").rowsBetween(Window.unboundedPreceding,
                                       Window.currentRow)
    return (g.withColumn("cum_r", F.sum("c_ref").over(w))
            .withColumn("cum_c", F.sum("c_cur").over(w))
            .withColumn("n_r", F.sum("c_ref").over(byk))
            .withColumn("n_c", F.sum("c_cur").over(byk))
            .filter((F.col("n_r") > 0) & (F.col("n_c") > 0)))


#: Ordered range buckets per key group of `_bucketed_prefix_sum`.
RANK_BUCKETS = 1024


def _value_bounds(s: Column) -> list[Column]:
    """min/max aggregates of `s` over its non-NaN values (__lo, __hi):
    Spark's max() ranks NaN above every double, so one NaN would make
    the span NaN."""
    fin = F.when(~F.isnan(s), s)
    return [F.min(fin).alias("__lo"), F.max(fin).alias("__hi")]


def _range_bucket(s: Column, lo: Column, hi: Column) -> Column:
    """Ordered bucket of `s` in [0, RANK_BUCKETS) given its group's
    `_value_bounds`: floor((s − lo)/(hi − lo)·B) is IEEE-monotone, so
    bucket order follows value order and equal values share a bucket.
    NaN goes to the top bucket, and so does NULL when the span is
    positive; the in-bucket order places them. The other values of a
    zero-span group share bucket 0."""
    span = hi - lo
    top = F.lit(RANK_BUCKETS - 1)
    return (F.when(F.isnan(s), top)
            .when(span > 0, F.least(F.floor((s - lo) / span * RANK_BUCKETS),
                                    top))
            .otherwise(F.lit(0)).cast("long"))


def _bucketed_prefix_sum(rows: DataFrame, *, keys: list[str],
                         buckets: list[str], order: list,
                         weight: Column) -> DataFrame:
    """`rows` plus `__before`: Σ `weight` over every row of the same
    `keys` group that precedes this one in (buckets, order) order —
    the one exact-rank kernel (AUC / Mann-Whitney rank sums, quantile
    bands and matching, curriculum positions), never a global sort.

    Two levels: the per-(keys, buckets) weight totals are one
    map-side-combined aggregation, and their running sum over a
    `partitionBy(keys)` window ordered by the buckets is each bucket's
    offset — a window over at most groups × buckets rows, joined back
    on (keys, buckets) with no hint, so adaptive execution picks the
    broadcast side from the real sizes. Inside a bucket the running
    sum is a `partitionBy(keys, buckets)` window in `order`, so no
    partition holds more than one bucket of one group. Weights are
    integers, so the sums are exact.
    """
    before = Window.unboundedPreceding, -1
    totals = (rows.groupBy(*keys, *buckets)
              .agg(F.sum(weight).alias("__bw")))
    w_off = Window.partitionBy(*keys).orderBy(*buckets).rowsBetween(*before)
    offsets = totals.select(
        *keys, *buckets,
        F.coalesce(F.sum("__bw").over(w_off), F.lit(0)).alias("__off"))
    w_in = (Window.partitionBy(*keys, *buckets).orderBy(*order)
            .rowsBetween(*before))
    inner = F.coalesce(F.sum(weight).over(w_in), F.lit(0))
    return (rows.join(offsets, [*keys, *buckets])
            .withColumn("__before", F.col("__off") + inner)
            .drop("__off"))


def _top_k(df: DataFrame, order: list[Column], k: int) -> DataFrame:
    """The first `k` rows of `df` in `order`, numbered 1..k in `rank`
    (long): the cut is TakeOrderedAndProject, never a global sort, and
    the numbering window runs over the ≤ k cut rows only."""
    return (df.orderBy(*order).limit(k)
            .withColumn("rank",
                        F.row_number().over(Window.orderBy(*order))
                        .cast("long")))


def ks_drift(ref: DataFrame, cur: DataFrame, *, key_col: str,
             val_col: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic per key — the BINLESS
    companion of psi_drift: D = max over pooled values of
    |F_ref(x) - F_cur(x)| with right-continuous empirical CDFs.
    PSI sees shifts through a fixed binning; KS catches any CDF
    separation (location, scale, shape) without choosing bins.

    Shape: `_cumulative_counts`, then one keyed max. All arithmetic
    is integer counts divided once at the end, so both engines agree
    bit-for-bit before the final round.

    Columns: <key_col>, ks (round 6), n_ref, n_cur.
    """
    d = F.abs(F.col("cum_r") / F.col("n_r")
              - F.col("cum_c") / F.col("n_c"))
    return (_cumulative_counts(ref, cur, key_col, F.col(val_col))
            .groupBy(key_col)
            .agg(F.round(F.max(d), 6).alias("ks"),
                 F.max("n_r").cast("long").alias("n_ref"),
                 F.max("n_c").cast("long").alias("n_cur")))


#: Poisson(1) CDF thresholds c_k = P(X <= k), k = 0..8 — literal
#: constants (11 dp) so Spark and the SQL oracle compare IDENTICAL
#: doubles; a replica weight is the smallest k with u < c_k (k = 9
#: beyond the table, P ~ 1e-7).
POISSON1_CDF = (0.36787944117, 0.73575888234, 0.91969860293,
                0.98101184313, 0.99634015317, 0.99940581518,
                0.99991675944, 0.99998974847, 0.99999886011)


def bootstrap_ci(df: DataFrame, *, key_col: str, val_col: str,
                 id_col: str, n_replicas: int = 200) -> DataFrame:
    """Percentile-bootstrap confidence interval for the per-key MEAN
    via the POISSON bootstrap (Chamandy et al., Google 2012) — the
    bootstrap that distributes: classical resampling needs n draws
    from a global index (a shuffle per replica); Poisson(1) weights
    are i.i.d. PER ROW, so all `n_replicas` replicas materialize in
    ONE explode over the row stream and aggregate with map-side
    combine. Weights are deterministic (md5('boot-v1':replica:id) →
    uniform → inverse CDF over literal constants), so the whole
    estimator is engine-reproducible and the oracle replays it.

    The CI is ORDER-STATISTIC based (2.5th/97.5th percentile as the
    ceil(0.025 B) / ceil(0.975 B) smallest replica means, ties by
    replica id) — no interpolation, no engine drift. The final
    window runs over n_replicas rows per key, never over data.
    Replicas whose weights sum to zero are skipped (they carry no
    sample), and B is the per-key SURVIVING replica count, not the
    nominal n_replicas — ranking against the nominal count would
    leave the 97.5th-rank row nonexistent for small keys where
    replicas die, silently collapsing ci_hi onto ci_lo (r5 advice).
    Rank arithmetic is integer ((p·B + 999) div 1000), never
    float·0.025, so ceil never drifts across engines.

    Columns: <key_col>, mean_obs, ci_lo, ci_hi (round 6).
    """
    reps = F.explode(F.sequence(F.lit(0), F.lit(n_replicas - 1))).alias("r")
    u = (F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.lit("boot-v1"), F.col("r"), F.col(id_col))), 1, 8), 16, 10)
        .cast("bigint") / F.lit(float(2 ** 32)))
    w = F.lit(9)
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    # spread BEFORE the 200x explode: the replica blow-up happens
    # inside whatever parallelism the scan arrived with (a handful
    # of parquet splits at test scale), so without a repartition a
    # few tasks carry the entire n x B stream (measured 40 s vs ~4 s
    # at sf0.1). No-op cost at cluster scale where splits are plentiful.
    from parlerproject_spark.operators.layout import spread_input
    weighted = (spread_input(df.select(F.col(key_col), F.col(val_col),
                                       F.col(id_col)))
                .select(key_col, val_col, id_col, reps)
                .withColumn("w", w))
    means = (weighted.groupBy(key_col, "r")
             .agg(F.sum(F.col("w") * F.col(val_col)).alias("sv"),
                  F.sum("w").alias("sw"))
             .filter(F.col("sw") > 0)
             .select(key_col, "r", (F.col("sv") / F.col("sw"))
                     .alias("m")))
    byk = Window.partitionBy(key_col)
    rn = F.row_number().over(byk.orderBy(F.col("m").asc(),
                                         F.col("r").asc()))
    surv = F.count(F.lit(1)).over(byk)   # surviving replicas per key
    lo_rank = F.floor((F.lit(25) * F.col("surv") + 999) / 1000)
    hi_rank = F.floor((F.lit(975) * F.col("surv") + 999) / 1000)
    picks = (means.withColumn("rn", rn).withColumn("surv", surv)
             .filter((F.col("rn") == lo_rank) | (F.col("rn") == hi_rank))
             .groupBy(key_col)
             .agg(F.round(F.min("m"), 6).alias("ci_lo"),
                  F.round(F.max("m"), 6).alias("ci_hi")))
    obs = (df.groupBy(key_col)
           .agg(F.round(F.avg(val_col), 6).alias("mean_obs")))
    return obs.join(picks, key_col)


def trimmed_mean(df: DataFrame, *, key_col: str, val_col: str,
                 trim: float = 0.05) -> DataFrame:
    """Symmetric trimmed mean per key — the robust location estimate
    a metrics pipeline reports when raw means are outlier-poisoned:
    drop the floor(trim * n) smallest and largest observations
    (RANK-based, ties broken by value order within the key — no
    percentile interpolation, so both engines agree exactly), then
    average the rest.

    One per-key window for ranks + one aggregation; the window is a
    keyed sort inside a single exchange (spill-safe), never a global
    sort. n <= 2*floor(trim*n) cannot happen for trim < 0.5, so the
    kept set is never empty.

    Columns: <key_col>, n_used, n_trimmed_each, tmean (round 6).
    """
    byk = Window.partitionBy(key_col)
    rn = F.row_number().over(byk.orderBy(F.col("__v").asc()))
    n = F.count(F.lit(1)).over(byk)
    k = F.floor(n * F.lit(trim))
    kept = (df.select(F.col(key_col), F.col(val_col).alias("__v"))
            .withColumn("__rn", rn).withColumn("__n", n)
            .withColumn("__k", k)
            .filter((F.col("__rn") > F.col("__k"))
                    & (F.col("__rn") <= F.col("__n") - F.col("__k"))))
    return (kept.groupBy(key_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_used"),
                 F.max("__k").cast("long").alias("n_trimmed_each"),
                 F.round(F.avg("__v"), 6).alias("tmean")))


def wasserstein_drift(ref: DataFrame, cur: DataFrame, *, key_col: str,
                      val_col: str) -> DataFrame:
    """Two-sample 1-D Wasserstein-1 distance per key (round 13) —
    the MAGNITUDE-aware companion of ks_drift: W1 = ∫|F_ref − F_cur|
    = Σ over sorted pooled distinct values of |ΔCDF| · (next_v − v).
    KS answers "did the distribution move" (sup norm, unitless);
    W1 answers "by how much, in the value's own units" — a 0.01-unit
    jitter and a 10-unit shift can share a KS yet differ 1000× in
    W1, which is what a paging threshold should be set on.

    Shape: `_cumulative_counts` (as ks_drift) plus a lead() over the
    same key exchange and value ordering for the value gap. Columns:
    <key_col>, w1 (round 6), n_ref, n_cur.
    """
    gap = (F.lead("__v").over(Window.partitionBy(key_col).orderBy("__v"))
           - F.col("__v"))
    both = (_cumulative_counts(ref, cur, key_col,
                               F.col(val_col).cast("double"))
            .withColumn("gap", gap)
            .filter(F.col("gap").isNotNull()))
    term = (F.abs(F.col("cum_r") / F.col("n_r")
                  - F.col("cum_c") / F.col("n_c")) * F.col("gap"))
    return (both.groupBy(key_col)
            .agg(F.round(F.sum(term), 6).alias("w1"),
                 F.max("n_r").cast("long").alias("n_ref"),
                 F.max("n_c").cast("long").alias("n_cur")))
