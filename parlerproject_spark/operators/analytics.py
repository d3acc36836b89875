"""Behavioral analytics operators: funnels, cohorts, rolling features.

The product-analytics trio every event-stream warehouse ships
(Amplitude/Mixpanel-style), expressed as single-exchange relational
algebra over the events table:

- funnel: ordered step matching — a user converts step i only with
  an event of type i strictly AFTER their step-(i-1) conversion.
  One sorted collect per user, one in-array fold (JVM higher-order
  function over a per-user array, bounded by that user's event
  count) — no per-step self-joins, which is how naive funnel SQL
  goes quadratic in steps.
- cohort retention: users bucketed by first-activity period ×
  activity in later periods → the retention triangle. Two keyed
  aggregations, no windows.
- rolling features: per-key trailing-window statistics + lags (the
  feature matrix a forecasting model trains on) — RANGE frames over
  one (key, ts) exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from parlerproject_spark.caching import literal


def funnel(events: DataFrame, steps: list[str], *,
           user_col: str = "user_id", ts_col: str = "ts",
           type_col: str = "event_type") -> DataFrame:
    """Per-user funnel depth: the longest prefix of `steps` matched
    by strictly-increasing timestamps. Ties at the same instant do
    NOT advance the funnel (strict >), so replayed/batched events
    can't fake a conversion. Columns: <user_col>, depth (0..len),
    converted (depth == len).

    Shape: filter to funnel event types (pushed to the scan), one
    groupBy(user) with a sorted collect of (ts, step_idx) structs —
    per-group memory bounded by that user's funnel events — then a
    pure in-array fold: state = funnel depth + timestamp of the
    last conversion; each event advances depth iff it is the next
    step and strictly later."""
    idx = F.array_position(literal(steps, "array<string>"),
                           F.col(type_col))
    ev = (events.filter(F.col(type_col).isin(steps))
          .select(F.col(user_col),
                  F.struct(F.col(ts_col).alias("ts"),
                           (idx - 1).cast("int").alias("step"))
                  .alias("e")))
    per_user = ev.groupBy(user_col).agg(
        F.sort_array(F.collect_list("e")).alias("es"))
    # fold state: struct(depth int, last_ts timestamp-as-long)
    zero = F.struct(F.lit(0).alias("d"),
                    F.lit(None).cast("timestamp").alias("t"))
    step_fold = F.aggregate(
        "es", zero,
        lambda acc, e: F.when(
            (e["step"] == acc["d"])
            & (acc["t"].isNull() | (e["ts"] > acc["t"])),
            F.struct((acc["d"] + 1).alias("d"), e["ts"].alias("t"))
        ).otherwise(acc))
    out = per_user.select(
        user_col, step_fold.getField("d").alias("depth"))
    return out.withColumn("converted", F.col("depth") == len(steps))


def cohort_retention(events: DataFrame, *, user_col: str = "user_id",
                     ts_col: str = "ts",
                     period: str = "week") -> DataFrame:
    """Retention triangle: cohort = each user's first active period;
    for every later period offset, how many of that cohort were
    active. Columns: cohort (date), offset (periods since cohort,
    ≥ 0), n_users. offset 0 row = cohort size by construction."""
    trunc = F.date_trunc(period, F.col(ts_col)).cast("date")
    active = events.select(F.col(user_col).alias("u"),
                           trunc.alias("p")).distinct()
    first = active.groupBy("u").agg(F.min("p").alias("cohort"))
    per_unit = {"week": 7, "day": 1}[period]
    return (active.join(first, "u")
            .select("cohort",
                    (F.datediff("p", "cohort") / per_unit)
                    .cast("long").alias("offset"))
            .groupBy("cohort", "offset")
            .agg(F.count(F.lit(1)).alias("n_users")))


def rolling_features(events: DataFrame, *, key_col: str = "user_id",
                     ts_col: str = "ts", val_col: str = "value",
                     days: int = 7, n_lags: int = 2) -> DataFrame:
    """Per-event trailing feature vector: count/sum/min/max of
    `val_col` over the trailing `days` window (RANGE frame on the
    event-time long, inclusive of the current row) plus the previous
    `n_lags` values — one (key, ts) exchange serves every frame.
    The windowed statistic is the SUM, not the mean: the input's
    2-decimal values make every true window sum an exact multiple of
    0.01, so round(sum, 4) can never sit on a rounding boundary —
    a mean divides by n and CAN land exactly on .00005, where
    engine-dependent float summation order decides the side (hit in
    practice at sf0.01). Consumers derive the mean as roll_sum /
    roll_n. Columns: <key_col>, <ts_col>, roll_n, roll_sum,
    roll_min, roll_max, lag_1..lag_<n_lags>."""
    sec = F.unix_timestamp(F.col(ts_col).cast("timestamp"))
    base = events.select(key_col, ts_col,
                         F.col(val_col).cast("double").alias("v"),
                         sec.alias("sec"))
    wr = (Window.partitionBy(key_col).orderBy("sec")
          .rangeBetween(-days * 86400, 0))
    wl = Window.partitionBy(key_col).orderBy("sec", "v")
    out = (base
           .withColumn("roll_n", F.count(F.lit(1)).over(wr))
           .withColumn("roll_sum", F.round(F.sum("v").over(wr), 4))
           .withColumn("roll_min", F.min("v").over(wr))
           .withColumn("roll_max", F.max("v").over(wr)))
    for i in range(1, n_lags + 1):
        out = out.withColumn(f"lag_{i}", F.lag("v", i).over(wl))
    return out.drop("v", "sec")


def markov_transitions(events: DataFrame, *,
                       key_col: str = "user_id",
                       state_col: str = "event_type",
                       ts_col: str = "ts",
                       id_col: str = "event_id") -> DataFrame:
    """First-order Markov transition matrix over per-key state
    sequences: P(next_state | state), estimated from consecutive
    event pairs within each key's (ts, id)-ordered stream.

    The behavioral-model building block (next-action prediction,
    anomalous-session scoring): one lag window per key — partitions
    bounded by per-user event counts — then ONE aggregation over the
    |states|² transition space, which is tiny regardless of corpus
    size, so the row-probability window costs nothing. Ordering by
    (ts, id) is a total order → deterministic, oracle-replayable.

    Columns: cur, nxt, n, p (round 6).
    """
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).asc(),
                                            F.col(id_col).asc())
    trans = (events
             .select(F.col(key_col), F.col(ts_col), F.col(id_col),
                     F.col(state_col).alias("nxt"))
             .withColumn("cur", F.lag("nxt").over(w))
             .filter(F.col("cur").isNotNull()))
    counts = trans.groupBy("cur", "nxt").agg(F.count("*").alias("n"))
    wrow = Window.partitionBy("cur")
    return counts.select(
        "cur", "nxt", F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.sum("n").over(wrow), 6).alias("p"))


def item_cooccurrence_similarity(events: DataFrame, *,
                                 user_col: str = "user_id",
                                 item_expr: str = "$.k",
                                 max_items_per_user: int = 20,
                                 top_k: int = 5) -> DataFrame:
    """Item-to-item collaborative filtering: cosine similarity
    between items' user-interaction vectors, top-k neighbors per
    item ("users who touched X also touched Y" — the Amazon
    item-item CF shape).

    Ratings are per-(user, item) interaction counts parsed from the
    props JSON. Scale levers, in order:

    1. **hyperactive-user cap** — each user contributes only their
       `max_items_per_user` most-interacted items (count desc, item
       asc tie-break). A bot user touching 1M items would otherwise
       emit 10¹² co-occurrence pairs from one row; with the cap each
       user emits ≤ cap² pairs, so candidate volume is linear in
       users. This is the standard CF preprocessing step, and the
       oracle applies the identical cap so results match exactly.
    2. co-pairs are generated per-user from the capped item set (a
       self-join on user over ≤cap-row groups), partial-aggregated
       map-side into (i, j) dot products.
    3. item norms ride a keyed join (corpus-scale model table — NOT
       broadcast at 100 TB); top-k per item is one bounded window.

    Columns: item_a, item_b, sim (round 6), rk.
    """
    rated = (events
             .select(F.col(user_col).alias("u"),
                     F.expr(f"try_cast(get_json_object(props, '{item_expr}') "
                            "AS bigint)").alias("item"))
             .filter(F.col("item").isNotNull())
             .groupBy("u", "item").agg(F.count("*").alias("r")))
    wu = Window.partitionBy("u").orderBy(F.col("r").desc(),
                                         F.col("item").asc())
    capped = (rated.withColumn("rk", F.row_number().over(wu))
              .filter(F.col("rk") <= max_items_per_user)
              .drop("rk"))
    norms = (capped.groupBy("item")
             .agg(F.sqrt(F.sum(F.col("r") * F.col("r"))).alias("nrm")))
    a = capped.select("u", F.col("item").alias("item_a"),
                      F.col("r").alias("ra"))
    b = capped.select("u", F.col("item").alias("item_b"),
                      F.col("r").alias("rb"))
    dots = (a.join(b, "u")
            .filter(F.col("item_a") != F.col("item_b"))
            .groupBy("item_a", "item_b")
            .agg(F.sum(F.col("ra") * F.col("rb")).alias("dot")))
    sims = (dots
            .join(norms.select(F.col("item").alias("item_a"),
                               F.col("nrm").alias("na")), "item_a")
            .join(norms.select(F.col("item").alias("item_b"),
                               F.col("nrm").alias("nb")), "item_b")
            .select("item_a", "item_b",
                    F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
                    .alias("sim")))
    wk = Window.partitionBy("item_a").orderBy(F.col("sim").desc(),
                                              F.col("item_b").asc())
    return (sims.withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") <= top_k)
            .select("item_a", "item_b", "sim",
                    F.col("rk").cast("int").alias("rk")))


def touch_attribution(events: DataFrame, *, user_col: str = "user_id",
                      ts_col: str = "ts", type_col: str = "event_type",
                      id_col: str = "event_id",
                      value_col: str = "value") -> DataFrame:
    """First/last-touch conversion attribution: every 'purchase'
    (conversion) event's value is credited to the first and to the
    most recent PRECEDING non-conversion event type (the "channel")
    of the same user — the attribution report every growth pipeline
    derives from its event stream.

    Shape: one (user, ts, id)-ordered window carries the running
    first/last non-conversion channel to each row (first/last with
    ignoreNulls over rows-between unbounded-preceding .. -1, so the
    conversion's own row never attributes to itself and ordering is
    fully deterministic under ts ties via the id tiebreak); then the
    conversions stack their two credit rows (model = 'first'/'last')
    and one aggregation rolls up count + value per (model, channel).
    Cost at any scale: the one user-keyed exchange every per-user
    metric pays + a channel-keyed rollup over conversions only.
    Conversions with no preceding touch credit '(none)'.
    Columns: model, channel, n_conv, total_value (round 4).
    """
    w = (Window.partitionBy(user_col)
         .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    ch = F.when(F.col(type_col) != "purchase", F.col(type_col))
    touched = (events
               .withColumn("__first_ch", F.first(ch, ignorenulls=True).over(w))
               .withColumn("__last_ch", F.last(ch, ignorenulls=True).over(w))
               .filter(F.col(type_col) == "purchase"))
    stacked = touched.select(
        F.explode(F.array(
            F.struct(F.lit("first").alias("model"),
                     F.coalesce("__first_ch", F.lit("(none)"))
                     .alias("channel")),
            F.struct(F.lit("last").alias("model"),
                     F.coalesce("__last_ch", F.lit("(none)"))
                     .alias("channel")))).alias("m"),
        F.col(value_col))
    return (stacked.groupBy(F.col("m.model").alias("model"),
                            F.col("m.channel").alias("channel"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_conv"),
                 F.round(F.sum(value_col), 4).alias("total_value")))


def srm_check(events: DataFrame, *, user_col: str = "user_id",
              arm_expr: str = "pmod(user_id, 2)") -> DataFrame:
    """Sample-ratio-mismatch guardrail for an A/B assignment: the
    chi-square statistic of observed arm sizes against the intended
    50/50 split — the first validity check any experiment readout runs
    (a biased assignment invalidates ab_test_proportions before any
    effect-size math). Unit = user (distinct users per arm), df = 1,
    flag at the 95% critical value 3.841.

    Shape: one user-distinct aggregation, a 2-row rollup, scalar
    algebra — same single user-keyed exchange as ab_test_proportions.
    Columns (single row): n_0, n_1, chi2 (round 6), srm_alarm.
    """
    per_user = (events.select(F.col(user_col))
                .distinct()
                .withColumn("arm", F.expr(arm_expr).cast("long")))
    row = (per_user.groupBy("arm").agg(F.count(F.lit(1)).alias("n"))
           .groupBy().pivot("arm", [0, 1]).agg(F.first("n")))
    # an arm with ZERO users pivots to null — coalesce to 0 so the
    # most extreme possible mismatch alarms instead of returning null
    n0 = F.coalesce(F.col("0").cast("double"), F.lit(0.0))
    n1 = F.coalesce(F.col("1").cast("double"), F.lit(0.0))
    tot = n0 + n1
    e = tot * 0.5
    chi2 = (n0 - e) ** 2 / e + (n1 - e) ** 2 / e
    return row.select(n0.cast("long").alias("n_0"),
                      n1.cast("long").alias("n_1"),
                      F.round(chi2, 6).alias("chi2"),
                      (chi2 > 3.841).alias("srm_alarm"))


def ab_test_proportions(events: DataFrame, *, user_col: str = "user_id",
                        arm_expr: str = "pmod(user_id, 2)",
                        ) -> DataFrame:
    """Two-proportion z-test between experiment arms: unit = user,
    success = the user has >= 1 'purchase' event,
    arm = deterministic hash/modulo assignment.

    Shape: one per-user aggregation (bool_or of the success
    predicate — users collapse BEFORE any stats, so a hyperactive
    user counts once), one 2-row arm rollup, then scalar algebra on
    a pivoted single row. The pooled standard error
    sqrt(p(1-p)(1/n0+1/n1)) and z-score are plain Column math — at
    any corpus size the cost is the one user-keyed exchange every
    per-user metric already pays.
    Columns (single row): n_0, n_1, conv_0, conv_1, p_0, p_1
    (round 6), z_score (round 6), significant_95 (|z| > 1.96).
    """
    per_user = (events
                .groupBy(user_col)
                .agg(F.max(F.expr("CASE WHEN event_type = 'purchase' "
                                  "THEN 1 ELSE 0 END")).alias("conv"))
                .withColumn("arm", F.expr(arm_expr).cast("long")))
    arms = (per_user.groupBy("arm")
            .agg(F.count("*").alias("n"), F.sum("conv").alias("c")))
    row = (arms.groupBy()
           .pivot("arm", [0, 1])
           .agg(F.first("n").alias("n"), F.first("c").alias("c")))
    n0, c0 = F.col("0_n").cast("double"), F.col("0_c").cast("double")
    n1, c1 = F.col("1_n").cast("double"), F.col("1_c").cast("double")
    p0, p1 = c0 / n0, c1 / n1
    pp = (c0 + c1) / (n0 + n1)
    se = F.sqrt(pp * (1 - pp) * (1 / n0 + 1 / n1))
    z = F.when(se > 0, (p1 - p0) / se)
    return row.select(
        F.col("0_n").cast("long").alias("n_0"),
        F.col("1_n").cast("long").alias("n_1"),
        F.col("0_c").cast("long").alias("conv_0"),
        F.col("1_c").cast("long").alias("conv_1"),
        F.round(p0, 6).alias("p_0"), F.round(p1, 6).alias("p_1"),
        F.round(z, 6).alias("z_score"),
        F.coalesce(F.abs(z) > 1.96, F.lit(False))
         .alias("significant_95"))


def kaplan_meier(events: DataFrame, *, user_col: str = "user_id",
                 ts_col: str = "ts",
                 horizon_days: int = 7,
                 death_filter: str | None = None) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes — the
    censoring-aware retention readout (naive "share still active
    after t days" is biased by users who simply joined late).

    Lifetime = whole days between a user's first and last event.
    Two censoring modes: with `death_filter` (a boolean SQL
    expression over the event columns), a user's lifetime ended
    observably iff their LAST event (max ts; ties take the max flag)
    satisfies it — e.g. "event_type = 'error'" reads a terminal
    failure as churn; without it, a user whose last event falls
    within `horizon_days` of the corpus's end is CENSORED (still
    alive as far as the data can tell) and everyone else died
    observably. At each observed-death time t:
    S(t) = Π_{t_i ≤ t} (1 − d_i / n_i) with n_i = users whose
    lifetime ≥ t_i (censored users leave the risk set but never
    count as deaths — exactly the KM estimator).

    Shape: ONE user-keyed aggregation reduces the corpus to a
    per-user (lifetime, observed) table; everything after runs on
    day-granularity frames (≤ observation-window-in-days rows):
    per-day death/at-risk counts via one cumulative window, the
    product via exp(Σ ln(1−d/n)) over the same ordered window, with
    an explicit zero-factor carry (ln is undefined at d = n; from
    that day on survival is exactly 0).

    Columns: t_days, n_risk, n_events, survival (round 6).
    """
    if death_filter is not None:
        flag = F.expr(f"CASE WHEN {death_filter} THEN 1 ELSE 0 END")
        life = (events.groupBy(user_col)
                .agg(F.datediff(F.max(ts_col).cast("date"),
                                F.min(ts_col).cast("date"))
                     .cast("long").alias("t_days"),
                     F.max(F.struct(F.col(ts_col).alias("__ts"),
                                    flag.alias("__f")))["__f"]
                     .alias("__obs")))
    else:
        per_user = (events.groupBy(user_col)
                    .agg(F.min(ts_col).alias("__first"),
                         F.max(ts_col).alias("__last")))
        horizon = per_user.agg(
            F.date_sub(F.max(F.col("__last").cast("date")), horizon_days)
            .alias("__cut"))
        life = (per_user.crossJoin(F.broadcast(horizon))
                .select(F.datediff(F.col("__last").cast("date"),
                                   F.col("__first").cast("date"))
                        .cast("long").alias("t_days"),
                        (F.col("__last").cast("date") <= F.col("__cut"))
                        .cast("int").alias("__obs")))
    per_day = (life.groupBy("t_days")
               .agg(F.count("*").alias("__n"),
                    F.sum("__obs").alias("n_events")))
    w_after = (Window.orderBy("t_days")
               .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    w_upto = (Window.orderBy("t_days")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    curve = (per_day
             .withColumn("n_risk", F.sum("__n").over(w_after))
             .filter(F.col("n_events") > 0)
             .withColumn("__dead",
                         F.max((F.col("n_events") == F.col("n_risk"))
                               .cast("int")).over(w_upto))
             .withColumn("__logs",
                         F.sum(F.when(F.col("n_events") < F.col("n_risk"),
                                      F.log(1.0 - F.col("n_events")
                                            / F.col("n_risk")))
                               .otherwise(0.0)).over(w_upto)))
    return curve.select(
        "t_days", F.col("n_risk").cast("long").alias("n_risk"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round(F.when(F.col("__dead") == 1, 0.0)
                .otherwise(F.exp("__logs")), 6).alias("survival"))


def robust_outliers(df: DataFrame, *, key_col: str = "user_id",
                    value_col: str = "value",
                    k: float = 3.5) -> DataFrame:
    """Per-key robust outlier report via the median/MAD rule: a value
    is an outlier iff |x − median| > k · 1.4826 · MAD (the modified
    z-score; 1.4826 scales MAD to σ under normality). Mean/stddev
    fences break on the very outliers they hunt — the median pair is
    the monitoring-grade version.

    Exact per-key medians via the `median` aggregate (keyed,
    map-side-partial, no windows — each key's median is an agg
    state, not a sorted partition), one keyed join back for the
    deviation pass, a second median agg for the MAD, and a final
    count rollup. Three keyed exchanges total, output one row per
    key. Zero-MAD keys (>=50% identical values) flag only exact
    deviants — every non-median value is an outlier there, which is
    the rule's documented literature behavior.

    Columns: <key_col>, n, med, mad, n_outliers.
    """
    v = F.col(value_col).cast("double")
    base = df.select(F.col(key_col), v.alias("__v"))
    med = base.groupBy(key_col).agg(F.median("__v").alias("__med"),
                                    F.count("*").alias("n"))
    dev = (base.join(med, key_col)
           .withColumn("__ad", F.abs(F.col("__v") - F.col("__med"))))
    mad = dev.groupBy(key_col).agg(F.median("__ad").alias("__mad"))
    flagged = (dev.join(mad, key_col)
               .withColumn("__out",
                           (F.col("__ad")
                            > F.lit(k) * F.lit(1.4826) * F.col("__mad"))
                           .cast("int")))
    return (flagged.groupBy(key_col)
            .agg(F.max("n").cast("long").alias("n"),
                 F.round(F.max("__med"), 6).alias("med"),
                 F.round(F.max("__mad"), 6).alias("mad"),
                 F.sum("__out").cast("long").alias("n_outliers")))


def rfm_scores(events: DataFrame, *, user_col: str = "user_id",
               ts_col: str = "ts", value_col: str = "value",
               asof=None) -> DataFrame:
    """RFM segmentation — recency / frequency / monetary scores, the
    classic user-value featurization (and the segment key behind
    "churn-risk big spenders" style slices): per user, days since
    last event (R), event count (F), summed value (M), each banded
    1..5 by the METRIC'S OWN quintile cuts (band 5 = best: most
    recent, most frequent, highest value).

    Scale shape: one user-keyed aggregation builds the metric table
    (|users| rows); the quantile cuts are ONE exact `percentile`
    aggregate over it (sort-based agg state — keyed-partial, no
    window, no single-partition sort) broadcast back as a 1-row
    frame; banding is an expression. Nothing above user granularity
    ever shuffles. Band boundary semantics: score = 1 + #cuts the
    value is strictly above (recency uses the NEGATED axis so
    fresher = higher), identical CASE logic on both engines.

    Columns: <user_col>, recency_days, frequency, monetary (round
    6), r_score, f_score, m_score, rfm (100·r + 10·f + m).
    """
    if asof is None:
        asof = "2024-02-01"
    if isinstance(asof, str):
        asof = F.lit(asof).cast("timestamp")
    per = (events.groupBy(user_col)
           .agg(F.max(F.col(ts_col)).alias("__last"),
                F.count(F.lit(1)).cast("long").alias("frequency"),
                F.round(F.sum(F.col(value_col)), 6).alias("monetary")))
    per = per.select(
        user_col,
        (F.unix_micros(asof.cast("timestamp")) / 1e6
         - F.unix_micros(F.col("__last").cast("timestamp")) / 1e6)
        .alias("__rsec"), "frequency", "monetary")
    ps = [i / 5 for i in range(1, 5)]
    cuts = per.agg(
        F.percentile(F.col("__rsec") * -1, ps).alias("__rc"),
        F.percentile(F.col("frequency").cast("double"), ps).alias("__fc"),
        F.percentile(F.col("monetary"), ps).alias("__mc"))

    def band(metric, cut_col):
        s = F.lit(1)
        for i in range(len(ps)):
            s = s + (metric > F.element_at(F.col(cut_col), i + 1)) \
                .cast("int")
        return s.cast("long")

    out = per.crossJoin(F.broadcast(cuts))
    return out.select(
        user_col,
        F.round(F.col("__rsec") / 86400.0, 6).alias("recency_days"),
        "frequency", "monetary",
        band(F.col("__rsec") * -1, "__rc").alias("r_score"),
        band(F.col("frequency").cast("double"), "__fc").alias("f_score"),
        band(F.col("monetary"), "__mc").alias("m_score")) \
        .withColumn("rfm", (F.col("r_score") * 100 + F.col("f_score") * 10
                            + F.col("m_score")).cast("long"))


def group_sequential_ab(events: DataFrame, looks: list[str], *,
                        user_col: str = "user_id",
                        ts_col: str = "ts",
                        arm_expr: str = "pmod(user_id, 2)") -> DataFrame:
    """Group-sequential A/B monitoring — the two-proportion z-test of
    `ab_test_proportions` evaluated at K interim LOOKS (event-time
    cutoffs) against a Bonferroni-spent boundary z_{1−α/(2K)},
    α = 0.05, success = a 'purchase' event:
    peeking at an experiment K times at the naive 1.96 inflates the
    false-positive rate severalfold; spending α across looks is the
    fix every experimentation platform ships (Pocock 1977 framing;
    Bonferroni spending chosen because its boundary is a closed-form
    constant both engines share as a literal — conservative, never
    anti-conservative).

    Shape: ONE per-user aggregation computes the user's first
    event time and first success time; each look is then a bank of
    filtered-sum EXPRESSIONS over that |users|-row frame folded into
    a single global row (constant width: 4K sums), unpivoted to one
    row per look. Two keyed apertures total, regardless of K or
    corpus size. A user enters look k's denominator only if active
    by that cutoff — the enrolled-by-then population.

    The boundary is the two-sided Bonferroni z for K looks from the
    inverse-normal table {0.05/K: K=1..5} (1.96, 2.2414, 2.3940,
    2.4977, 2.5758); more than 5 looks raise ValueError.

    Columns: look (1-based), cutoff, n_0, n_1, conv_0, conv_1,
    z (round 6), boundary, crossed.
    """
    table = {1: 1.959964, 2: 2.241403, 3: 2.394000,
             4: 2.497705, 5: 2.575829}
    if len(looks) not in table:
        raise ValueError("boundary table covers alpha=0.05, K=1..5 looks")
    boundary_z = table[len(looks)]
    per_user = (events
                .groupBy(user_col)
                .agg(F.min(F.col(ts_col)).alias("__first"),
                     F.min(F.expr("CASE WHEN event_type = 'purchase' "
                                  f"THEN {ts_col} END")).alias("__succ"))
                .withColumn("__arm", F.expr(arm_expr).cast("long")))
    aggs = []
    for i, cut in enumerate(looks):
        c = F.lit(cut).cast("timestamp")
        enrolled = F.col("__first") <= c
        conv = F.col("__succ").isNotNull() & (F.col("__succ") <= c)
        for arm in (0, 1):
            inarm = enrolled & (F.col("__arm") == arm)
            aggs += [F.sum(inarm.cast("int")).alias(f"n{arm}_{i}"),
                     F.sum((inarm & conv).cast("int")).alias(f"c{arm}_{i}")]
    one = per_user.agg(*aggs)
    parts = []
    for i, cut in enumerate(looks):
        n0 = F.col(f"n0_{i}").cast("double")
        n1 = F.col(f"n1_{i}").cast("double")
        c0 = F.col(f"c0_{i}").cast("double")
        c1 = F.col(f"c1_{i}").cast("double")
        pp = (c0 + c1) / (n0 + n1)
        se = F.sqrt(pp * (1 - pp) * (1 / n0 + 1 / n1))
        z = F.when(se > 0, (c1 / n1 - c0 / n0) / se)
        parts.append(one.select(
            F.lit(i + 1).cast("long").alias("look"),
            F.lit(cut).cast("timestamp").alias("cutoff"),
            F.col(f"n0_{i}").cast("long").alias("n_0"),
            F.col(f"n1_{i}").cast("long").alias("n_1"),
            F.col(f"c0_{i}").cast("long").alias("conv_0"),
            F.col(f"c1_{i}").cast("long").alias("conv_1"),
            F.round(z, 6).alias("z"),
            F.lit(boundary_z).alias("boundary"),
            F.coalesce(F.abs(z) > boundary_z, F.lit(False))
             .alias("crossed")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def cuped_adjustment(events: DataFrame, *, user_col: str = "user_id",
                     ts_col: str = "ts", value_col: str = "value",
                     arm_expr: str = "pmod(user_id, 2)") -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) for an A/B
    metric: adjust each user's post-period metric by their
    PRE-period covariate — Y' = Y − θ(X − X̄), θ = cov(X,Y)/var(X) —
    which removes the between-user variance the experiment didn't
    cause and shrinks confidence intervals at zero cost in bias
    (E[Y'] = E[Y] because θ(X−X̄) is mean-zero). The standard
    experimentation-platform trick for detecting small lifts.

    Shape: one user-keyed aggregation splits each user's value mass
    at the 2024-01-15 cutover (X = pre sum, Y = post sum); θ and X̄
    come from ONE global covar_pop/var_pop/avg aggregate (running co-moment
    sums, map-side combined) broadcast back as a 1-row frame; the
    adjusted per-arm means and variances are a second constant-width
    global row. Nothing above user granularity shuffles.

    Columns (one row): n, theta, mean_x, lift_raw (arm1−arm0 mean of
    Y), lift_adj (same on Y'), var_y, var_adj, var_reduction
    (1 − var_adj/var_y). All round 6.
    """
    c = F.lit("2024-01-15").cast("timestamp")
    per = (events.groupBy(user_col)
           .agg(F.sum(F.when(F.col(ts_col) < c, F.col(value_col))
                      .otherwise(F.lit(0.0))).alias("__x"),
                F.sum(F.when(F.col(ts_col) >= c, F.col(value_col))
                      .otherwise(F.lit(0.0))).alias("__y"))
           .withColumn("__arm", F.expr(arm_expr).cast("long")))
    th = per.agg(
        F.try_divide(F.covar_pop("__x", "__y"),
                     F.var_pop("__x")).alias("__th"),
        F.avg("__x").alias("__mx"))
    adj = (per.crossJoin(F.broadcast(th))
           .select("__arm", "__y",
                   (F.col("__y") - F.col("__th")
                    * (F.col("__x") - F.col("__mx"))).alias("__ya"),
                   "__th", "__mx"))
    return adj.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.max("__th"), 6).alias("theta"),
        F.round(F.max("__mx"), 6).alias("mean_x"),
        F.round(F.avg(F.when(F.col("__arm") == 1, F.col("__y")))
                - F.avg(F.when(F.col("__arm") == 0, F.col("__y"))), 6)
        .alias("lift_raw"),
        F.round(F.avg(F.when(F.col("__arm") == 1, F.col("__ya")))
                - F.avg(F.when(F.col("__arm") == 0, F.col("__ya"))), 6)
        .alias("lift_adj"),
        F.round(F.var_pop("__y"), 6).alias("var_y"),
        F.round(F.var_pop("__ya"), 6).alias("var_adj"),
        F.round(1.0 - F.try_divide(F.var_pop("__ya"),
                                   F.var_pop("__y")), 6)
        .alias("var_reduction"))


def association_rules(events: DataFrame, *, user_col: str = "user_id",
                      item_col: str = "event_type",
                      min_support: float = 0.01) -> DataFrame:
    """Market-basket association rules over per-user item sets:
    for every ordered item pair (a → b), support = share of baskets
    containing both, confidence = P(b | a), lift = confidence /
    P(b) — the affinity-mining classic (Agrawal & Srikant 1994's
    measures; pairs only, which is what production affinity uses),
    with lift > 1 meaning a and b co-occur beyond chance.

    Shape: baskets = distinct (user, item) — one keyed dedup; the
    pair stage is a per-user equi-join whose width is bounded by the
    ITEM VOCABULARY (a user contributes ≤ |items|² pairs no matter
    how many events they log, because baskets are distinct sets);
    supports come from one item-keyed count broadcast back twice.
    Nothing scales with raw event volume past the first dedup.

    Columns: antecedent, consequent, n_both, support, confidence,
    lift (round 6) — both rule directions, min_support-filtered.
    """
    basket = (events.select(F.col(user_col).alias("__u"),
                            F.col(item_col).alias("__i"))
              .distinct())
    n_users = basket.agg(
        F.count_distinct("__u").alias("__nu"))
    item_n = basket.groupBy("__i").agg(F.count(F.lit(1)).alias("__ni"))
    a = basket.select("__u", F.col("__i").alias("antecedent"))
    b = basket.select("__u", F.col("__i").alias("consequent"))
    pairs = (a.join(b, "__u")
             .filter(F.col("antecedent") != F.col("consequent"))
             .groupBy("antecedent", "consequent")
             .agg(F.count(F.lit(1)).alias("n_both")))
    j = (pairs
         .join(F.broadcast(item_n.select(
             F.col("__i").alias("antecedent"),
             F.col("__ni").alias("__na"))), "antecedent")
         .join(F.broadcast(item_n.select(
             F.col("__i").alias("consequent"),
             F.col("__ni").alias("__nb"))), "consequent")
         .crossJoin(F.broadcast(n_users)))
    sup = F.col("n_both") / F.col("__nu")
    conf = F.col("n_both") / F.col("__na")
    # lift's two count products run in DOUBLE (oracle casts
    # identically): n_both·n_users and n_a·n_b are corpus-scale —
    # bigint·bigint overflows once both factors pass ~3×10⁹
    lift = (F.col("n_both").cast("double") * F.col("__nu")
            / (F.col("__na").cast("double") * F.col("__nb")))
    return (j.filter(sup >= min_support)
            .select("antecedent", "consequent",
                    F.col("n_both").cast("long").alias("n_both"),
                    F.round(sup, 6).alias("support"),
                    F.round(conf, 6).alias("confidence"),
                    F.round(lift, 6).alias("lift")))


def gini_coefficient(df: DataFrame, *,
                     value_col: str = "value") -> DataFrame:
    """Gini concentration coefficient of a non-negative metric —
    the inequality readout for engagement/value/token-mass
    ("5% of users generate 80% of events" quantified): G =
    Σᵢⱼ|yᵢ−yⱼ| / (2n²μ), computed WITHOUT a global rank via the
    distinct-value histogram identity Σ|yᵢ−yⱼ| = 2·Σ_v c_v·(v·
    cnt_below(v) − sum_below(v)), whose prefix sums run under the
    same shuffle-bounded two-level bucketing as roc_auc (per-bucket
    totals, broadcast cross-bucket offsets, partitionBy(bucket)
    window) — two running quantities (count and value mass) instead
    of one, over 1024 buckets. No single-partition structure above
    1024 rows.

    Columns (one row): n, mean, gini (round 6; null when n·Σy = 0).
    """
    per = (df.select(F.col(value_col).cast("double").alias("__v"))
           .groupBy("__v").agg(F.count(F.lit(1)).alias("__c")))
    bounds = per.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
    span = F.col("__hi") - F.col("__lo")
    bucket = F.coalesce(
        F.when(span > 0,
               F.least(F.floor((F.col("__v") - F.col("__lo"))
                               / span * 1024),
                       F.lit(1023))).otherwise(F.lit(0)),
        F.lit(1023)).cast("long")
    b = (per.crossJoin(F.broadcast(bounds))
         .select("__v", "__c", bucket.alias("__b")))
    btot = (b.groupBy("__b")
            .agg(F.sum("__c").alias("__bc"),
                 F.sum(F.col("__c") * F.col("__v")).alias("__bs")))
    lower = btot.select(F.col("__b").alias("__b2"),
                        F.col("__bc").alias("__bc2"),
                        F.col("__bs").alias("__bs2"))
    off = (btot.crossJoin(F.broadcast(lower))
           .groupBy("__b")
           .agg(F.sum(F.when(F.col("__b2") < F.col("__b"),
                             F.col("__bc2")).otherwise(F.lit(0)))
                .alias("__offc"),
                F.sum(F.when(F.col("__b2") < F.col("__b"),
                             F.col("__bs2")).otherwise(F.lit(0.0)))
                .alias("__offs")))
    w = (Window.partitionBy("__b").orderBy("__v")
         .rowsBetween(Window.unboundedPreceding, -1))
    below_c = (F.col("__offc")
               + F.coalesce(F.sum("__c").over(w), F.lit(0)))
    below_s = (F.col("__offs")
               + F.coalesce(F.sum(F.col("__c") * F.col("__v")).over(w),
                            F.lit(0.0)))
    contrib = F.col("__c") * (F.col("__v") * below_c.cast("double")
                              - below_s)
    agg = (b.join(F.broadcast(off), "__b")
           .select("__c", "__v", contrib.alias("__g"))
           .agg(F.sum("__c").cast("long").alias("n"),
                F.sum(F.col("__c") * F.col("__v")).alias("__S"),
                F.sum("__g").alias("__G")))
    return agg.select(
        "n",
        F.round(F.col("__S") / F.col("n"), 6).alias("mean"),
        F.round(F.try_divide(F.col("__G"),
                             F.col("n").cast("double") * F.col("__S")), 6)
        .alias("gini"))


def spearman_by_group(df: DataFrame, *, group_col: str,
                      x_col: str, y_col: str) -> DataFrame:
    """Per-group Spearman rank correlation — the monotone-association
    readout that survives outliers and nonlinearity where Pearson
    lies (quality metrics vs engagement, length vs score): Pearson
    over tie-corrected AVERAGE ranks, ρ per group.

    Ranks use rank() + (|ties|−1)/2 (the textbook average-rank tie
    treatment), built from two group-partitioned windows — bounded
    by the group's row count, never global — then one corr aggregate
    per group. Deterministic and CTE-replayable.

    Columns: <group_col>, n, spearman_rho (round 6; null for
    degenerate groups with a constant metric).
    """
    gx = Window.partitionBy(group_col).orderBy(F.col(x_col).asc())
    gy = Window.partitionBy(group_col).orderBy(F.col(y_col).asc())
    tx = Window.partitionBy(group_col, x_col)
    ty = Window.partitionBy(group_col, y_col)
    ranked = df.select(
        group_col,
        (F.rank().over(gx)
         + (F.count(F.lit(1)).over(tx) - 1) / 2.0).alias("__rx"),
        (F.rank().over(gy)
         + (F.count(F.lit(1)).over(ty) - 1) / 2.0).alias("__ry"))
    return (ranked.groupBy(group_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.corr("__rx", "__ry"), 6)
                 .alias("spearman_rho")))


def behavioral_entropy(events: DataFrame, *, user_col: str = "user_id",
                       type_col: str = "event_type") -> DataFrame:
    """Per-user Shannon entropy of the event-type mix (round 13) —
    the behavioral-diversity axis segmentation and bot-detection
    rank on: a user with 500 events all of one type (H = 0,
    scripted) and one spread evenly over 5 types (H = ln 5) are
    different populations that raw counts cannot separate.

    Shape: one (user, type) map-side-combined count, per-user
    totals as a window over the same user-keyed exchange, one
    per-user rollup. Entropy terms are p·ln p with integer-count
    ratios — both engines do the identical double arithmetic.

    Columns: <user_col>, n_events, n_types, entropy (round 6;
    0 for a single-type user by construction).
    """
    g = (events.groupBy(user_col, type_col)
         .agg(F.count(F.lit(1)).alias("__c")))
    byu = Window.partitionBy(user_col)
    p = F.col("__c") / F.sum("__c").over(byu)
    terms = g.withColumn("__t", -p * F.log(p))
    return (terms.groupBy(user_col)
            .agg(F.sum("__c").cast("long").alias("n_events"),
                 F.count(F.lit(1)).cast("long").alias("n_types"),
                 F.round(F.sum("__t"), 6).alias("entropy")))


def activity_profile(events: DataFrame, *, time_col: str = "ts") -> DataFrame:
    """Day-of-week × hour-of-day activity heat profile with a global
    uniformity chi-square (round 13) — the weekly-rhythm fingerprint
    behind load shaping, anomaly baselines, and bot detection (a
    natural audience has strong dow/hour structure; uniform traffic
    IS the anomaly). chi2 = n·Σ(share − 1/168)²/(1/168) over the
    168 calendar slots, repeated on every row for single-frame
    consumption (the benford_audit convention).

    One map-side-combined aggregation collapses the corpus to
    ≤168 rows; everything after is bounded algebra.
    Columns: dow (1=Sun..7=Sat), hour, n, share, chi2 (round 6).
    """
    slots = F.lit(168.0)
    per = (events.select(F.dayofweek(F.col(time_col)).alias("dow"),
                         F.hour(F.col(time_col)).alias("hour"))
           .groupBy("dow", "hour")
           .agg(F.count(F.lit(1)).cast("long").alias("n")))
    tot = per.agg(F.sum("n").cast("double").alias("__t"))
    # full 7×24 grid off the 1-row total (the psi_timeline allbins
    # idiom): an EMPTY slot still contributes its (0 − 1/168)² term
    # — dropping empties understates exactly the non-uniformity the
    # statistic exists to flag
    grid = (tot.select(F.explode(F.sequence(F.lit(1), F.lit(7)))
                       .alias("dow"), "__t")
            .select("dow", "__t",
                    F.explode(F.sequence(F.lit(0), F.lit(23)))
                    .alias("hour")))
    scored = (grid.join(per, ["dow", "hour"], "left")
              .withColumn("n", F.coalesce("n", F.lit(0)).cast("long"))
              .withColumn("__share", F.col("n") / F.col("__t"))
              .withColumn("__chi",
                          F.col("__t")
                          * (F.col("__share") - 1.0 / slots)
                          * (F.col("__share") - 1.0 / slots)
                          * slots))
    chi2 = scored.agg(F.sum("__chi").alias("__c2"))
    return (scored.crossJoin(F.broadcast(chi2))
            .select("dow", "hour", "n",
                    F.round("__share", 6).alias("share"),
                    F.round("__c2", 6).alias("chi2")))
