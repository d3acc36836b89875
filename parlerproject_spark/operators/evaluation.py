"""Offline evaluation & label-QC metrics — the measurement half of a
training-data pipeline: ranking quality for retrieval systems, ROC-AUC
and calibration for quality classifiers, chance-corrected agreement
for labeling campaigns.

Design for 100 TB: every metric here reduces the raw frame with ONE
keyed (or global) aggregation first and runs its windows/algebra over
the small reduced table only — per-query result lists (≤ k rows each),
distinct score values, label categories, rating histograms. Nothing
windows over the corpus itself: ROC-AUC deliberately avoids the
textbook per-row global rank (a full sort at corpus scale) in favor of
the tie-exact cumulative histogram form, and Fleiss' kappa is three
aggregates over an (item, label) contingency no wider than the label
vocabulary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from parlerproject_spark.caching import literal
from parlerproject_spark.operators.stats import (_bucketed_prefix_sum,
                                                 _range_bucket,
                                                 _value_bounds)


def ranking_metrics(results: DataFrame, judgments: DataFrame, *,
                    k: int = 10, query_col: str = "query_id",
                    id_col: str = "doc_id", rank_col: str = "rank",
                    rel_col: str = "rel") -> DataFrame:
    """Per-query ranked-retrieval metrics: NDCG@k (graded, 2^rel−1
    gains), MRR (reciprocal rank of the first relevant hit in the
    top-k), recall@k (relevant retrieved / relevant total).

    `results` holds system rankings (query, doc, 1-based rank);
    `judgments` holds graded relevance (query, doc, rel ≥ 0 — absent
    pairs count as rel 0). The ideal DCG comes from the judgments
    side: top-k rels per query ordered (rel desc, doc asc —
    deterministic ties). Queries with zero relevant docs report
    ndcg/recall 0 rather than null so the frame stays total.

    Scale: one bounded join (results are ≤ k rows per query) + two
    query-keyed aggregations; windows run over judgments *per query*
    after a rel-desc cut, never over the corpus.

    Columns: <query_col>, n_retrieved, n_relevant, ndcg, mrr, recall.
    """
    q, d = F.col(query_col), F.col(id_col)
    res = results.filter(F.col(rank_col) <= k) \
        .select(q, d, F.col(rank_col).alias("__rank"))
    jud = judgments.select(q, d, F.col(rel_col).cast("double").alias("__rel"))

    gain = lambda rel, pos: ((F.pow(F.lit(2.0), rel) - 1.0)
                             / F.log2(pos + 1.0))
    joined = (res.join(jud, [query_col, id_col], "left")
              .withColumn("__rel", F.coalesce("__rel", F.lit(0.0))))
    sys_side = (joined.groupBy(query_col).agg(
        F.count("*").alias("n_retrieved"),
        F.sum(gain(F.col("__rel"), F.col("__rank"))).alias("__dcg"),
        F.coalesce(F.max(F.when(F.col("__rel") > 0,
                                1.0 / F.col("__rank"))),
                   F.lit(0.0)).alias("__mrr"),
        F.sum(F.when(F.col("__rel") > 0, 1).otherwise(0))
        .alias("__hits")))

    w = Window.partitionBy(query_col).orderBy(F.col("__rel").desc(),
                                              F.col(id_col).asc())
    ideal = (jud.withColumn("__rn", F.row_number().over(w))
             .groupBy(query_col).agg(
                 F.sum(F.when(F.col("__rn") <= k,
                              gain(F.col("__rel"), F.col("__rn")))
                       .otherwise(0.0)).alias("__idcg"),
                 F.sum(F.when(F.col("__rel") > 0, 1).otherwise(0))
                 .alias("n_relevant")))

    out = sys_side.join(ideal, query_col, "full_outer")
    return out.select(
        F.col(query_col),
        F.coalesce("n_retrieved", F.lit(0)).cast("long")
        .alias("n_retrieved"),
        F.coalesce("n_relevant", F.lit(0)).cast("long").alias("n_relevant"),
        F.round(F.when(F.col("__idcg") > 0,
                       F.coalesce("__dcg", F.lit(0.0)) / F.col("__idcg"))
                .otherwise(0.0), 6).alias("ndcg"),
        F.round(F.coalesce("__mrr", F.lit(0.0)), 6).alias("mrr"),
        F.round(F.when(F.col("n_relevant") > 0,
                       F.coalesce("__hits", F.lit(0)).cast("double")
                       / F.col("n_relevant")).otherwise(0.0), 6)
        .alias("recall"))


def _rank_sum(rows: DataFrame, keys: list[str]) -> DataFrame:
    """The tie-exact rank-sum kernel behind roc_auc, grouped_roc_auc
    and mann_whitney_u. `rows` carries *keys, __s (double value) and
    __y (0/1 label); the result is one row per distinct
    (*keys, __s): __pos, __neg and
    __c = pos · (neg_below + neg/2), so per group
    Σ__c / (Σ__pos · Σ__neg) = AUC and Σ__c = U.

    NOT the textbook per-row global rank — that is a full corpus sort.
    The input collapses to the per-(keys, value) histogram (one
    map-side-combined aggregation), PERSISTED: it is the reduction
    artifact with several consumers (bounds, bucket totals, ranked
    rows). A 100 TB pipeline with raw float scores quantizes first,
    so the cached relation stays reduction-sized. neg_below is
    `stats._bucketed_prefix_sum` of __neg over the value-ordered
    range buckets of each group (`stats._range_bucket`), so a
    float-scored classifier (distinct values ≈ rows) never lands in
    one window partition. Ungrouped callers pass a constant key
    column. NaN values sit in the top bucket, above every double.
    """
    per = (rows.groupBy(*keys, "__s")
           .agg(F.sum("__y").alias("__pos"),
                F.sum(1 - F.col("__y")).alias("__neg"))
           .persist())
    bounds = per.groupBy(*keys).agg(*_value_bounds(F.col("__s")))
    bucket = _range_bucket(F.col("__s"), F.col("__lo"), F.col("__hi"))
    b = (per.join(F.broadcast(bounds), keys)
         .select(*keys, "__s", "__pos", "__neg", bucket.alias("__b")))
    ranked = _bucketed_prefix_sum(b, keys=keys, buckets=["__b"],
                                  order=["__s"], weight=F.col("__neg"))
    contrib = F.col("__pos") * (F.col("__before").cast("double")
                                + F.col("__neg") / 2.0)
    return ranked.select(*keys, "__s", "__pos", "__neg",
                         contrib.alias("__c"))


def _auc_columns() -> list[Column]:
    return [F.sum("__pos").cast("long").alias("n_pos"),
            F.sum("__neg").cast("long").alias("n_neg"),
            # try_divide: a single-class input has no ranking to
            # score — auc is null, not an ANSI divide-by-zero. The
            # n_pos·n_neg product is taken in DOUBLE (both sums cast
            # first, mirroring the oracle's CAST): bigint·bigint
            # overflows once both classes pass ~3×10⁹ rows — the
            # 100 TB regime (r10 ADVICE's WordPiece bug class).
            F.round(F.try_divide(F.sum("__c"),
                                 F.sum("__pos").cast("double")
                                 * F.sum("__neg").cast("double")), 6)
            .alias("auc")]


def roc_auc(df: DataFrame, *, score_col: str = "score",
            label_col: str = "label") -> DataFrame:
    """Exact tie-corrected ROC-AUC (the Mann-Whitney statistic) as a
    one-row frame: n_pos, n_neg, auc — the cumulative-histogram
    identity AUC = Σ_s pos_s · (neg_below_s + neg_s/2) / (n_pos·n_neg)
    over `_rank_sum` with one constant group key. No unpartitioned
    window anywhere — every shuffle is keyed and every
    single-partition structure is ≤ stats.RANK_BUCKETS rows.
    """
    rows = df.select(F.lit(0).alias("__g"),
                     F.col(score_col).cast("double").alias("__s"),
                     F.col(label_col).cast("int").alias("__y"))
    return _rank_sum(rows, ["__g"]).agg(*_auc_columns())


def calibration_report(df: DataFrame, *, prob_col: str = "prob",
                       label_col: str = "label",
                       n_bins: int = 10) -> DataFrame:
    """Reliability diagram + Brier score for a probabilistic
    classifier: equal-width probability bins with per-bin volume,
    mean predicted probability and empirical positive rate; the
    global Brier score (mean squared error of prob vs label) rides
    every row for single-frame consumption.

    One keyed aggregation (bins) + one global aggregation (Brier)
    joined by a broadcast of the 1-row side — two passes over the
    input, no windows.

    Columns: bin, n, mean_prob, frac_pos, brier.
    """
    p = F.col(prob_col).cast("double")
    lab = F.col(label_col).cast("double")
    binc = F.least(F.floor(p * n_bins), F.lit(n_bins - 1)).cast("long")
    base = df.select(p.alias("__p"), lab.alias("__y"),
                     binc.alias("bin"))
    bins = (base.groupBy("bin")
            .agg(F.count("*").cast("long").alias("n"),
                 F.round(F.avg("__p"), 6).alias("mean_prob"),
                 F.round(F.avg("__y"), 6).alias("frac_pos")))
    brier = base.agg(
        F.round(F.avg(F.pow(F.col("__p") - F.col("__y"), 2)), 6)
        .alias("brier"))
    return bins.crossJoin(F.broadcast(brier))


def fleiss_kappa(ratings: DataFrame, *, n_raters: int,
                 item_col: str = "item_id", label_col: str = "label") \
        -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement for a labeling
    campaign where each item is judged by `n_raters` raters (items
    with a different rating count are dropped, and reported).

    P_i = (Σ_j n_ij² − m) / (m(m−1)) per item, P̄ its mean;
    p_j the label's overall share, P̄_e = Σ p_j²;
    kappa = (P̄ − P̄_e)/(1 − P̄_e).

    Scale: one (item, label) count aggregation → one item-keyed
    aggregation → one global row; the label-share table is as wide as
    the label vocabulary. No windows, no joins against the raw frame.

    Columns (one row): n_items, n_raters, p_bar, p_e, kappa.
    """
    m = n_raters
    cell = (ratings.groupBy(item_col, label_col)
            .agg(F.count("*").alias("__n")))
    items = (cell.groupBy(item_col)
             .agg(F.sum("__n").alias("__tot"),
                  F.sum(F.col("__n") * F.col("__n")).alias("__sq"))
             .filter(F.col("__tot") == m))
    kept = items.select(F.col(item_col),
                        ((F.col("__sq") - m) / (m * (m - 1.0)))
                        .alias("__pi"))
    shares = (cell.join(kept.select(item_col), item_col)
              .groupBy(label_col).agg(F.sum("__n").alias("__c")))
    # label totals are corpus-scale (unlike the per-item n_ij, which
    # n_raters bounds) — square and cross-multiply in DOUBLE exactly
    # as the oracle's CASTs do, or bigint·bigint overflows at ~3×10⁹
    # ratings (r10 ADVICE's WordPiece bug class)
    pe = shares.agg(
        (F.sum(F.col("__c").cast("double") * F.col("__c"))
         / (F.sum("__c").cast("double")
            * F.sum("__c").cast("double"))).alias("p_e"))
    pbar = kept.agg(F.count("*").cast("long").alias("n_items"),
                    F.avg("__pi").alias("p_bar"))
    return (pbar.crossJoin(F.broadcast(pe))
            .select("n_items", F.lit(m).cast("long").alias("n_raters"),
                    F.round("p_bar", 6).alias("p_bar"),
                    F.round("p_e", 6).alias("p_e"),
                    F.round((F.col("p_bar") - F.col("p_e"))
                            / (1.0 - F.col("p_e")), 6).alias("kappa")))


def bleu_pairs(cand: DataFrame, ref: DataFrame, *,
               pair_col: str = "pair_id",
               text_col: str = "text") -> DataFrame:
    """Corpus-scale sentence-BLEU-2 between aligned (candidate,
    reference) text pairs — the standard n-gram-overlap score for
    generation/translation eval (Papineni et al. 2002): clipped
    modified precision p_n for n∈{1,2}, brevity penalty
    exp(min(0, 1−r/c)), geometric mean with ε = 1e-9 smoothing for
    zero-overlap pairs.

    Scale shape: ONE scan per side — each side is a single linear
    chain to its (pair, n, gram) count table, with the token count
    riding every row and a null-gram sentinel (explode_outer) keeping
    empty-and-short texts alive, so there is no separate lens pass
    (the round-11 scan-budget audit caught the old lens+grams
    two-consumer form re-reading documents 6×); spread_input runs
    first — the ~tokens× blow-up must not run inside the scan's few
    splits. Clipping is one FULL-OUTER join on (pair, n, gram) (a
    ref-only gram arrives with the cand count null and is excluded,
    exactly the old left join's behavior) followed by a (pair, n)-
    and a pair-keyed aggregation. No windows, no driver state; every
    stage is keyed on pair_id (+ gram) and map-side combinable.

    Determinism contract: p1/p2/bp are HALF_UP-rounded at 6 dp and
    the BLEU geometric mean is computed FROM the rounded components,
    so the score is CTE-replayable cross-engine.

    Columns: pair_id, n_cand, n_ref, p1, p2, bp, bleu.
    """
    from parlerproject_spark.operators.layout import spread_input

    def grams(df, side):
        from parlerproject_spark.functions.text import word_ngrams
        ws = F.filter(F.split(F.col(text_col), r"\s+"),
                      lambda t: F.length(t) > 0)
        tdf = spread_input(
            df.select(F.col(pair_col).alias("__pid"), ws.alias("__ws")))
        c = F.col("__ws")
        n_tok = F.size("__ws").cast("long")
        uni = tdf.select("__pid", F.lit(1).alias("__n"),
                         n_tok.alias(f"__t{side}"),
                         F.explode_outer(word_ngrams(c, 1)).alias("__g"))
        big = tdf.select("__pid", F.lit(2).alias("__n"),
                         n_tok.alias(f"__t{side}"),
                         F.explode_outer(word_ngrams(c, 2)).alias("__g"))
        return (uni.unionByName(big)
                .groupBy("__pid", "__n", "__g")
                .agg(F.sum(F.when(F.col("__g").isNotNull(), 1)
                           .otherwise(0)).alias(f"__c{side}"),
                     F.first(f"__t{side}").alias(f"__t{side}")))

    full = grams(cand, "c").join(grams(ref, "r"),
                                 ["__pid", "__n", "__g"], "full")
    cl = (full.groupBy("__pid", "__n")
          .agg(F.max("__tc").alias("__tc"),
               F.max("__tr").alias("__tr"),
               F.sum(F.when(F.col("__cc").isNotNull(),
                            F.least(F.col("__cc"),
                                    F.coalesce("__cr", F.lit(0)))))
               .alias("__clip"),
               F.sum(F.coalesce("__cc", F.lit(0))).alias("__tot")))
    p = (cl.groupBy("__pid")
         .agg(F.max("__tc").alias("n_cand"),
              F.max("__tr").alias("n_ref"),
              *[F.round(F.max(F.when((F.col("__n") == n)
                                     & (F.col("__tot") > 0),
                                     F.col("__clip") / F.col("__tot"))),
                        6).alias(f"p{n}") for n in (1, 2)])
         .filter(F.col("n_cand").isNotNull()
                 & F.col("n_ref").isNotNull()))
    bp_raw = F.when(F.col("n_cand") >= F.col("n_ref"), F.lit(1.0)) \
        .otherwise(F.exp(1.0 - F.col("n_ref") / F.col("n_cand")))
    out = p.select(F.col("__pid").alias(pair_col), "n_cand", "n_ref",
                   F.coalesce("p1", F.lit(0.0)).alias("p1"),
                   F.coalesce("p2", F.lit(0.0)).alias("p2"),
                   F.when(F.col("n_cand") > 0, F.round(bp_raw, 6))
                   .otherwise(F.lit(0.0)).alias("bp"))
    bleu = F.round(
        F.col("bp") * F.exp(
            0.5 * F.log(F.greatest("p1", F.lit(1e-9)))
            + 0.5 * F.log(F.greatest("p2", F.lit(1e-9)))), 6)
    return out.withColumn("bleu", bleu)


def grouped_roc_auc(df: DataFrame, group_cols: list[str], *,
                    score_col: str = "score",
                    label_col: str = "label") -> DataFrame:
    """Per-slice ROC-AUC — one exact tie-corrected AUC per group
    (per source, per language, per annotator batch): the sliced-eval
    readout that catches a classifier scoring 0.9 overall while
    failing one slice entirely.

    `_rank_sum` keyed on the group: every exchange is keyed on the
    group (+ bucket); no structure anywhere exceeds a group's
    distinct-score count split B ways. Single-class groups report
    auc NULL (no ranking exists), not a divide-by-zero.

    NULL group keys are EXCLUDED up front (documented contract):
    the bucket-offset joins are equi-joins where NULL != NULL, so a
    NULL slice would otherwise vanish mid-plan; filtering first makes
    the exclusion explicit and engine-symmetric.

    Columns: *group_cols, n_pos, n_neg, auc.
    """
    nn = F.lit(True)
    for c in group_cols:
        nn = nn & F.col(c).isNotNull()
    rows = df.filter(nn).select(*group_cols,
                                F.col(score_col).cast("double").alias("__s"),
                                F.col(label_col).cast("int").alias("__y"))
    return (_rank_sum(rows, list(group_cols))
            .groupBy(*group_cols).agg(*_auc_columns()))


def off_policy_value(logs: DataFrame, target_probs: dict, *,
                     action_col: str = "action",
                     reward_col: str = "reward") -> DataFrame:
    """Off-policy (counterfactual) evaluation of a target policy from
    logged interaction data — IPS and SNIPS estimators (Horvitz-
    Thompson / self-normalized importance sampling; Swaminathan &
    Joachims 2015): "what reward would policy π have earned on the
    traffic we already logged?" without deploying it.

    The logging policy's propensities are estimated empirically
    (μ(a) = logged share of action a — the standard move when the
    logger didn't record μ); `target_probs` maps action → π(a)
    (actions absent from the map get π=0, i.e. the target never
    plays them). Per-row weight w = π(a)/μ(a); IPS = mean(w·r),
    SNIPS = Σ(w·r)/Σw, ESS = (Σw)²/Σw² — the effective sample size
    that says whether the estimate is worth trusting — and max_w,
    the single-weight concentration diagnostic.

    Scale: ONE aggregation over actions (the ≤|actions|-row
    propensity dim, broadcast back) + ONE global aggregation over
    the weighted scan. No windows, no corpus-sized shuffle — the
    same cost as any global mean at 100 TB.

    Columns (one row): n, ips, snips, ess, max_w (all round 6).
    """
    mu = (logs.groupBy(action_col)
          .agg(F.count(F.lit(1)).alias("__na")))
    tot = logs.agg(F.count(F.lit(1)).alias("__n"))
    pi = F.coalesce(*[F.when(F.col(action_col) == a, F.lit(float(p)))
                      for a, p in sorted(target_probs.items())],
                    F.lit(0.0))
    w = pi / (F.col("__na") / F.col("__n"))
    base = (logs.join(F.broadcast(mu), action_col)
            .crossJoin(F.broadcast(tot))
            .select(w.alias("__w"),
                    (w * F.col(reward_col)).alias("__wr")))
    return base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("__wr"), 6).alias("ips"),
        F.round(F.try_divide(F.sum("__wr"), F.sum("__w")), 6).alias("snips"),
        F.round(F.try_divide(F.sum("__w") * F.sum("__w"),
                             F.sum(F.col("__w") * F.col("__w"))), 6)
        .alias("ess"),
        F.round(F.max("__w"), 6).alias("max_w"))


def selection_rate_parity(df: DataFrame, group_col: str, *,
                          flag_col: str = "selected") -> DataFrame:
    """Selection-rate parity audit across slices — the
    four-fifths-rule check a filtering/selection stage passes before
    its output ships: per-group selection rate, the gap to the
    best-treated group, and the disparate-impact ratio
    (rate / max rate; the EEOC 4/5ths convention flags ratio < 0.8).
    For a data pipeline "selection" is the quality gate — a filter
    that keeps 60% of one source and 15% of another silently
    reweights the corpus.

    One group-keyed aggregation + a broadcast of the 1-row global
    extrema — the same cost as any per-group rate at 100 TB.

    Columns: <group_col>, n, n_selected, rate, rate_gap (max rate −
    rate), impact_ratio (rate / max rate), below_four_fifths.
    """
    g = (df.groupBy(group_col)
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.col(flag_col).cast("int")).alias("n_selected")))
    g = g.withColumn("rate", F.col("n_selected") / F.col("n"))
    mx = g.agg(F.max("rate").alias("__mx"))
    return (g.crossJoin(F.broadcast(mx))
            .select(group_col, F.col("n").cast("long").alias("n"),
                    F.col("n_selected").cast("long").alias("n_selected"),
                    F.round("rate", 6).alias("rate"),
                    F.round(F.col("__mx") - F.col("rate"), 6)
                    .alias("rate_gap"),
                    F.round(F.try_divide(F.col("rate"), F.col("__mx")), 6)
                    .alias("impact_ratio"))
            .withColumn("below_four_fifths",
                        F.col("impact_ratio") < 0.8))


def conformal_coverage(df: DataFrame, *, score_col: str = "score",
                       label_col: str = "label",
                       alpha: float = 0.1,
                       split_expr=None) -> DataFrame:
    """Split-conformal calibration check (Vovk et al.; Angelopoulos
    & Bates 2021 tutorial form) for a probabilistic binary
    classifier: split the frame into calibration/test halves via
    `split_expr`, take the conformal quantile q̂ = the
    ⌈(n+1)(1−α)⌉-th smallest calibration nonconformity
    (s(x,y) = 1 − p̂(y|x)), and report the test-side coverage of
    {s ≤ q̂} — which the conformal guarantee puts at ≥ 1−α
    regardless of the model.

    The order statistic is a distributed top-k cut (ascending
    TakeOrdered k → max), NOT a global rank window. The rank k needs
    the calibration COUNT first: that is one count() action reading
    a single scalar — metadata-sized, the same bounded-driver-read
    class as the d-row moment collect in pca.py — after which the
    scoring plan is fully declarative. At 100 TB the count is a
    partial-aggregated scan; nothing corpus-sized ever converges.

    Columns (one row): n_calib, n_test, qhat, coverage, target.
    """
    if split_expr is None:
        raise ValueError("pass split_expr (deterministic, e.g. hash-based)")
    s = F.when(F.col(label_col).cast("int") == 1,
               1.0 - F.col(score_col).cast("double")) \
        .otherwise(F.col(score_col).cast("double"))
    base = df.select(s.alias("__s"), split_expr.alias("__cal"))
    cal = base.filter(F.col("__cal")).select("__s")
    test = base.filter(~F.col("__cal")).select("__s")
    import math
    n_cal = cal.count()          # bounded scalar action (see docstring)
    k = min(n_cal, int(math.ceil((n_cal + 1) * (1 - alpha))))
    q = (cal.orderBy(F.col("__s").asc()).limit(k)
         .agg(F.max("__s").alias("__q")))
    return (test.crossJoin(F.broadcast(q))
            .agg(F.lit(n_cal).cast("long").alias("n_calib"),
                 F.count(F.lit(1)).cast("long").alias("n_test"),
                 F.round(F.max("__q"), 6).alias("qhat"),
                 F.round(F.avg((F.col("__s") <= F.col("__q"))
                               .cast("double")), 6).alias("coverage"))
            .select("n_calib", "n_test", "qhat", "coverage",
                    F.round(F.lit(1 - alpha), 6).alias("target")))


def mann_whitney_u(df: DataFrame, *, value_col: str = "value",
                   group_col: str = "arm") -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) between two groups — the
    nonparametric arm comparison for heavy-tailed metrics where the
    t/z-on-means test is dominated by outliers: U = #{(i,j):
    v_i > v_j} + ½·ties over cross-group pairs, with the normal
    approximation z = (U − n₁n₀/2)/σ using the TIE-CORRECTED
    variance σ² = n₁n₀/12·((n+1) − Σ(t³−t)/(n(n−1))).

    U is roc_auc's numerator with label = group: Σ__c of `_rank_sum`
    (one constant group key), and the tie term Σ(t³−t) is one extra
    expression on the same per-value rows. No global rank window
    exists anywhere.

    Columns (one row): n_1, n_0, u (round 6), z (round 6; null when
    a group is empty or all values tie).
    """
    rows = df.select(F.lit(0).alias("__g"),
                     F.col(value_col).cast("double").alias("__s"),
                     F.col(group_col).cast("int").alias("__y"))
    # tie correction in DOUBLE from the first multiply: t is a
    # per-distinct-VALUE tie count, and a discrete metric at corpus
    # scale (e.g. value=0) makes t³ blow past int64 at just
    # t ≥ ~2.1M — the earliest-overflowing member of the count-
    # product bug class (oracle mirrors: t::DOUBLE * t * t - t)
    td = (F.col("__pos") + F.col("__neg")).cast("double")
    contrib = _rank_sum(rows, ["__g"]).select(
        "__pos", "__neg", "__c", (td * td * td - td).alias("__t3"))
    n1, n0 = F.sum("__pos").cast("double"), F.sum("__neg").cast("double")
    n = n1 + n0
    u = F.sum("__c")
    sigma2 = (n1 * n0 / 12.0
              * ((n + 1.0) - F.sum("__t3") / (n * (n - 1.0))))
    z = F.when(sigma2 > 0, (u - n1 * n0 / 2.0) / F.sqrt(sigma2))
    return contrib.agg(
        F.sum("__pos").cast("long").alias("n_1"),
        F.sum("__neg").cast("long").alias("n_0"),
        F.round(u, 6).alias("u"),
        F.round(z, 6).alias("z"))


def gains_curve(df: DataFrame, *, score_col: str = "score",
                label_col: str = "label",
                n_bands: int = 10) -> DataFrame:
    """Cumulative gains / lift table — the model-triage view for a
    ranking classifier ("the top decile captures X% of positives at
    Y× random"): rows bucketed into `n_bands` equal-width score
    bands (descending — band 1 is the HIGHEST-score slice), each
    band reporting its positive count, the cumulative share of all
    positives captured down to it, and the cumulative lift vs
    random targeting.

    One banded aggregation + one window over ≤n_bands rows
    (partitioned structure: the band table itself) + a broadcast
    1-row total. Equal-WIDTH bands (not quantile bands) keep the
    banding a pure expression — no rank, no sort, engine-mirrorable.

    Columns: band, n, n_pos, cum_pos_share, cum_row_share, lift
    (round 6).
    """
    s = F.col(score_col).cast("double")
    # clamp BOTH sides: floor(s*n_bands) is capped high by least()
    # and low by greatest(0, ...) so out-of-contract scores (<0 or
    # >1) still land in the documented 1..n_bands range instead of
    # minting a band outside it
    band = (F.lit(n_bands)
            - F.greatest(F.lit(0),
                         F.least(F.floor(s * n_bands),
                                 F.lit(n_bands - 1)))).cast("long")
    per = (df.select(band.alias("band"),
                     F.col(label_col).cast("int").alias("__y"))
           .groupBy("band")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("__y").alias("n_pos")))
    tot = per.agg(F.sum("n").alias("__tn"), F.sum("n_pos").alias("__tp"))
    w = (Window.orderBy("band")
         .rowsBetween(Window.unboundedPreceding, 0))
    # the window runs over the ≤n_bands band table only — a
    # documented bounded single-partition structure
    cum = (per.withColumn("__cn", F.sum("n").over(w))
           .withColumn("__cp", F.sum("n_pos").over(w))
           .crossJoin(F.broadcast(tot)))
    return cum.select(
        "band", F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.round(F.try_divide(F.col("__cp"), F.col("__tp")), 6)
        .alias("cum_pos_share"),
        F.round(F.col("__cn") / F.col("__tn"), 6).alias("cum_row_share"),
        F.round(F.try_divide(F.try_divide(F.col("__cp"), F.col("__tp")),
                             F.col("__cn") / F.col("__tn")), 6)
        .alias("lift"))


def required_sample_size(events: DataFrame, *, user_col: str = "user_id",
                         mdes: list | None = None) -> DataFrame:
    """Experiment power calculator seeded from the LIVE baseline:
    estimate the current per-user conversion rate (share of users
    with a 'purchase' event), then for each
    minimum detectable effect (absolute Δ) report the required
    users PER ARM for a two-proportion test at α=0.05 two-sided /
    80% power — n = (z_{α/2}+z_β)²·2p̄(1−p̄)/Δ² with p̄ the midpoint
    rate. The pre-experiment sizing every platform pairs with
    `group_sequential_ab`; z constants are the standard normal
    quantiles z_{α/2} = 1.959964 and z_β = 0.841621 as shared
    literals.

    One per-user aggregation → one global rate row → |mdes| rows of
    closed-form algebra. Columns: mde, base_rate, n_per_arm,
    total_users (round 6 / ceil).
    """
    if mdes is None:
        mdes = [0.01, 0.02, 0.05]
    per_user = (events.groupBy(user_col)
                .agg(F.max(F.expr("CASE WHEN event_type = 'purchase' "
                                  "THEN 1 ELSE 0 END")).alias("__c")))
    rate = per_user.agg(F.avg("__c").alias("__p"))
    parts = []
    for d in mdes:
        pbar = F.col("__p") + d / 2.0
        n = (F.ceil(F.pow(F.lit(1.959964 + 0.841621), 2) * 2.0
                    * pbar * (1.0 - pbar) / (d * d))
             .cast("long"))
        parts.append(rate.select(
            F.lit(float(d)).alias("mde"),
            F.round("__p", 6).alias("base_rate"),
            n.alias("n_per_arm"),
            (n * 2).cast("long").alias("total_users")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def groundedness(answers: DataFrame, sources: DataFrame, *,
                 key_col: str = "doc_id", answer_col: str = "answer",
                 source_col: str = "text", n: int = 2) -> DataFrame:
    """Attribution / groundedness of generated text against its
    retrieved source — the RAG-eval primitive behind "is the answer
    supported by the context": the fraction of the answer's word
    n-grams that appear anywhere in the paired source text (n=2
    default — unigram support is too easy, long-n too strict; the
    RAGAS/attribution-benchmark convention). Low support flags
    hallucinated spans; 1.0 means every answer bigram occurs in the
    context.

    Shape: tokenize both sides (narrow maps), explode the answer's
    n-grams and the source's DISTINCT n-grams, and join them per
    (key, gram) — both exchanges are (key, gram)-keyed, so cost is
    corpus-linear and a hot document only ever meets its OWN
    answer's grams (never a cross join). Answers with < n tokens
    have no grams and are OMITTED from the output (the aggregation
    is grouped from the exploded gram stream, so a gramless answer
    contributes no rows — absence of evidence, not support=0).

    Columns: <key_col>, n_grams, n_supported, support (round 6).
    """
    from parlerproject_spark.functions.text import tokenize, word_ngrams
    from parlerproject_spark.operators.layout import spread_input

    # Token arrays materialize through a spread_input() exchange
    # BEFORE the gram transform (the distinct_ngram/repetition-span
    # caller shape): a mere projection is NOT a barrier — Catalyst
    # collapses it and re-substitutes the tokenize() regex split into
    # every element_at inside word_ngrams' lambda, re-splitting the
    # whole document once per gram (O(tokens²)/doc; measured 38 s at
    # sf0.1, ~2 s with the exchange). The spread also keeps the
    # ~tokens× gram explode off the scan's few input splits.
    ag = (spread_input(answers.select(F.col(key_col).alias("__k"),
                                      tokenize(answer_col).alias("__t")))
          .select("__k", F.explode(word_ngrams(F.col("__t"), n))
                  .alias("gram")))
    sg = (spread_input(sources.select(F.col(key_col).alias("__k"),
                                      tokenize(source_col).alias("__t")))
          .select("__k", F.explode(word_ngrams(F.col("__t"), n))
                  .alias("gram"))
          .distinct())
    hit = sg.withColumn("__hit", F.lit(1))
    j = (ag.join(hit, ["__k", "gram"], "left")
         .groupBy("__k")
         .agg(F.count(F.lit(1)).alias("n_grams"),
              F.sum(F.coalesce("__hit", F.lit(0))).alias("n_supported")))
    return j.select(
        F.col("__k").alias(key_col),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_supported").cast("long").alias("n_supported"),
        F.round(F.col("n_supported") / F.col("n_grams"), 6)
        .alias("support"))


def _answer_grams(answers: DataFrame, key_col: str, answer_col: str,
                  n: int) -> DataFrame:
    """(__k, gram) — every answer n-gram occurrence, materialized
    through a spread_input exchange first (the groundedness barrier
    contract: word_ngrams must see a materialized token array)."""
    from parlerproject_spark.functions.text import tokenize, word_ngrams
    from parlerproject_spark.operators.layout import spread_input

    return (spread_input(answers.select(F.col(key_col).alias("__k"),
                                        tokenize(answer_col).alias("__t")))
            .select("__k", F.explode(word_ngrams(F.col("__t"), n))
                    .alias("gram")))


def _citation_frames(answers: DataFrame, citations: DataFrame,
                     sources: DataFrame, *, key_col: str, answer_col: str,
                     src_col: str, source_col: str,
                     source_key_col: str | None,
                     n: int) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three keyed frames citation_support and
    citation_precision_recall probe: answer grams (__k, gram) — the
    groundedness exchange contract; DISTINCT citation edges
    (__k, __s); and each source's DISTINCT gram set flagged
    (__s, gram, __hit = 1), tokenized through a spread_input barrier.
    `source_key_col` names the sources' key (default: key_col)."""
    from parlerproject_spark.functions.text import tokenize, word_ngrams
    from parlerproject_spark.operators.layout import spread_input

    ag = _answer_grams(answers, key_col, answer_col, n)
    cit = (citations.select(F.col(key_col).alias("__k"),
                            F.col(src_col).alias("__s"))
           .distinct())
    skey = source_key_col or key_col
    hit = (spread_input(sources.select(F.col(skey).alias("__s"),
                                       tokenize(source_col).alias("__t")))
           .select("__s", F.explode(word_ngrams(F.col("__t"), n))
                   .alias("gram"))
           .distinct()
           .withColumn("__hit", F.lit(1)))
    return ag, cit, hit


def citation_support(answers: DataFrame, citations: DataFrame,
                     sources: DataFrame, *, key_col: str = "doc_id",
                     answer_col: str = "answer", src_col: str = "src_id",
                     source_col: str = "text",
                     source_key_col: str | None = None,
                     n: int = 2) -> DataFrame:
    """Per-(answer, cited source) attribution — the multi-source
    extension of `groundedness` (VERDICT r8 item 6): for every
    citation edge (answer key → source key), the share of the
    answer's word n-grams that appear in THAT cited source. This is
    the "does the citation actually support the claim" primitive of
    RAG citation evaluation (the ALCE / attribution-benchmark
    convention); a citation whose support is ~0 is decorative, and
    an answer whose grams no citation covers is unattributed.
    Reference tie: the semi-join provenance pattern of
    analysis/preview_data.ipynb:127-129 (posts matched back to the
    archive members that evidence them).

    Shape: answer grams explode once ((key, gram)-keyed, the
    groundedness exchange contract), fan out ONLY to that answer's
    citation edges (a keyed join — cost is grams × citations-per-
    answer, corpus-linear), then probe the cited sources' DISTINCT
    gram sets on (src, gram). No cross join anywhere; a hot source
    only ever meets grams of answers that actually cite it.

    A citation to a missing or gram-disjoint source keeps its row
    with n_supported = 0 (that's the signal); answers with < n
    tokens are omitted (no grams — the groundedness convention).
    Columns: <key_col>, <src_col>, n_grams, n_supported, support.
    """
    ag, cit, hit = _citation_frames(
        answers, citations, sources, key_col=key_col,
        answer_col=answer_col, src_col=src_col, source_col=source_col,
        source_key_col=source_key_col, n=n)
    pair = (ag.join(cit, "__k")
            .join(hit, ["__s", "gram"], "left")
            .groupBy("__k", "__s")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum(F.coalesce("__hit", F.lit(0))).alias("n_supported")))
    return pair.select(
        F.col("__k").alias(key_col), F.col("__s").alias(src_col),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_supported").cast("long").alias("n_supported"),
        F.round(F.col("n_supported") / F.col("n_grams"), 6)
        .alias("support"))


def citation_precision_recall(answers: DataFrame, citations: DataFrame,
                              sources: DataFrame, *,
                              key_col: str = "doc_id",
                              answer_col: str = "answer",
                              src_col: str = "src_id",
                              source_col: str = "text",
                              source_key_col: str | None = None,
                              n: int = 2) -> DataFrame:
    """Per-answer citation precision/recall over multi-source
    citations: precision = share of this answer's citations that
    support at least one of its grams (non-decorative citations);
    recall = share of the answer's gram OCCURRENCES whose value
    appears in at least one cited source (the attributable
    fraction). Composes the same keyed building blocks as
    `citation_support`; coverage dedups per gram VALUE before the
    probe so a repeated gram costs one lookup, then re-weights by
    its occurrence count.

    Columns: <key_col>, n_cited, n_supporting, n_grams, n_covered,
    precision, recall (round 6). Answers with < n tokens are
    omitted; an answer none of whose citations exist still reports
    (precision 0, recall 0).
    """
    ag, cit, hit = _citation_frames(
        answers, citations, sources, key_col=key_col,
        answer_col=answer_col, src_col=src_col, source_col=source_col,
        source_key_col=source_key_col, n=n)
    # ONE probe, ONE chain (the round-11 scan-budget audit caught
    # the old covered/supporting/per_key/cit_stats four-branch form
    # re-reading every input 2-3x): each (answer gram, citation)
    # pair is marked supported by a single LEFT join against the
    # source-gram table, then a (key, gram) rollup folds the
    # coverage flag AND the per-gram supporting/cited source sets —
    # sets are bounded by the answer's citation count, never the
    # corpus — and one key rollup finishes. Every input is scanned
    # exactly once.
    agv = ag.groupBy("__k", "gram").agg(F.count(F.lit(1)).alias("__cnt"))
    probe = (agv.join(cit, "__k")
             .join(hit, ["__s", "gram"], "left"))
    gram_rollup = (probe.groupBy("__k", "gram")
                   .agg(F.first("__cnt").alias("__cnt"),
                        F.max(F.coalesce("__hit", F.lit(0)))
                        .alias("__cov"),
                        # collect_set skips nulls: only supporting
                        # sources enter; __alls carries every cited
                        # source (identical across the key's grams)
                        F.collect_set(
                            F.when(F.col("__hit").isNotNull(),
                                   F.col("__s"))).alias("__sups"),
                        F.collect_set("__s").alias("__alls")))
    per_key = (gram_rollup.groupBy("__k")
               .agg(F.sum("__cnt").alias("n_grams"),
                    F.sum(F.when(F.col("__cov") == 1, F.col("__cnt"))
                          .otherwise(F.lit(0))).alias("n_covered"),
                    F.size(F.array_distinct(
                        F.flatten(F.collect_list("__sups"))))
                    .alias("n_supporting"),
                    F.size(F.first("__alls")).alias("n_cited")))
    return (per_key
            .select(F.col("__k").alias(key_col),
                    F.col("n_cited").cast("long").alias("n_cited"),
                    F.col("n_supporting").cast("long").alias("n_supporting"),
                    F.col("n_grams").cast("long").alias("n_grams"),
                    F.col("n_covered").cast("long").alias("n_covered"),
                    F.round(F.col("n_supporting") / F.col("n_cited"), 6)
                    .alias("precision"),
                    F.round(F.col("n_covered") / F.col("n_grams"), 6)
                    .alias("recall")))


def chrf_pairs(cand: DataFrame, ref: DataFrame, *,
               pair_col: str = "pair_id", text_col: str = "text",
               n_max: int = 3, beta: float = 2.0,
               max_chars: int | None = None) -> DataFrame:
    """Corpus-scale chrF between aligned (candidate, reference) text
    pairs (Popović 2015) — the character-n-gram F-score that is the
    tokenization-free companion to BLEU for generation/MT eval (and
    the one that keeps working on unsegmented scripts where word
    BLEU degenerates).

    Semantics contract: whitespace runs are REMOVED before gram
    extraction (the chrF convention); for each order n ∈ 1..n_max,
    matched_n = Σ_g min(cand_count, ref_count) (clipped, like BLEU),
    P_n = matched_n / cand_grams_n, R_n = matched_n / ref_grams_n.
    An order participates only when BOTH sides have ≥ 1 gram of that
    order; chrP / chrR are the plain means over participating orders
    (explicit left-to-right sums over the pivoted per-order columns,
    so the float op order is engine-portable), and
    chrF_β = (1+β²)·P·R / (β²·P + R) computed FROM the 6-dp-rounded
    components (0.0 when P+R = 0). Pairs where no order participates
    (either side squashes to '') report 0.0 with n_orders = 0.

    Scale shape: ONE scan per side — each side is a single linear
    chain to its (pair, n, gram) count table, with the squashed
    LENGTH riding every row (gram totals are len − n + 1, never a
    second aggregation) and a null-gram sentinel row (explode_outer
    of a when-guarded position sequence) keeping orders the text is
    too short for — and fully empty texts — alive without a
    separate lens pass; the round-11 scan-budget audit caught the
    old lens+grams two-consumer form re-reading documents 8×. One
    full-outer join on (pair, n, gram) clips (null grams never
    match; a cand-only gram sees ref count 0, a ref-only gram is
    excluded exactly as the old left join did), then one
    (pair, n)-keyed and one pair-keyed aggregation finish. Character
    grams are a chars×n_max row blow-up, so the squashed text is
    routed through spread_input first and `max_chars` bounds
    per-doc cost (a snippet-chrF contract for long documents;
    None = full text). The gram explode is a JVM codegen substring
    over an exploded position sequence — no interpreted
    higher-order-function lambda in the hot path.

    Columns: pair_id, n_orders, chrp, chrr, chrf.
    """
    from parlerproject_spark.operators.layout import spread_input

    def grams(df, side):
        s = F.regexp_replace(F.col(text_col), r"\s+", "")
        if max_chars is not None:
            s = F.substring(s, 1, max_chars)
        sdf = spread_input(
            df.select(F.col(pair_col).alias("__pid"), s.alias("__s")))
        # explode_outer + when-guard: orders with no position (text
        # shorter than n, incl. '') yield ONE null-gram sentinel row
        # that carries the length — no second lens consumer
        pos = F.explode_outer(F.when(
            F.length("__s") >= F.col("__n"),
            F.sequence(F.lit(1), F.length("__s") - F.col("__n") + 1)))
        return (sdf.select("__pid", F.length("__s").alias(f"__l{side}"),
                           "__s")
                .withColumn("__n", F.explode(F.sequence(F.lit(1),
                                                        F.lit(n_max))))
                .withColumn("__p", pos)
                .select("__pid", "__n", f"__l{side}",
                        F.when(F.col("__p").isNotNull(),
                               F.substring(F.col("__s"), F.col("__p"),
                                           F.col("__n"))).alias("__g"))
                .groupBy("__pid", "__n", "__g")
                .agg(F.sum(F.when(F.col("__g").isNotNull(), 1)
                           .otherwise(0)).alias(f"__c{side}"),
                     F.first(f"__l{side}").alias(f"__l{side}")))

    full = grams(cand, "c").join(grams(ref, "r"),
                                 ["__pid", "__n", "__g"], "full")
    orders = (full.groupBy("__pid", "__n")
              .agg(F.max("__lc").alias("__lc"),
                   F.max("__lr").alias("__lr"),
                   F.coalesce(F.sum(F.when(
                       F.col("__cc").isNotNull(),
                       F.least(F.col("__cc"),
                               F.coalesce("__cr", F.lit(0))))),
                       F.lit(0)).alias("__m"))
              # a pair participates at all only when BOTH sides exist
              .filter(F.col("__lc").isNotNull()
                      & F.col("__lr").isNotNull())
              .select("__pid", "__n", "__m",
                      ((F.col("__lc") >= F.col("__n"))
                       & (F.col("__lr") >= F.col("__n")))
                      .alias("__part"),
                      (F.col("__lc") - F.col("__n") + 1).alias("__tc"),
                      (F.col("__lr") - F.col("__n") + 1).alias("__tr")))
    piv = orders.groupBy("__pid").agg(
        *[F.max(F.when((F.col("__n") == n) & F.col("__part"),
                       F.col("__m") / F.col("__tc")))
          .alias(f"__p{n}") for n in range(1, n_max + 1)],
        *[F.max(F.when((F.col("__n") == n) & F.col("__part"),
                       F.col("__m") / F.col("__tr")))
          .alias(f"__r{n}") for n in range(1, n_max + 1)])
    n_orders = sum((F.when(F.col(f"__p{n}").isNotNull(), 1).otherwise(0)
                    for n in range(1, n_max + 1)), F.lit(0))
    psum = F.lit(0.0)
    rsum = F.lit(0.0)
    for n in range(1, n_max + 1):
        psum = psum + F.coalesce(F.col(f"__p{n}"), F.lit(0.0))
        rsum = rsum + F.coalesce(F.col(f"__r{n}"), F.lit(0.0))
    b2 = float(beta) * float(beta)
    base = piv.select(F.col("__pid").alias(pair_col),
                      n_orders.cast("long").alias("n_orders"),
                      F.when(n_orders > 0, F.round(psum / n_orders, 6))
                      .otherwise(F.lit(0.0)).alias("chrp"),
                      F.when(n_orders > 0, F.round(rsum / n_orders, 6))
                      .otherwise(F.lit(0.0)).alias("chrr"))
    chrf = F.when(F.col("chrp") + F.col("chrr") > 0.0,
                  F.round((1.0 + b2) * F.col("chrp") * F.col("chrr")
                          / (b2 * F.col("chrp") + F.col("chrr")), 6)) \
        .otherwise(F.lit(0.0))
    return base.withColumn("chrf", chrf)


def pass_at_k(results: DataFrame, *, task_col: str = "task_id",
              correct_col: str = "correct",
              ks: "Sequence[int]" = (1, 5, 10)) -> DataFrame:
    """Unbiased pass@k over per-task sampled attempts (Chen et al.
    2021, the HumanEval estimator): with n attempts and c correct
    for a task, pass@k = 1 − C(n−c, k)/C(n, k) — the probability
    that at least one of k uniformly drawn attempts is correct —
    averaged across tasks per k. The closed form is evaluated as
    1 − exp(Σ_{i=0}^{k−1} (ln(n−c−i) − ln(n−i))) with explicit
    guards: c = 0 → exactly 0.0, n − c < k → exactly 1.0 (no float
    residue on the certain cases). Per-task values are 6-dp rounded
    before the cross-task mean, which is rounded again — the
    iterative-oracle rounding contract.

    Scale shape: ONE task-keyed aggregation reduces the attempt
    corpus to (task, n, c); everything after runs on the task table
    (×|ks| and ×k bounded row blow-ups for the log-sum, keyed on
    (task, k) with map-side combine). Tasks with n < max(ks) still
    score (pass@k is defined whenever n ≥ 1; for k > n the estimator
    clamps to the k = n value by construction since C(n−c,k) = 0
    unless n−c ≥ k). No windows, no driver state.

    Columns (one row per k): k, n_tasks, n_solved, mean_pass_at_k.
    """
    per_task = (results.groupBy(F.col(task_col).alias("__t"))
                .agg(F.count(F.lit(1)).alias("__n"),
                     F.sum(F.col(correct_col).cast("int")).alias("__c")))
    tk = (per_task.withColumn(
        "__k", F.explode(literal([int(k) for k in ks], "array<int>"))))
    logsum = (tk.filter((F.col("__c") > 0)
                        & (F.col("__n") - F.col("__c") >= F.col("__k")))
              .withColumn("__i", F.explode(
                  F.sequence(F.lit(0), F.col("__k") - 1)))
              .groupBy("__t", "__k")
              .agg(F.sum(F.log(F.col("__n") - F.col("__c") - F.col("__i"))
                         - F.log(F.col("__n") - F.col("__i")))
                   .alias("__s")))
    scored = (tk.join(logsum, ["__t", "__k"], "left")
              .select("__t", "__k", "__c",
                      F.when(F.col("__c") == 0, F.lit(0.0))
                      .when(F.col("__n") - F.col("__c") < F.col("__k"),
                            F.lit(1.0))
                      .otherwise(F.round(1.0 - F.exp(F.col("__s")), 6))
                      .alias("__pass")))
    return (scored.groupBy(F.col("__k").alias("k"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_tasks"),
                 F.sum(F.when(F.col("__c") > 0, 1).otherwise(0))
                 .cast("long").alias("n_solved"),
                 F.round(F.avg("__pass"), 6).alias("mean_pass_at_k"))
            .orderBy("k"))


def krippendorff_alpha(ratings: DataFrame, *, item_col: str = "item_id",
                       label_col: str = "label") -> DataFrame:
    """Krippendorff's alpha (nominal) — the chance-corrected
    agreement coefficient that, unlike Fleiss' kappa, tolerates
    MISSING ratings: items may carry any number of ratings ≥ 2 and
    still contribute (the real shape of a crowd labeling job, where
    fleiss_kappa's fixed-m contract silently drops partial items).

    Coincidence-matrix algebra reduced to three aggregates: with
    n_uc = count of label c on item u and m_u = Σ_c n_uc (items with
    m_u < 2 excluded — no pairable rating),
      A = Σ_u Σ_c n_uc·(n_uc − 1) / (m_u − 1)   (matched pairs)
      n = Σ_u m_u,  B = Σ_c n_c²  with n_c = Σ_u n_uc
      α = 1 − (n − A)(n − 1) / (n² − B)
    which is exactly 1 − D_o/D_e for nominal data. Do/De are also
    reported (6-dp rounded, as is α — rounded AFTER each global
    aggregate, the cross-engine contract).

    Scale: one (item, label) cell aggregation over the raw frame,
    then one item-keyed and one label-keyed aggregation over the
    cell table (each no wider than items × labels), then single-row
    algebra. No windows, no joins against the raw frame. Degenerate
    inputs (n ≤ 1 pairable ratings, or every rating the same single
    label → D_e = 0) report NULL alpha rather than a division blowup.

    Columns (one row): n_items, n_ratings, do_rate, de_rate, alpha.
    """
    cell = (ratings.groupBy(F.col(item_col).alias("__u"),
                            F.col(label_col).alias("__c"))
            .agg(F.count(F.lit(1)).alias("__n")))
    items = (cell.groupBy("__u")
             .agg(F.sum("__n").alias("__m"),
                  F.sum(F.col("__n") * (F.col("__n") - 1)).alias("__mm"))
             .filter(F.col("__m") >= 2))
    per_item = items.select(
        "__u", "__m",
        (F.col("__mm") / (F.col("__m") - 1.0)).alias("__a"))
    glob = per_item.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("__m").cast("long").alias("n"),
        F.sum("__a").alias("A"))
    labels = (cell.join(items.select("__u"), "__u", "left_semi")
              .groupBy("__c").agg(F.sum("__n").alias("__nc")))
    # B = Σ n_c² with n_c corpus-scale label totals: square in
    # DOUBLE (oracle mirrors nc::DOUBLE * nc) — the bigint square
    # overflows at ~3×10⁹ ratings of one label. The per-item __mm
    # above stays integer: n_uc is bounded by an item's rater count.
    bsum = labels.agg(
        F.sum(F.col("__nc").cast("double") * F.col("__nc")).alias("B"))
    j = glob.crossJoin(F.broadcast(bsum))
    n = F.col("n").cast("double")
    de_den = n * (n - 1.0)
    do = F.when(n > 0, F.round((n - F.col("A")) / n, 6))
    de = F.when(de_den > 0,
                F.round((n * n - F.col("B")) / de_den, 6))
    alpha = F.when(
        (de_den > 0) & ((n * n - F.col("B")) > 0),
        F.round(1.0 - (n - F.col("A")) * (n - 1.0)
                / (n * n - F.col("B")), 6))
    return j.select("n_items", F.col("n").alias("n_ratings"),
                    do.alias("do_rate"), de.alias("de_rate"),
                    alpha.alias("alpha"))


def krippendorff_alpha_metric(ratings: DataFrame, *,
                              item_col: str = "item_id",
                              label_col: str = "label",
                              metric: str = "ordinal") -> DataFrame:
    """Krippendorff's alpha for ORDERED label scales — the ordinal
    and interval difference functions the nominal coefficient
    (krippendorff_alpha) cannot express: confusing grade 1 with
    grade 5 must cost more than confusing 1 with 2. Labels must be
    numeric; their values define the order (ordinal) or the distance
    itself (interval).

    Same missing-tolerant coincidence algebra as the nominal form,
    with a squared difference weight δ²(c,k) on every label pair:
      interval: δ(c,k) = c − k
      ordinal:  δ(c,k) = (Σ_{g=c..k} n_g − (n_c + n_k)/2) / n
                (Krippendorff 2011), computed from the pairable-
                rating marginals n_g via one cumulative sum — with
                cum inclusive, 2·n·δ = 2·(cum_k − cum_c) + n_c − n_k
                for c ≤ k, an INTEGER ≤ 2n. The 1/n normalization
                (α-invariant: it scales D_o and D_e identically)
                keeps δ² = (2nδ)²/(4n²) in O(1) — WITHOUT it the raw
                count-scaled δ² pushes the D_e sum toward 2^53 where
                6-dp rounding of the reported rates stops being
                double-stable across engines.
    With o_ck = Σ_u n_uc·(n_uk − [c=k])/(m_u − 1) (the δ_cc = 0
    diagonal drops out),
      D_o = Σ_{c≠k} o_ck·δ²_ck / n
      D_e = Σ_{c≠k} n_c·n_k·δ²_ck / (n·(n−1))
      α   = 1 − D_o/D_e
    (both sums over ORDERED pairs — the double-count cancels in the
    ratio; interval/ordinal with δ² ≡ 1 reduces to the nominal form,
    the pytest cross-check).

    Scale shape: one (item, label) cell aggregation over the raw
    frame; the label-marginal table and the δ² pair table are
    bounded by |labels| and |labels|² (the ordinal cumsum window
    runs over that bounded marginal table, never the data); the D_o
    sum self-joins the cell table per item — each item contributes
    ≤ |labels_u|² rows — with δ² broadcast onto it. No windows or
    joins against the raw frame. Degenerate inputs (n ≤ 1 pairable
    ratings, or D_e = 0) report NULL alpha.

    Columns (one row): metric, n_items, n_ratings, do_rate, de_rate,
    alpha (rates rounded 6 dp after each global aggregate).
    """
    if metric not in ("ordinal", "interval"):
        raise ValueError(f"unknown metric {metric!r}")
    cell = (ratings.groupBy(
        F.col(item_col).alias("__u"),
        F.col(label_col).cast("double").alias("__c"))
        .agg(F.count(F.lit(1)).alias("__n")))
    items = (cell.groupBy("__u").agg(F.sum("__n").alias("__m"))
             .filter(F.col("__m") >= 2))
    pc = cell.join(items, "__u")
    labels = pc.groupBy("__c").agg(F.sum("__n").alias("__nc"))
    glob = items.agg(F.count(F.lit(1)).cast("long").alias("n_items"),
                     F.sum("__m").cast("long").alias("n"))

    if metric == "ordinal":
        w = (Window.orderBy("__c")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        labs = labels.withColumn("__cum", F.sum("__nc").over(w))
        a = labs.select(F.col("__c").alias("__ca"),
                        F.col("__nc").alias("__na"),
                        F.col("__cum").alias("__cua"))
        b = labs.select(F.col("__c").alias("__cb"),
                        F.col("__nc").alias("__nb"),
                        F.col("__cum").alias("__cub"))
        two = (F.when(F.col("__ca") < F.col("__cb"),
                      2 * (F.col("__cub") - F.col("__cua"))
                      + F.col("__na") - F.col("__nb"))
               .when(F.col("__ca") > F.col("__cb"),
                     2 * (F.col("__cua") - F.col("__cub"))
                     + F.col("__nb") - F.col("__na"))
               .otherwise(F.lit(0)))
        nn = F.col("n").cast("double")
        pairs = (a.crossJoin(b)
                 .crossJoin(F.broadcast(glob.select("n")))
                 .select("__ca", "__cb", "__na", "__nb",
                         ((two * two).cast("double")
                          / (4.0 * nn * nn)).alias("__d2")))
    else:
        a = labels.select(F.col("__c").alias("__ca"),
                          F.col("__nc").alias("__na"))
        b = labels.select(F.col("__c").alias("__cb"),
                          F.col("__nc").alias("__nb"))
        diff = F.col("__ca") - F.col("__cb")
        pairs = (a.crossJoin(b)
                 .select("__ca", "__cb", "__na", "__nb",
                         (diff * diff).alias("__d2")))

    de = pairs.agg(
        F.sum(F.col("__na") * F.col("__nb") * F.col("__d2"))
        .alias("__de_num"))
    left = pc.select("__u", F.col("__c").alias("__ca"),
                     F.col("__n").alias("__xa"), "__m")
    right = pc.select("__u", F.col("__c").alias("__cb"),
                      F.col("__n").alias("__xb"))
    do = (left.join(right, "__u")
          .filter(F.col("__ca") != F.col("__cb"))
          .join(F.broadcast(pairs.select("__ca", "__cb", "__d2")),
                ["__ca", "__cb"])
          .agg(F.sum(F.col("__xa") * F.col("__xb") * F.col("__d2")
                     / (F.col("__m") - 1.0)).alias("__do_num")))
    j = (glob.crossJoin(F.broadcast(do)).crossJoin(F.broadcast(de)))
    n = F.col("n").cast("double")
    do_num = F.coalesce(F.col("__do_num"), F.lit(0.0))
    de_num = F.coalesce(F.col("__de_num"), F.lit(0.0))
    return j.select(
        F.lit(metric).alias("metric"),
        "n_items", F.col("n").alias("n_ratings"),
        F.when(n > 0, F.round(do_num / n, 6)).alias("do_rate"),
        F.when(n * (n - 1.0) > 0,
               F.round(de_num / (n * (n - 1.0)), 6)).alias("de_rate"),
        F.when((n > 1) & (de_num > 0),
               F.round(1.0 - do_num * (n - 1.0) / de_num, 6))
        .alias("alpha"))


def rouge_l_pairs(cand: DataFrame, ref: DataFrame, *,
                  pair_col: str = "pair_id", text_col: str = "text",
                  max_cand_tokens: int = 24,
                  max_ref_tokens: int = 60) -> DataFrame:
    """ROUGE-L between aligned (candidate, reference) text pairs
    (Lin 2004): token-level longest-common-subsequence precision
    LCS/|cand|, recall LCS/|ref|, and their harmonic mean (β = 1,
    the rouge-score library's fmeasure) — the order-sensitive
    summarization metric that BLEU/chrF's bag-of-n-grams cannot
    express (they score transposed sentences identically; LCS does
    not). Token lists are truncated to (max_cand_tokens,
    max_ref_tokens) — the snippet-cost contract, and the bound that
    keeps the oracle's bit-parallel replay inside 63-bit integers.

    Scale shape: ONE pair join brings both token lists together,
    then an Arrow mapInPandas computes each pair's LCS with the
    classic O(n·m) DP — integers only, so the result is engine-exact
    with no float-order caveats; P/R/F are derived as JVM
    expressions from the integer counts (rounded at 6 dp, F from the
    rounded P/R). Per-pair cost is capped by the truncation bounds;
    nothing shuffles at token granularity. The SQL oracle replays
    LCS with the Allison–Dix/Hyyrö bit-parallel recurrence
    V' = ((V+U) | (V−U)) & mask, U = V & match_mask — one CTE per
    candidate position, equal to the DP by construction.

    Columns: pair_id, n_cand, n_ref, lcs, rouge_p, rouge_r, rouge_l.
    """
    from collections.abc import Iterator

    import pandas as pd

    def toks(df, n):
        ws = F.filter(F.split(F.col(text_col), r"\s+"),
                      lambda t: F.length(t) > 0)
        return df.select(F.col(pair_col).alias("__pid"),
                         F.slice(ws, 1, n).alias("__ws"))

    joined = (toks(cand, max_cand_tokens)
              .join(toks(ref, max_ref_tokens)
                    .withColumnRenamed("__ws", "__rs"), "__pid"))

    def lcs_batch(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        def lcs(a, b) -> int:
            # bounded DP (caps make n*m a constant); integers only
            n, m = len(a), len(b)
            if n == 0 or m == 0:
                return 0
            prev = [0] * (m + 1)
            for i in range(1, n + 1):
                cur = [0] * (m + 1)
                ai = a[i - 1]
                for j in range(1, m + 1):
                    cur[j] = (prev[j - 1] + 1 if ai == b[j - 1]
                              else max(prev[j], cur[j - 1]))
                prev = cur
            return prev[m]

        for pdf in it:
            yield pd.DataFrame({
                "__pid": pdf["__pid"],
                "n_cand": [len(a) for a in pdf["__ws"]],
                "n_ref": [len(b) for b in pdf["__rs"]],
                "lcs": [lcs(list(a), list(b))
                        for a, b in zip(pdf["__ws"], pdf["__rs"])]})

    # derive the pair-id type from the input (string/int ids keep
    # working — the landmark_projection lesson from round-8 advice)
    pid_t = dict(cand.dtypes)[pair_col]
    out = joined.mapInPandas(
        lcs_batch,
        schema=f"__pid {pid_t}, n_cand long, n_ref long, lcs long")
    p = F.when(F.col("n_cand") > 0,
               F.round(F.col("lcs") / F.col("n_cand"), 6)) \
        .otherwise(F.lit(0.0))
    r = F.when(F.col("n_ref") > 0,
               F.round(F.col("lcs") / F.col("n_ref"), 6)) \
        .otherwise(F.lit(0.0))
    base = out.select(F.col("__pid").alias(pair_col), "n_cand", "n_ref",
                      "lcs", p.alias("rouge_p"), r.alias("rouge_r"))
    f1 = F.when(F.col("rouge_p") + F.col("rouge_r") > 0.0,
                F.round(2.0 * F.col("rouge_p") * F.col("rouge_r")
                        / (F.col("rouge_p") + F.col("rouge_r")), 6)) \
        .otherwise(F.lit(0.0))
    return base.withColumn("rouge_l", f1)


def edit_distance_pairs(cand: DataFrame, ref: DataFrame, *,
                        pair_col: str = "pair_id", text_col: str = "text",
                        max_chars: int = 200,
                        max_tokens: int = 40) -> DataFrame:
    """Character and word error rate between aligned (hypothesis,
    reference) text pairs — the ASR/OCR/transcription eval family:
    CER = char-Levenshtein / |ref chars| over whitespace-normalized
    snippets, WER = token-Levenshtein / |ref tokens|. Completes the
    text-similarity metric suite next to BLEU (n-gram precision),
    chrF (char n-gram F), and ROUGE-L (LCS): edit distance is the
    only one of the four that prices substitutions/insertions
    positionally.

    Token-level Levenshtein rides the built-in char `levenshtein`
    via a per-pair token→character bijection: the pair's sorted
    distinct token vocabulary (≤ 2·max_tokens ≤ 80 entries) maps
    each token to one ASCII char (codes 48..127), so
    levenshtein(map(hyp), map(ref)) IS the token edit distance —
    JVM-side, no UDF, and replayed verbatim by the SQL oracle with
    chr()/list_position. Snippet caps bound the O(n·m) cell count
    per pair (the chrF/ROUGE cost contract) and keep the mapping
    inside single-byte ASCII on both engines.

    Scale shape: ONE pair join; everything else is per-row
    expressions (whole-stage codegen except the bounded
    token-mapping lambda). Zero-length references report NULL rates
    (undefined), not a divide blowup.

    Columns: pair_id, n_ref_chars, n_ref_tokens, char_dist,
    token_dist, cer, wer.
    """
    if 2 * max_tokens + 47 > 255:
        # the token→char bijection assigns chr(47 + position) over a
        # per-pair vocab of ≤ 2·max_tokens entries; past code point
        # 255 Spark's char() wraps mod 256 and distinct tokens would
        # silently collide (understating token_dist/WER) — fail fast.
        raise ValueError(
            f"max_tokens={max_tokens} breaks the single-byte "
            "token→char bijection (2*max_tokens + 47 must be <= 255, "
            "i.e. max_tokens <= 104)")
    def prep(df, cs_name, ts_name):
        s = F.substring(
            F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")),
            1, max_chars)
        ws = F.slice(F.filter(F.split(F.col(text_col), r"\s+"),
                              lambda t: F.length(t) > 0),
                     1, max_tokens)
        return df.select(F.col(pair_col).alias("__pid"),
                         s.alias(cs_name), ws.alias(ts_name))

    j = (prep(cand, "__cs", "__ct")
         .join(prep(ref, "__rs", "__rt"), "__pid"))
    voc = F.array_sort(F.array_distinct(
        F.concat(F.col("__ct"), F.col("__rt"))))
    j = j.withColumn("__voc", voc)

    def mapped(col):
        return F.concat_ws("", F.transform(
            col, lambda t: F.char(47 + F.array_position("__voc", t))))

    out = j.select(
        F.col("__pid").alias(pair_col),
        F.length("__rs").cast("long").alias("n_ref_chars"),
        F.size("__rt").cast("long").alias("n_ref_tokens"),
        F.levenshtein("__cs", "__rs").cast("long").alias("char_dist"),
        F.levenshtein(mapped("__ct"), mapped("__rt")).cast("long")
        .alias("token_dist"))
    return out.select(
        pair_col, "n_ref_chars", "n_ref_tokens", "char_dist",
        "token_dist",
        F.when(F.col("n_ref_chars") > 0,
               F.round(F.col("char_dist") / F.col("n_ref_chars"), 6))
        .alias("cer"),
        F.when(F.col("n_ref_tokens") > 0,
               F.round(F.col("token_dist") / F.col("n_ref_tokens"), 6))
        .alias("wer"))


def diversity_ngrams(docs: DataFrame, *, n: int = 2,
                     group_col: str = "source",
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Generation-diversity readout per group (model, source,
    prompt-set): distinct-n — the share of n-gram TOKENS that are
    unique — plus a self-BLEU-shaped overlap score without the
    all-pairs cost: for each document, the share of its DISTINCT
    n-grams that also occur in at least one OTHER document of the
    same group (leave-one-out containment via the n-gram document
    frequency: df ≥ 2 ⇔ some other doc has it). Mode-collapsed
    generations show low distinct_ratio and high mean_self_overlap;
    diverse corpora the reverse. Zhu et al. 2018's distinct-n and
    the self-BLEU intent, reduced to counting.

    Plan shape: ONE linear chain — the corpus is scanned and
    tokenized EXACTLY ONCE, with no self-join and no multi-consumer
    fan-out (Spark does not reuse exchange subtrees whose column
    pruning differs, so a dgc-joins-gdf shape re-reads the corpus;
    the round-10 PLANS.md audit caught exactly that here). Instead,
    each per-(doc, gram) row picks up its doc's distinct-gram count
    and a first-gram-of-doc tag from a window partitioned by DOC
    (partitions are doc-sized — bounded by document length, never by
    corpus size), then one per-(group, gram) aggregate folds the
    doc frequency, occurrence total, and the 1/k_d leave-one-out
    containment terms, and one per-group aggregate finishes:
    mean_self_overlap = Σ_grams[df≥2] Σ_docs 1/k_d ÷ n_docs
                      = avg over docs of their containment share.
    Posting-list shaped, corpus-linear, every shuffle keyed on
    high-cardinality columns — no pair joins at any scale.

    Columns: group, n_docs, total_grams, distinct_grams,
    distinct_ratio (6 dp), mean_self_overlap (6 dp; the mean over
    docs of their leave-one-out containment share).
    """
    from parlerproject_spark.functions.text import tokenize

    if n < 1:
        raise ValueError("n must be >= 1")
    toks = (docs.select(F.col(group_col).alias("__g"),
                        F.col(id_col).alias("__id"),
                        tokenize(text_col).alias("__ts"))
            .filter(F.size("__ts") >= n))
    grams_expr = F.expr(
        f"transform(sequence(1, size(__ts) - {n} + 1), "
        f"i -> array_join(slice(__ts, i, {n}), ' '))")
    g = toks.select("__g", "__id",
                    F.explode(grams_expr).alias("__gram"))
    # per-(doc, gram) occurrence counts — computed once, consumed once
    dgc = (g.groupBy("__g", "__id", "__gram")
           .agg(F.count(F.lit(1)).alias("__c")))
    # doc-partitioned window: k_d = the doc's distinct-gram count
    # (the containment denominator) and a one-per-doc tag so n_docs
    # survives the gram-level rollup without a second corpus pass
    wd = Window.partitionBy("__g", "__id")
    tagged = dgc.select(
        "__g", "__gram", "__c",
        F.count(F.lit(1)).over(wd).alias("__kd"),
        (F.row_number().over(wd.orderBy("__gram")) == 1)
        .cast("long").alias("__first"))
    # per-(group, gram): doc frequency, occurrence total, Σ 1/k_d
    # over member docs, and how many docs tagged their first gram here
    gdf = (tagged.groupBy("__g", "__gram")
           .agg(F.count(F.lit(1)).alias("__df"),
                F.sum("__c").alias("__occ"),
                F.sum(1.0 / F.col("__kd")).alias("__inv"),
                F.sum("__first").alias("__nd")))
    return (gdf.groupBy("__g")
            .agg(F.sum("__nd").cast("long").alias("n_docs"),
                 F.sum("__occ").cast("long").alias("total_grams"),
                 F.count(F.lit(1)).cast("long").alias("distinct_grams"),
                 F.sum(F.when(F.col("__df") >= 2, F.col("__inv"))
                       .otherwise(0.0)).alias("__ovsum"))
            .select(F.col("__g").alias("group"), "n_docs",
                    "total_grams", "distinct_grams",
                    F.round(F.col("distinct_grams")
                            / F.col("total_grams"), 6)
                    .alias("distinct_ratio"),
                    F.round(F.col("__ovsum") / F.col("n_docs"), 6)
                    .alias("mean_self_overlap")))


_SQUAD_ARTICLES = ("a", "an", "the")


def token_f1_pairs(cand: DataFrame, ref: DataFrame, *,
                   pair_col: str = "pair_id", text_col: str = "text",
                   max_tokens: int = 60) -> DataFrame:
    """SQuAD-style answer token-F1 between aligned (candidate,
    reference) text pairs (Rajpurkar et al. 2016): bag-of-tokens
    CLIPPED overlap — Σ_t min(count_cand(t), count_ref(t)) — turned
    into precision over the candidate bag, recall over the reference
    bag, and their harmonic mean. The extractive-QA metric the
    n-gram family doesn't give: BLEU punishes short exact answers,
    ROUGE-L is order-sensitive; token-F1 is the bag measure QA
    leaderboards actually rank by. SQuAD normalization: lowercase,
    punctuation-stripped tokens (the engine tokenizer), English
    articles (a, an, the) dropped; both lists truncated at
    max_tokens (the snippet-cost contract).

    Plan shape: ONE scan per side — the bag SIZE rides every
    (pair, token) count row (explode_outer keeps empty bags alive as
    a null-token row, so no separate per-pair size pass and no
    second read of the input; the round-11 scan-budget audit caught
    the old two-consumers-per-side form re-reading documents 6×),
    then one full-outer join keyed on (pair, token) — null tokens
    never match, a token absent from one side arrives with that
    side's count null and clips to zero — and one pair-keyed
    aggregation recovers sizes (max over the side's rows) and the
    clipped overlap together. P/R round HALF_UP at 6 dp, F1 from
    the rounded P/R (the rouge_l contract). Pairs where either side
    has zero tokens after normalization report NULL f1 (no bag to
    compare); pairs present on only one side are dropped (the old
    inner-join-on-pair semantics).

    Columns: pair_id, n_cand, n_ref, overlap, f1_p, f1_r, token_f1.
    """
    from parlerproject_spark.functions.text import tokenize

    def bag_counts(df, side):
        ws = F.slice(tokenize(text_col), 1, max_tokens)
        ws = F.filter(ws, lambda t: ~t.isin(*_SQUAD_ARTICLES))
        # project the bag once: size() and explode_outer() both
        # consume it, and two references to the raw expression
        # tokenize the text twice per row (r14; the double-use keeps
        # CollapseProject from inlining the projected attribute back)
        return (df.select(F.col(pair_col).alias("__pid"),
                          ws.alias("__ws"))
                .select("__pid",
                        F.size("__ws").alias(f"__n_{side}"),
                        F.explode_outer("__ws").alias("__t"))
                .groupBy("__pid", "__t")
                .agg(F.count(F.lit(1)).alias(f"__c_{side}"),
                     F.first(f"__n_{side}").alias(f"__n_{side}")))

    full = bag_counts(cand, "c").join(bag_counts(ref, "r"),
                                      ["__pid", "__t"], "full")
    j = (full.groupBy("__pid")
         .agg(F.max("__n_c").alias("__n_c"),
              F.max("__n_r").alias("__n_r"),
              F.coalesce(F.sum(F.when(
                  F.col("__c_c").isNotNull()
                  & F.col("__c_r").isNotNull(),
                  F.least("__c_c", "__c_r"))), F.lit(0))
              .alias("__ov"))
         .filter(F.col("__n_c").isNotNull()
                 & F.col("__n_r").isNotNull()))
    p = F.when(F.col("__n_c") > 0,
               F.round(F.col("__ov") / F.col("__n_c"), 6))
    r = F.when(F.col("__n_r") > 0,
               F.round(F.col("__ov") / F.col("__n_r"), 6))
    return (j.select(F.col("__pid").alias("pair_id"),
                     F.col("__n_c").cast("long").alias("n_cand"),
                     F.col("__n_r").cast("long").alias("n_ref"),
                     F.col("__ov").cast("long").alias("overlap"),
                     p.alias("f1_p"), r.alias("f1_r"))
            .withColumn(
                "token_f1",
                F.when(F.col("f1_p").isNull() | F.col("f1_r").isNull(),
                       F.lit(None).cast("double"))
                .when(F.col("f1_p") + F.col("f1_r") == 0, F.lit(0.0))
                .otherwise(F.round(2 * F.col("f1_p") * F.col("f1_r")
                                   / (F.col("f1_p") + F.col("f1_r")),
                                   6))))
