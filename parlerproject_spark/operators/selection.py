"""Training-data selection operators: importance resampling,
perplexity bucketing, and an in-engine quality classifier.

Engine additions beyond the reference's corpus surface — the three
standard ways large-scale pretraining pipelines decide WHICH
documents to keep:

- `dsir_weights`: Data Selection via Importance Resampling (Xie et
  al. 2023) — hashed bigram features, per-doc log importance weight
  log p_target(x) - log p_raw(x) under bag-of-features unigram
  models of the feature stream.
- `perplexity_buckets`: the CCNet head/middle/tail split (Wenzek et
  al. 2020) — rank documents by LM score and cut into equal thirds.
- `nb_quality_classifier`: the GPT-3/WebText-style quality
  classifier re-expressed as multinomial Naive Bayes trained
  in-engine by two count aggregations — no sklearn, no driver-side
  model; train and score are the same explode → groupBy → join
  cascade as the rest of the text stack.

All three are deterministic Column algebra end-to-end, so each has
an exact DuckDB oracle (the oracle retrains the same model in SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parlerproject_spark.caching import collect_state, literal
from parlerproject_spark.functions.text import tokenize
from parlerproject_spark.operators.stats import (_bucketed_prefix_sum,
                                                 _range_bucket,
                                                 _value_bounds)
from parlerproject_spark.operators.text_analysis import lm_score

# 16^3 = 4096 hashed feature buckets: md5 prefix, engine-portable
# (DuckDB md5() produces the identical stream for the oracle).
_FEAT_HEX_CHARS = 3


def _hashed_bigram_features(docs: DataFrame, id_col: str,
                            text_col: str) -> DataFrame:
    """(doc_id, feat) pairs: each adjacent token pair hashed into one
    of 4096 buckets via an md5 prefix. Narrow maps + one explode —
    no shuffle until the caller aggregates."""
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       tokenize(text_col).alias("ts"))
    return (toks.filter(F.size("ts") >= 2)
            .select("doc_id",
                    F.explode(F.expr(
                        "transform(slice(ts, 1, size(ts) - 1), "
                        "(w, i) -> concat(w, ' ', ts[i + 1]))")).alias("bg"))
            .select("doc_id",
                    F.substring(F.md5("bg"), 1, _FEAT_HEX_CHARS)
                    .alias("feat")))


def dsir_weights(raw: DataFrame, target: DataFrame, *,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """DSIR log importance weight per raw document:
    log w(x) = sum over x's hashed-bigram feature stream of
    ln p_target(f) - ln p_raw(f), with add-one smoothing over the
    K=4096 bucket vocabulary. High weight = looks like the target
    distribution; resample raw by these weights to shift the corpus
    toward the target domain.

    Plan: the two feature models are ONE count aggregate each over
    the hashed feature stream (map-side combine; the model tables
    are at most K=4096 rows, so they BROADCAST to the scoring join
    regardless of corpus size — this is the property that makes DSIR
    cheap at 100 TB: corpus-scale scan, constant-size model).
    Totals ride inside the broadcast tables. Left join + coalesce
    covers features unseen in either model (smoothing floor).

    Columns: <id_col>, n_feats, log_weight (round 6).
    """
    k = float(16 ** _FEAT_HEX_CHARS)
    feats = _hashed_bigram_features(raw, id_col, text_col)
    tfeats = _hashed_bigram_features(target, id_col, text_col)
    # the models are <= K=4096 rows — MODEL-SIZED, so persisting them
    # is inside the caching contract (SCALE.md §7) and collapses the
    # totals aggregate + broadcast-join consumers onto one
    # materialization each: target is scanned once, raw twice (model
    # pass + scoring pass — the irreducible pair), down from 5 scans
    # pre-round-11
    tm = (tfeats.groupBy("feat")
          .agg(F.count("*").cast("double").alias("ct")).persist())
    rm = (feats.groupBy("feat")
          .agg(F.count("*").cast("double").alias("cr")).persist())
    tt = tm.agg(F.sum("ct").alias("tt"))
    tr = rm.agg(F.sum("cr").alias("tr"))
    scored = (feats
              .join(F.broadcast(tm), "feat", "left")
              .join(F.broadcast(rm), "feat", "left")
              .crossJoin(F.broadcast(tt))
              .crossJoin(F.broadcast(tr))
              .select("doc_id",
                      (F.log((F.coalesce(F.col("ct"), F.lit(0.0)) + 1.0)
                             / (F.col("tt") + k))
                       - F.log((F.coalesce(F.col("cr"), F.lit(0.0)) + 1.0)
                               / (F.col("tr") + k))).alias("lw")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_feats"),
                 F.round(F.sum("lw"), 6).alias("log_weight"))
            .withColumnRenamed("doc_id", id_col))


def perplexity_buckets(docs: DataFrame, *, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """CCNet-style perplexity bucketing: score every document with
    the corpus-trained bigram LM (text_analysis.lm_score) and band
    the scores into tercile cuts — bucket 1 ("head") is the most
    natural text, bucket 3 ("tail") the least.
    Pipelines keep head+middle or reweight by band.

    Scale shape: CCNet cuts by score QUANTILE EDGES, not by global
    rank, and so does this — the edges are ONE exact-percentile
    aggregate broadcast back over the scored table, then banding is
    a narrow map. No global window anywhere (an ntile over the
    scored table would single-partition the corpus — the exact
    WindowExec shape VERDICT r3 flagged on corpus_shuffle_order).
    Documents exactly on an edge band upward (>= edge), mirrored by
    the oracle.

    Columns: <id_col>, lm_logp, bucket (1=head), band.
    """
    scored = lm_score(docs, id_col=id_col, text_col=text_col)
    edges = scored.agg(F.percentile(
        "lm_logp", literal([1 / 3, 2 / 3], "array<double>")).alias("qs"))
    # k = #edges at or below this score (0..2); bucket 1 = head
    k = F.size(F.filter(F.col("qs"),
                        lambda e: F.col("lm_logp") >= e))
    band = (F.when(F.col("bucket") == 1, "head")
            .when(F.col("bucket") == 3, "tail")
            .otherwise("middle"))
    return (scored.crossJoin(F.broadcast(edges))
            .select(id_col, "lm_logp",
                    (F.lit(3) - k).cast("long").alias("bucket"))
            .withColumn("band", band))


def nb_quality_classifier(docs: DataFrame, *, id_col: str = "doc_id",
                          text_col: str = "text",
                          label_col: str = "label") -> DataFrame:
    """Multinomial Naive Bayes quality scorer trained in-engine: the
    scalable stand-in for the GPT-3 WebText quality classifier —
    given a binary `label_col` (1 = high-quality exemplar), train
    per-class token models with add-one smoothing and score every
    document with the log-odds
    ln P(y=1) - ln P(y=0) + sum_tokens [ln P(w|1) - ln P(w|0)].

    Train = ONE corpus pass: posexplode_outer the token stream and
    aggregate to a persisted vocabulary-sized (y, w) count table
    that carries EVERYTHING the model needs — per-cell token counts,
    per-class totals (sum over cells), vocabulary size (distinct w),
    AND the class priors, via the pos-0 doc marker: each document
    contributes exactly one row with pos ∈ {0, NULL} (NULL = the
    explode_outer sentinel for a token-less document), so
    sum(first_cnt) per class IS the class document count — no
    second pass over the corpus for priors, and token-less
    documents still count toward them. The per-class/vocab scalars
    then derive from the persisted model table (§7 caching
    contract: vocabulary-sized, not corpus-sized), never from the
    corpus. Unseen (class, token) cells fall back to the smoothing
    floor via the pivot's null arm + coalesce. Score = one more
    corpus pass (token stream ⋈ model on the token key — a keyed
    shuffle join, NOT a broadcast, because vocabulary grows with
    the corpus) + one groupBy per document: the whole classifier
    touches the corpus exactly TWICE. Everything is Column algebra,
    so the oracle retrains the identical model in SQL.

    Columns: <id_col>, n_toks, log_odds (round 6), pred (1/0).
    """
    exploded = (docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(label_col).cast("int").alias("y"),
        F.posexplode_outer(tokenize(text_col)).alias("pos", "w")))
    # the single-pass model table: vocabulary-sized, persisted per
    # the SCALE.md §7 contract so its four consumers (cell counts,
    # class totals, vocab size, priors) don't re-scan the corpus
    cw_plus = (exploded.groupBy("y", "w")
               .agg(F.count("*").cast("double").alias("c"),
                    F.sum(F.when(F.coalesce(F.col("pos"), F.lit(0)) == 0,
                                 F.lit(1.0)).otherwise(F.lit(0.0)))
                    .alias("first_cnt"))
               .persist())
    cells = cw_plus.filter(F.col("w").isNotNull())
    cls = cells.groupBy("y").agg(F.sum("c").alias("n_tok_c"))
    vocab = cells.select("w").distinct().agg(
        F.count("*").cast("double").alias("v"))
    # one row per token with both classes' smoothed log-probs
    base = (cells.groupBy("w")
            .agg(F.sum(F.when(F.col("y") == 1, F.col("c"))).alias("c1"),
                 F.sum(F.when(F.col("y") == 0, F.col("c"))).alias("c0"))
            .crossJoin(F.broadcast(
                cls.filter("y = 1").select(F.col("n_tok_c").alias("t1"))))
            .crossJoin(F.broadcast(
                cls.filter("y = 0").select(F.col("n_tok_c").alias("t0"))))
            .crossJoin(F.broadcast(vocab))
            .select("w",
                    (F.log((F.coalesce("c1", F.lit(0.0)) + 1.0)
                           / (F.col("t1") + F.col("v")))
                     - F.log((F.coalesce("c0", F.lit(0.0)) + 1.0)
                             / (F.col("t0") + F.col("v")))).alias("llr")))
    # prior log-odds from the pos-0 doc markers: the document-count
    # denominator cancels, so ln P(y=1) - ln P(y=0) = ln(n1) - ln(n0)
    lp = (cw_plus.groupBy("y")
          .agg(F.sum("first_cnt").alias("n_docs_c"))
          .agg((F.sum(F.when(F.col("y") == 1, F.log("n_docs_c")))
                - F.sum(F.when(F.col("y") == 0, F.log("n_docs_c"))))
               .alias("prior_lo")))
    toks = (docs.select(F.col(id_col).alias("doc_id"),
                        F.explode(tokenize(text_col)).alias("w")))
    return (toks.join(base, "w")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_toks"),
                 F.sum("llr").alias("s"))
            .crossJoin(F.broadcast(lp))
            .select(F.col("doc_id").alias(id_col), "n_toks",
                    F.round(F.col("s") + F.col("prior_lo"), 6)
                    .alias("log_odds"))
            .withColumn("pred",
                        (F.col("log_odds") > 0).cast("long")))


def logreg_quality_classifier(docs: DataFrame, *, id_col: str = "doc_id",
                              text_col: str = "text",
                              label_col: str = "label",
                              n_iters: int = 3,
                              lr: float = 1.0) -> DataFrame:
    """Logistic-regression quality scorer trained IN-ENGINE by
    full-batch gradient descent — the discriminative sibling of
    `nb_quality_classifier` (pipelines that outgrow NB's
    independence assumption train exactly this shape: fastText /
    CCNet-style linear classifiers over hashed token features).

    Model: w over 256 hashed-unigram buckets (the first two md5 hex
    digits) + intercept.
    Features are tf-NORMALIZED counts (bucket count / doc tokens) so
    margins stay in a bounded range: no exp() overflow on long
    documents, and the gradient scale is corpus-size-invariant.
    The ≤ 257 weights live on the driver; each of the `n_iters`
    iterations reads them as a literal array: margins = one doc-keyed
    aggregate of x · w[j]; gradient = feature⋈residuals + one
    bucket-keyed aggregate, collected by `caching.collect_state`;
    w − lr · g runs in Python. The corpus-scale feature table shuffles
    ONCE (localCheckpoint) and is re-read by every iteration, so the
    100 TB cost is n_iters × (two keyed aggregations) — the same
    contract as `pagerank`.
    Deterministic end-to-end (w0 = 0, fixed lr), so the DuckDB
    oracle retrains the identical model with the iterations
    unrolled as CTEs.

    Columns: <id_col>, margin (round 6), prob (round 6), pred (1/0).
    """
    n_buckets = 256
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       F.col(label_col).cast("double").alias("y"),
                       F.explode(tokenize(text_col)).alias("w"))
    # tf-normalized hashed counts + an always-on intercept bucket.
    # Bucket ids are ints (md5-prefix hex → [0, n_buckets)); the
    # intercept lives at j = n_buckets.
    cnt = (toks.groupBy("doc_id",
                        F.conv(F.substring(F.md5("w"), 1, 2),
                               16, 10).cast("int").alias("j"))
           .agg(F.count("*").cast("double").alias("c")))
    ntok = cnt.groupBy("doc_id").agg(F.sum("c").alias("nt"))
    feats = (cnt.join(ntok, "doc_id")
             .select("doc_id", "j", (F.col("c") / F.col("nt")).alias("x"))
             .unionByName(ntok.select(
                 "doc_id", F.lit(n_buckets).alias("j"), F.lit(1.0).alias("x")))
             # one shuffle for the whole training loop: every margin
             # and gradient pass re-reads this materialization instead
             # of re-running tokenize → hash → normalize (2·n_iters+1
             # consumers); under AQE declaring it runs the plan's stages.
             .localCheckpoint(eager=False))
    labels = (docs.select(F.col(id_col).alias("doc_id"),
                          F.col(label_col).cast("double").alias("y"))
              .localCheckpoint(eager=False))
    n_docs = float(labels.count())

    def margins(wt):
        w = F.element_at(literal(wt, "array<double>"), F.col("j") + 1)
        return feats.groupBy("doc_id").agg(F.sum(F.col("x") * w).alias("m"))

    prob = 1.0 / (1.0 + F.exp(-F.col("m")))
    wt = [0.0] * (n_buckets + 1)
    for i in range(1, n_iters + 1):
        resid = margins(wt).join(labels, "doc_id").select(
            "doc_id", (prob - F.col("y")).alias("r"))
        grad = (feats.join(resid, "doc_id").groupBy("j")
                .agg(F.sum(F.col("x") * F.col("r")) / n_docs))
        for j, g in collect_state(grad, cap=n_buckets + 1,
                                  name=f"logreg_quality_classifier#{i}"):
            wt[j] -= lr * g
    return (margins(wt).select(
        F.col("doc_id").alias(id_col),
        F.round("m", 6).alias("margin"),
        F.round(prob, 6).alias("prob"))
        .withColumn("pred", (F.col("margin") > 0).cast("long")))


def importance_resample(raw: DataFrame, target: DataFrame, *, n: int,
                        id_col: str = "doc_id", text_col: str = "text",
                        seed: str = "dsir") -> DataFrame:
    """DSIR step 2: sample `n` raw documents without replacement with
    probability ∝ exp(log_weight), via the Gumbel top-k trick with
    DETERMINISTIC noise — u(doc) from an md5 hash of (seed, id), so
    the draw is exactly reproducible (and exactly replayable by the
    SQL oracle), yet distributionally a true Gumbel perturbation:
    key = log_weight + (-ln(-ln u)), take the n largest keys.

    Plan: dsir_weights' constant-size-model scoring, a narrow map for
    the key, and a TakeOrderedAndProject cut — no global sort, no
    window. Columns: <id_col>, log_weight, sample_key (round 6).
    """
    w = dsir_weights(raw, target, id_col=id_col, text_col=text_col)
    h = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    u = ((F.conv(F.substring(h, 1, 8), 16, 10).cast("double") + 1.0)
         / (4294967296.0 + 1.0))
    key = F.round(F.col("log_weight") - F.log(-F.log(u)), 6)
    return (w.select(id_col, "log_weight", key.alias("sample_key"))
            .orderBy(F.col("sample_key").desc(), F.col(id_col).asc())
            .limit(n))


def calibrate_scores(df: DataFrame, *, group_col: str = "source",
                     score_col: str = "score",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-group score calibration: percent-rank and z-score of a
    quality score WITHIN its group — the cross-source normalization
    step a mixture pipeline runs before comparing or thresholding
    scores produced by per-source scorers (raw score distributions
    differ per domain; a global cut keeps whole domains or drops
    them wholesale). percent_rank gives the rank-calibrated [0,1]
    score (distribution-free); z uses the population stddev (null
    when a group's scores are constant, rather than a divide-by-
    zero).

    Shape: ONE group-keyed exchange consumed by both the rank window
    and the moment window (same partitioning, no second shuffle) —
    at 100 TB this is a keyed sort per group, spill-safe, never
    global. Columns: <id_col>, <group_col>, score, pct, z (round 6).
    """
    from pyspark.sql import Window
    byg = Window.partitionBy(group_col)
    rank_w = byg.orderBy(F.col(score_col).asc(), F.col(id_col).asc())
    mu = F.avg(score_col).over(byg)
    sd = F.stddev_pop(score_col).over(byg)
    return (df
            .withColumn("pct", F.round(F.percent_rank().over(rank_w), 6))
            .withColumn("z", F.round(
                F.when(sd > 0, (F.col(score_col) - mu) / sd), 6))
            .select(F.col(id_col), F.col(group_col),
                    F.col(score_col).alias("score"), "pct", "z"))


def quantile_band_filter(df: DataFrame, *, group_col: str,
                         score_col: str, id_col: str,
                         lo: float = 0.1, hi: float = 0.9) -> DataFrame:
    """Per-group EXACT inter-quantile retention — keep each group's
    middle (lo, hi] score band (trim the worst and the
    suspiciously-best tails per source, the standard quality-prune
    before training) without ever sorting a whole group in one
    window partition.

    A row survives iff its within-group ascending rank r (ties
    broken by id) satisfies lo·n < r ≤ hi·n. r − 1 is
    `stats._bucketed_prefix_sum` of 1 over each group's value-ordered
    `stats._range_bucket`s, ordered (score, id) inside a bucket:
    every shuffle is keyed on (group) or (group, bucket), and no
    partition holds more than one bucket of one group.

    The per-group bounds (one row per group, with the group size)
    persist, so the bucket totals and the ranked pass read one
    materialization of them.

    Columns: <group_col>, <id_col>, <score_col>, rank, n.
    """
    s = F.col(score_col).cast("double")
    base = df.select(F.col(group_col), F.col(id_col), s.alias("__s"))
    gb = (base.groupBy(group_col)
          .agg(*_value_bounds(F.col("__s")), F.count("*").alias("__n"))
          .persist())
    bucket = _range_bucket(F.col("__s"), F.col("__lo"), F.col("__hi"))
    b = (base.join(F.broadcast(gb), group_col)
         .select(group_col, id_col, "__s", "__n", bucket.alias("__b")))
    ranked = (_bucketed_prefix_sum(b, keys=[group_col], buckets=["__b"],
                                   order=["__s", id_col], weight=F.lit(1))
              .withColumn("rank", F.col("__before") + 1))
    return (ranked
            .filter((F.col("rank") > F.lit(lo) * F.col("__n"))
                    & (F.col("rank") <= F.lit(hi) * F.col("__n")))
            .select(group_col, id_col, F.col("__s").alias(score_col),
                    "rank", F.col("__n").alias("n")))


def weak_label_summary(df: DataFrame, lf_cols: list[str], *,
                       truth_col: str | None = None) -> DataFrame:
    """Labeling-function diagnostics for programmatic/weak
    supervision (the Snorkel LF-summary table, Ratner et al. 2017):
    each LF votes {-1, 0, 1} per row (0 = abstain); the summary
    reports, per LF — coverage (non-abstain share), overlap (share
    of rows where ≥1 OTHER LF also votes), conflict (share where
    another LF votes the OPPOSITE sign), majority-agreement (share
    of its votes matching the per-row majority of non-abstain
    votes), and, with `truth_col`, empirical accuracy on labeled
    rows. This is the triage view that decides which weak rule to
    fix before label-model training.

    Shape: ONE pass computes every per-row quantity as expressions
    (votes, majority sign, pairwise disagreement counts derive from
    the row's own LF columns — no self-join, no explode), then one
    aggregation per LF folded into a single global agg + unpivot to
    one row per LF. Constant-width state regardless of corpus size.

    Columns: lf, n_votes, coverage, overlap, conflict,
    majority_agreement, accuracy (null without truth).
    """
    n_lfs = len(lf_cols)
    vote = {c: F.col(c).cast("int") for c in lf_cols}
    nonzero = {c: (vote[c] != 0).cast("int") for c in lf_cols}
    tot_votes = sum(nonzero[c] for c in lf_cols)
    tot_sum = sum(vote[c] for c in lf_cols)
    maj = F.signum(tot_sum)
    rows = df.select(
        *[vote[c].alias(f"__v_{i}") for i, c in enumerate(lf_cols)],
        tot_votes.alias("__nv"), maj.alias("__maj"),
        *([F.col(truth_col).cast("int").alias("__y")]
          if truth_col else [F.lit(None).cast("int").alias("__y")]))
    aggs = []
    for i in range(n_lfs):
        v = F.col(f"__v_{i}")
        voted = (v != 0).cast("int")
        others = F.col("__nv") - voted
        opp = sum((F.col(f"__v_{j}") == -v).cast("int")
                  for j in range(n_lfs) if j != i) * voted
        aggs += [
            F.sum(voted).alias(f"n_{i}"),
            F.avg(voted.cast("double")).alias(f"cov_{i}"),
            F.avg(((others > 0) & (voted == 1)).cast("double"))
             .alias(f"ovl_{i}"),
            F.avg((opp > 0).cast("double")).alias(f"cfl_{i}"),
            F.try_divide(F.sum(((v == F.col("__maj")) & (voted == 1))
                               .cast("int")), F.sum(voted))
             .alias(f"agr_{i}"),
            F.try_divide(
                F.sum(F.when(F.col("__y").isNotNull() & (voted == 1)
                             & (v == F.when(F.col("__y") == 1, 1)
                                .otherwise(-1)), 1).otherwise(0)),
                F.sum(F.when(F.col("__y").isNotNull(), voted)
                      .otherwise(0))).alias(f"acc_{i}"),
        ]
    one = rows.agg(*aggs)
    parts = []
    for i, c in enumerate(lf_cols):
        parts.append(one.select(
            F.lit(c).alias("lf"),
            F.col(f"n_{i}").cast("long").alias("n_votes"),
            F.round(f"cov_{i}", 6).alias("coverage"),
            F.round(f"ovl_{i}", 6).alias("overlap"),
            F.round(f"cfl_{i}", 6).alias("conflict"),
            F.round(f"agr_{i}", 6).alias("majority_agreement"),
            F.round(f"acc_{i}", 6).alias("accuracy")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def quantile_match_scores(df: DataFrame, *, group_col: str = "source",
                          score_col: str = "score",
                          id_col: str = "doc_id") -> DataFrame:
    """Cross-group quantile NORMALIZATION — one step past
    `calibrate_scores`' per-group percent-rank: map every row's
    within-group rank onto the GLOBAL score distribution's order
    statistic at that rank, so scores from differently-shaped
    per-source scorers become directly comparable on one scale while
    each group keeps its internal ordering (the quantile-matching /
    quantile-normalization recipe). A global threshold applied to
    `calibrated` then cuts the same FRACTION of every source.

    Mechanics: pct = within-group percent_rank (unique ordering
    score, id → exact (row_number−1)/(n−1)); target global rank
    k = floor(pct·(N−1)) + 1; `calibrated` = the k-th smallest score
    globally (order: score, id).

    Scale shape: the global rank is NEVER a single-partition window —
    it is `stats._bucketed_prefix_sum` with no key: scores range-bucket
    into ≤ stats.RANK_BUCKETS ordered buckets (bounds are three
    collected doubles, injected as literals so no stats subtree is
    re-planned per branch), the offsets are a running sum over the
    bucket-count table (bounded by the constant, never the data), and
    the within-bucket windows partition BY BUCKET. The rank→score map
    then joins on the rank key — a plain keyed shuffle. Per-group pct
    is a group-partitioned window. Total corpus cost: the bounds
    collect, then three column-pruned scans (pct, bucket counts,
    ranking); if the input is
    an expensive derived pipeline rather than a columnar table,
    persist it first — the operator deliberately does not cache on the
    caller's behalf.

    Columns: <id_col>, <group_col>, score, pct (round 6), calibrated
    (an exact data value — no float synthesis, no rounding).
    """
    s = F.col(score_col).cast("double")
    base = df.select(F.col(id_col), F.col(group_col), s.alias("__s"))

    gw = (Window.partitionBy(group_col)
          .orderBy(F.col("__s").asc(), F.col(id_col).asc()))
    pct = base.withColumn("__pct", F.percent_rank().over(gw))

    # global lo/hi/N collected once (three doubles — model-sized, the
    # train_scalar_quantizer contract): as literals they stop the
    # stats subquery from being re-planned under every branch that
    # needs the bucket expression
    st = base.agg(*_value_bounds(F.col("__s")),
                  F.count(F.lit(1)).alias("__N")).collect()[0]
    bucket = _range_bucket(F.col("__s"), F.lit(st["__lo"]).cast("double"),
                           F.lit(st["__hi"]).cast("double"))
    b = base.select(id_col, "__s", bucket.alias("__b"))
    ranked = (_bucketed_prefix_sum(b, keys=[], buckets=["__b"],
                                   order=["__s", id_col], weight=F.lit(1))
              .select((F.col("__before") + 1).alias("__gr"),
                      F.col("__s").alias("__gs")))

    k = (F.floor(F.col("__pct") * F.lit(float(st["__N"]) - 1.0)) + 1) \
        .cast("long")
    tgt = pct.withColumn("__k", k)
    return (tgt.join(ranked, tgt["__k"] == ranked["__gr"])
            .select(F.col(id_col), F.col(group_col),
                    F.col("__s").alias("score"),
                    F.round("__pct", 6).alias("pct"),
                    F.col("__gs").alias("calibrated")))
