"""Pairwise-preference modeling — the RLHF/eval side of a training-
data pipeline: given human (or judge-model) A-vs-B comparisons,
recover per-item strengths and win statistics.

The reference has no preference module; this extends the engine's
evaluation pillar the same way the r6 eval suite did, with the
standard public algorithm: the Bradley-Terry model fit by the MM
(minorization-maximization) update of Hunter (2004),

    p_i  <-  W_i / SUM_j  n_ij / (p_i + p_j)

which is also what open RLHF stacks use to turn preference pairs
into reward-model calibration targets and what Chatbot-Arena-style
leaderboards fit (their logistic "Elo" is the same likelihood).

Scale shape: comparisons collapse ONCE to a per-ordered-pair matchup
table (one groupBy, bounded by distinct item pairs, never raw
comparisons). The strengths, one float per item, are model state on
the driver: each of the fixed MM iterations reads them as a literal
map, aggregates the matchup table once and collects the item-keyed
update through `caching.collect_state`. Determinism across engines
comes from the round_c contract used by topics.lloyd_centroids:
strengths re-round to 6 decimals after every normalized update,
re-synchronizing float state so an unrolled-CTE oracle replays the
fit exactly.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parlerproject_spark import caching
from parlerproject_spark.functions.py_udfs import round_half_up


def pairwise_matchups(comparisons: DataFrame, *,
                      winner_col: str = "winner",
                      loser_col: str = "loser") -> DataFrame:
    """Directed matchup table from raw comparisons: one row per
    ORDERED item pair (i, j) that ever met, with `w` = wins of i
    over j plus 0.5 pseudo-wins and `n` = total (smoothed)
    games of the pair. The Laplace pseudo-count keeps every item's
    total win mass positive, so an all-losing item gets a small
    positive strength instead of a hard zero that would divide the
    next MM update by p_i + p_j = 0.

    One aggregation over the comparison stream + one self-union —
    output is bounded by distinct pairs. Columns: i, j, w, n.
    """
    d = (comparisons
         .groupBy(F.col(winner_col).alias("i"), F.col(loser_col).alias("j"))
         .agg(F.count(F.lit(1)).cast("double").alias("__w")))
    rev = d.select(F.col("j").alias("i"), F.col("i").alias("j"),
                   F.col("__w").alias("__l"))
    return (d.join(rev, ["i", "j"], "full_outer")
            .select("i", "j",
                    (F.coalesce("__w", F.lit(0.0)) + 0.5).alias("w"),
                    (F.coalesce("__w", F.lit(0.0))
                     + F.coalesce("__l", F.lit(0.0))
                     + 1.0).alias("n")))


def bradley_terry(comparisons: DataFrame, *,
                  winner_col: str = "winner",
                  loser_col: str = "loser") -> DataFrame:
    """Bradley-Terry strengths from pairwise comparisons via 3 MM
    updates (Hunter 2004) over the 0.5-smoothed `pairwise_matchups`,
    mean-normalized and rounded to 6 decimals each iteration (the
    cross-engine float re-sync contract — see module docstring).

    Strengths start at 1.0 for every item that appears in any
    comparison. After each raw update p'_i = W_i / Σ_j n_ij/(p_i+p_j)
    the vector renormalizes to mean 1 (p''_i = p'_i · N / Σ p'),
    which pins the MM fit's free scale so iteration counts, not
    drift, decide the output.

    Columns: item, strength (round 6), n_wins, n_games — win/game
    counts are the UNSMOOTHED observed integers.
    """
    m = pairwise_matchups(comparisons, winner_col=winner_col,
                          loser_col=loser_col) \
        .localCheckpoint(eager=True)
    t = m.schema["i"].dataType.simpleString()
    W = dict(caching.collect_state(m.groupBy("i").agg(F.sum("w")),
                                   cap=caching.MODEL_STATE_ROWS,
                                   name="bradley_terry"))
    p = dict.fromkeys(sorted(i for i in W if i is not None), 1.0)
    for it in range(1, 4):
        if not p:               # no items (empty input): nothing to fit
            break
        pm = F.map_from_entries(caching.literal(
            [{"key": i, "value": x} for i, x in p.items()],
            f"array<struct<key:{t},value:double>>"))
        den = m.groupBy("i").agg(
            F.sum(F.col("n") / (pm[F.col("i")] + pm[F.col("j")])))
        # an item without a fitted opponent gets no update (null sum)
        raw = sorted((i, W[i] / d) for i, d in caching.collect_state(
            den, cap=caching.MODEL_STATE_ROWS, name=f"bradley_terry#{it}")
            if d is not None)
        z = len(raw) / math.fsum(x for _, x in raw) if raw else 0.0
        p = {i: round_half_up(x * z, 6) for i, x in raw}
    strengths = caching.literal_frame(comparisons.sparkSession, p.items(),
                                      f"item {t}, strength double")
    obs_w = (comparisons.groupBy(F.col(winner_col).alias("item"))
             .agg(F.count(F.lit(1)).alias("__ow")))
    obs_l = (comparisons.groupBy(F.col(loser_col).alias("item"))
             .agg(F.count(F.lit(1)).alias("__ol")))
    return (strengths.join(obs_w, "item", "left")
            .join(obs_l, "item", "left")
            .select("item", "strength",
                    F.coalesce("__ow", F.lit(0)).cast("long")
                    .alias("n_wins"),
                    (F.coalesce("__ow", F.lit(0))
                     + F.coalesce("__ol", F.lit(0))).cast("long")
                    .alias("n_games")))


def preference_pairs(ratings: DataFrame, *,
                     group_col: str = "prompt_id",
                     item_col: str = "item_id",
                     score_col: str = "score",
                     margin: float = 0.0) -> DataFrame:
    """Chosen/rejected pair construction from per-item ratings — the
    step that turns raw scores into DPO/reward-model training rows:
    per group (prompt), pair the BEST-scored item against the
    WORST-scored one and keep the pair only when the score gap
    clears `margin` (low-margin pairs are label noise; every public
    preference-data recipe filters them).

    Deterministic pick: chosen = rank 1 by (score DESC, item ASC),
    rejected = rank 1 by (score ASC, item ASC); groups with one item
    or chosen == rejected are dropped. Best-vs-worst (rather than
    all-pairs) is the standard high-signal pairing and keeps output
    one row per group.

    Scale shape: two row_number windows partitioned by the group key
    over the same exchange — group cardinality bounds partition
    size (responses per prompt), nothing global. Columns:
    <group_col>, chosen_id, rejected_id, chosen_score,
    rejected_score, margin (round 6).
    """
    from pyspark.sql import Window

    g = ratings.select(F.col(group_col).alias("__g"),
                       F.col(item_col).alias("__i"),
                       F.col(score_col).cast("double").alias("__s"))
    w_best = Window.partitionBy("__g").orderBy(F.col("__s").desc(),
                                               F.col("__i").asc())
    w_worst = Window.partitionBy("__g").orderBy(F.col("__s").asc(),
                                                F.col("__i").asc())
    ranked = (g.withColumn("__rb", F.row_number().over(w_best))
              .withColumn("__rw", F.row_number().over(w_worst)))
    best = (ranked.filter(F.col("__rb") == 1)
            .select("__g", F.col("__i").alias("chosen_id"),
                    F.col("__s").alias("chosen_score")))
    worst = (ranked.filter(F.col("__rw") == 1)
             .select("__g", F.col("__i").alias("rejected_id"),
                     F.col("__s").alias("rejected_score")))
    out = (best.join(worst, "__g")
           .filter(F.col("chosen_id") != F.col("rejected_id"))
           .withColumn("margin",
                       F.round(F.col("chosen_score")
                               - F.col("rejected_score"), 6))
           .filter(F.col("margin") >= F.lit(float(margin))))
    return out.select(F.col("__g").alias(group_col),
                      "chosen_id", "rejected_id",
                      F.round("chosen_score", 6).alias("chosen_score"),
                      F.round("rejected_score", 6).alias("rejected_score"),
                      "margin")
