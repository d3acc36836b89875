"""Contrastive-pair mining over embedding columns.

Training a retrieval/embedding model on a curated corpus needs, for
every anchor, the hardest NEGATIVES: candidates from a different
class that are nonetheless close in embedding space (easy negatives
teach nothing; too-close ones are usually mislabelled duplicates —
hence the similarity cap). This is the standard mining step of
contrastive fine-tuning (sentence-transformers' mine_hard_negatives
shape) expressed as relational algebra, next to the reference's
embedding store (code/embeddings.py) the same way the ANN operators
are.

Determinism contract: similarity is rounded to 6 decimals BEFORE
both the band filter and the ranking window, and ties break on
candidate id — so the selected pair set is identical across engines
and runs (an unrounded order-by would let final-ulp float noise pick
different candidates at the same rounded score).

Modes:
- exact: all-pairs (different-group) cosine + per-anchor top-k
  window. O(n²) — the correctness oracle, bounded inputs only.
- cell: both sides assign to k-means cells (same deterministic
  sampled-Lloyd index as `similarity.knn_ivf`); each anchor probes
  its top-nprobe cells, so candidate generation reads
  ~nprobe/num_cells of the cross product. Recall < 1 by design;
  pytest measures it against exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parlerproject_spark.functions.vectors import dot, l2_norm


def hard_negatives(vectors: DataFrame, *, k: int,
                   group_col: str = "label",
                   sim_lo: float | None = None,
                   sim_hi: float | None = None,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   mode: str = "exact", num_cells: int = 16,
                   nprobe: int = 4, max_iter: int = 3,
                   train_mod: int | None = 8,
                   round_c: int | None = None) -> DataFrame:
    """Top-k hardest different-group candidates per anchor.

    Columns: anchor_id, neg_id, sim (cosine, round 6), rank (1-based
    bigint). Optional band: keep sim_lo ≤ sim < sim_hi (cap excludes
    near-duplicate label leaks, floor excludes useless easy
    negatives) — both compared on the rounded value.
    """
    a = vectors.select(F.col(id_col).alias("anchor_id"),
                       F.col(vec_col).alias("va"),
                       F.col(group_col).alias("ga"))
    b = vectors.select(F.col(id_col).alias("neg_id"),
                       F.col(vec_col).alias("vb"),
                       F.col(group_col).alias("gb"))
    if mode == "exact":
        # norms are per-row: fold them in before the n² join
        an = a.withColumn("na", l2_norm("va"))
        bn = b.withColumn("nb", l2_norm("vb"))
        pairs = an.join(bn, (F.col("anchor_id") != F.col("neg_id"))
                        & (F.col("ga") != F.col("gb")))
    elif mode == "cell":
        from parlerproject_spark.operators.topics import (centroid_literal,
                                                          lloyd_centroids,
                                                          unit_rows)
        centroids = lloyd_centroids(vectors, k=num_cells, max_iter=max_iter,
                                    id_col=id_col, vec_col=vec_col,
                                    train_mod=train_mod, round_c=round_c)
        cent = centroid_literal(unit_rows(centroids))
        # candidate side: nearest cell per vector, computed with a
        # sequential JVM dot fold (pure map, argmax ties to the lowest
        # cell — the summation order a SQL replay reproduces); at
        # scale this is the PARTITIONED BY cell index table
        sims_b = F.transform(cent, lambda c: dot(F.col("vb"), c))
        cand = (b.withColumn(
                    "cell",
                    (F.array_position(sims_b, F.array_max(sims_b)) - 1)
                    .cast("int"))
                .withColumn("nb", l2_norm("vb")))
        # anchor side: explode top-nprobe cells in-expression
        idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
        ranked = F.array_sort(F.zip_with(
            F.transform(cent, lambda c: -dot(F.col("va"), c)),
            idx, lambda s, i: F.struct(s.alias("neg"), i.alias("cell"))))
        anch = a.select(
            "anchor_id", "va", "ga",
            F.explode(F.slice(F.transform(ranked, lambda r: r["cell"]),
                              1, nprobe).cast("array<int>")).alias("cell"))
        # scoring: ONE BLAS matmul per cell via cogrouped
        # applyInPandas — a per-pair aggregate() dot is interpreted
        # per element and was measured 10× slower at sf0.1 (9M
        # probe-cell pairs × dim lambda steps); the band filters run
        # inside the kernel so rejected pairs never leave Python.
        # Rounding is HALF_UP to match F.round in exact mode.
        import numpy as np
        import pandas as pd

        id_t = vectors.schema[id_col].dataType.simpleString()

        def score(adf, bdf):
            if len(adf) == 0 or len(bdf) == 0:
                return pd.DataFrame({"anchor_id": [], "neg_id": [],
                                     "sim": []})
            A = np.array(adf["va"].tolist(), dtype=np.float64)
            B = np.array(bdf["vb"].tolist(), dtype=np.float64)
            na = np.linalg.norm(A, axis=1)
            nb = np.linalg.norm(B, axis=1)
            den = np.outer(na, nb)
            with np.errstate(invalid="ignore", divide="ignore"):
                raw = np.where(den > 0, (A @ B.T) / den, np.nan)
            sim = np.where(raw >= 0,
                           np.floor(raw * 1e6 + 0.5),
                           np.ceil(raw * 1e6 - 0.5)) / 1e6
            ga = adf["ga"].values
            gb = bdf["gb"].values
            ai = adf["anchor_id"].values
            bi = bdf["neg_id"].values
            mask = (ga[:, None] != gb[None, :]) \
                & (ai[:, None] != bi[None, :]) & np.isfinite(sim)
            if sim_lo is not None:
                mask &= sim >= sim_lo
            if sim_hi is not None:
                mask &= sim < sim_hi
            r, c = np.nonzero(mask)
            return pd.DataFrame({"anchor_id": ai[r], "neg_id": bi[c],
                                 "sim": sim[r, c]})

        scored = (anch.groupBy("cell")
                  .cogroup(cand.select("neg_id", "vb", "gb", "cell")
                           .groupBy("cell"))
                  .applyInPandas(score,
                                 f"anchor_id {id_t}, neg_id {id_t}, "
                                 "sim double")
                  # multi-probe can surface a candidate via several cells
                  .distinct())
        w = Window.partitionBy("anchor_id").orderBy(F.col("sim").desc(),
                                                    F.col("neg_id").asc())
        return (scored.withColumn("rank",
                                  F.row_number().over(w).cast("long"))
                .filter(F.col("rank") <= k)
                .select("anchor_id", "neg_id", "sim", "rank"))
    else:
        raise ValueError(f"unknown mode {mode!r}")
    sim = F.round(dot("va", "vb")
                  / (F.col("na") * F.col("nb")), 6).alias("sim")
    scored = pairs.select("anchor_id", "neg_id", sim)
    if sim_lo is not None:
        scored = scored.filter(F.col("sim") >= sim_lo)
    if sim_hi is not None:
        scored = scored.filter(F.col("sim") < sim_hi)
    w = Window.partitionBy("anchor_id").orderBy(F.col("sim").desc(),
                                                F.col("neg_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("anchor_id", "neg_id", "sim", "rank"))
