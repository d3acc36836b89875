"""Topic-modeling operators (SURVEY M3, A6).

The reference runs BERTopic — embed → UMAP → HDBSCAN → c-TF-IDF
(code/bertopicTest.py:53-61) — a single-node pipeline. The honest
scalable decomposition (SURVEY §7.3#4):

- clustering: distributed Lloyd's k-means over the embedding column.
  Assignment is a narrow map (one numpy matmul per Arrow batch
  against the driver-held centroid matrix); the centroid update is one
  partial-aggregated groupBy per iteration. k×dim floats cross the
  driver per iteration — nothing else does. This is the LDA/k-means
  "scalable analogue" promised in SURVEY §2.10 M3; we do not
  pretend to distribute HDBSCAN.
- per-topic terms: text_analysis.topic_terms (c-TF-IDF) over the
  assignment — same surface bertopicTest.py:94-100 reports.
- topic sizes + share: relational.share_of_total
  (bertopicTest.py:107-112).

Determinism: centroids init from the k lowest ids (no RNG), fixed
iteration count → identical results on every run/engine.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parlerproject_spark.operators.relational import share_of_total
from parlerproject_spark.operators.text_analysis import topic_terms


def centroid_literal(centroids: list[list[float]]) -> F.Column:
    """k×dim centroid matrix as ONE array<array<double>> literal —
    a single Literal node, not k×dim Column objects (k=16, dim=384
    would otherwise be 6,144 expression-tree leaves, which dominates
    driver-side plan construction and analysis time)."""
    return F.lit([[float(x) for x in c] for c in centroids])


def unit_rows(centroids: list[list[float]]) -> list[list[float]]:
    """L2-normalize each centroid driver-side: argmax_c cos(v, c) ==
    argmax_c dot(v, c/|c|), so assignment needs ONE dot per cell
    instead of three (dot + two norms) — the vector's own norm
    is a constant factor across cells and drops out of the argmax."""
    out = []
    for c in centroids:
        n = math.sqrt(sum(x * x for x in c))
        out.append([x / n for x in c] if n > 0 else list(c))
    return out


def _assign(vectors: DataFrame, centroids: list[list[float]], *,
            id_col: str, vec_col: str,
            outlier_threshold: float | None = None,
            keep_topics: list[int] | None = None) -> DataFrame:
    """Nearest-centroid (cosine) assignment — a pure map (no join, no
    shuffle): one numpy (N×dim)·(dim×k) matmul per Arrow batch
    against the pre-normalized centroids, argmax ties to the lowest
    cell index. BLAS does in microseconds what k×dim interpreted
    lambda steps per row cannot. The SQL oracles replay the argmax
    with a sequential fold; BLAS reduction order differs by ≲ d·ulp,
    which can flip an assignment only on a near-exact tie between
    two centroids.

    `outlier_threshold`: when set, a vector whose best cosine
    similarity falls below it gets topic -1 — the engine's analogue
    of BERTopic/HDBSCAN's outlier topic (bertopicTest.py:56-61
    reports outliers as first-class; reduce_outliers below maps them
    back). Zero-norm vectors are always outliers under a threshold
    (cosine undefined).

    `keep_topics`: when set, rows whose argmax topic is NOT in the
    list are dropped INSIDE the Python pass — the IVF probe filter
    fused into the assignment map, so only the rows the consumer
    needs cross the Arrow boundary back (~(1 - nprobe/num_cells) of
    the corpus never re-crosses it). Identical to filtering the
    returned `topic` column afterwards."""
    import numpy as np
    import pandas as pd

    C = np.array(unit_rows(centroids), dtype=np.float64)
    keep = (np.array(sorted(keep_topics), dtype=np.int32)
            if keep_topics is not None else None)
    fields = {f.name: f.dataType.simpleString()
              for f in vectors.schema.fields}
    out_schema = (f"{id_col} {fields[id_col]}, "
                  f"{vec_col} {fields[vec_col]}, topic int")

    def gen(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            sims = V @ C.T
            topic = np.argmax(sims, axis=1).astype(np.int32)
            if outlier_threshold is not None:
                vn = np.linalg.norm(V, axis=1)
                best = sims[np.arange(len(V)), topic]
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = np.where(vn > 0, best / vn, -np.inf)
                topic = np.where(cos < outlier_threshold,
                                 np.int32(-1), topic).astype(np.int32)
            out = pd.DataFrame({id_col: pdf[id_col].values,
                                vec_col: pdf[vec_col].values,
                                "topic": topic})
            if keep is not None:
                out = out[np.isin(topic, keep)]
            yield out

    return vectors.select(id_col, vec_col).mapInPandas(gen, out_schema)


def _round_half_away(x: float, d: int) -> float:
    """round() with DuckDB/Spark SQL semantics (half away from
    zero) — Python's built-in round is banker's, which would diverge
    from the oracle exactly at .5 ulp boundaries."""
    p = 10.0 ** d
    return math.copysign(math.floor(abs(x) * p + 0.5) / p, x)


def _maxmin_init(cands: list[list[float]], k: int) -> list[int]:
    """Deterministic farthest-point seeding over the candidate pool:
    start from candidate 0 (lowest id), then greedily add the
    candidate with the LARGEST minimum cosine distance to the chosen
    set (ties → lowest index). Spreads seeds across the data's
    extent, where head-of-table seeding can put several seeds inside
    one dense region — materially better IVF cells on unclustered
    data. Pure driver-side math over the already-collected 2k pool."""
    import numpy as np
    C = np.array(cands, dtype=np.float64)
    n = np.linalg.norm(C, axis=1, keepdims=True)
    U = C / np.maximum(n, 1e-12)
    chosen = [0]
    # min cosine distance to the chosen set, updated incrementally
    mind = 1.0 - U @ U[0]
    for _ in range(1, min(k, len(cands))):
        nxt = int(np.argmax(mind))          # first max → lowest index
        chosen.append(nxt)
        mind = np.minimum(mind, 1.0 - U @ U[nxt])
    return chosen


def _lloyd_partial_sums(train: DataFrame, centroids: list[list[float]],
                        *, dim: int, vec_col: str):
    """One Lloyd iteration's statistics, computed with the
    assignment FUSED into per-batch partial sums: each Arrow batch
    assigns its vectors (one BLAS matmul) and emits k×dim partial
    (sum, count) rows, so the per-iteration shuffle carries
    batches·k·dim rows instead of the n·dim exploded coordinates
    the old assign→posexplode→groupBy shape shuffled — at a
    terabyte-scale training sample that is the difference between
    re-shuffling the sample every iteration and shuffling (almost)
    nothing. Float-sum order changes with batching, exactly as a
    shuffled groupBy's does; the `round_c` rounded-centroid
    contract absorbs both. Returns the collected per-(topic, pos)
    totals (k×dim rows — model-sized)."""
    import numpy as np
    import pandas as pd

    k = len(centroids)
    C = np.array(unit_rows(centroids), dtype=np.float64)

    def gen(it):
        S = np.zeros((k, dim))
        n = np.zeros(k, dtype=np.int64)
        seen = False
        for pdf in it:
            if len(pdf) == 0:
                continue
            seen = True
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            t = np.argmax(V @ C.T, axis=1)
            np.add.at(S, t, V)
            np.add.at(n, t, 1)
        if not seen:
            return
        idx = np.repeat(np.arange(k), dim)
        yield pd.DataFrame({"topic": idx.astype(np.int32),
                            "pos": np.tile(np.arange(dim), k)
                            .astype(np.int32),
                            "s": S.ravel(), "n": n[idx]})

    parts = train.select(vec_col).mapInPandas(
        gen, "topic int, pos int, s double, n long")
    return (parts.groupBy("topic", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect())


def lloyd_centroids(vectors: DataFrame, *, k: int = 8, max_iter: int = 5,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    train_mod: int | None = None,
                    round_c: int | None = None,
                    init: str = "head") -> list[list[float]]:
    """Deterministic distributed Lloyd's k-means → k centroids.

    Per iteration: ONE fused Arrow pass (assignment matmul +
    per-batch partial sums — see _lloyd_partial_sums) whose shuffle
    carries k×dim partial rows per batch, then k×dim floats collect
    to the driver for the next broadcast. Iterations are jobs, not
    nested shuffles — the 100 TB cost is max_iter scans of the
    (persisted) training sample, each embarrassingly parallel, with
    per-iteration shuffle volume independent of the sample size.

    `train_mod=m` trains on the deterministic ~1/m hash-sample
    (stable_hash31(id) % m == 0 — the md5-based engine hash, NOT
    Spark's xxhash64, so a SQL oracle can reproduce the sample) —
    the production pattern for index/topic fitting at scale: fit on
    a sample, assign on everything. Falls back to the full table
    when the sample is too small to seed k clusters (< 2k rows), so
    tiny inputs behave identically with or without sampling. Shared
    by topic modeling (below) and the IVF ANN index
    (similarity.knn_ivf).

    `round_c=d` rounds every centroid coordinate to d decimals
    (half-away-from-zero, SQL semantics) after each update — the
    cross-engine determinism contract that lets an unrolled SQL
    oracle replay the whole iteration exactly (float sum order
    differs between engines; rounding re-synchronizes the state
    each step, same trick as the rounded-double contract every
    aggregate query here uses)."""
    from parlerproject_spark.functions.text import stable_hash31
    train = vectors
    if train_mod is not None and train_mod > 1:
        train = vectors.filter(
            stable_hash31(F.col(id_col).cast("string"))
            % F.lit(train_mod) == 0)
    # max_iter full passes re-read the training set — persist it once
    # (the MLlib k-means pattern; the sample is small by construction)
    train = train.select(id_col, vec_col).persist()
    try:
        head = train.orderBy(F.col(id_col).asc()).limit(2 * k).collect()
        if train_mod is not None and train_mod > 1 and len(head) < 2 * k:
            # sample can't seed k clusters — fall back to the full set
            train.unpersist()
            train = vectors.select(id_col, vec_col).persist()
            head = train.orderBy(F.col(id_col).asc()).limit(2 * k).collect()
        pool = [[float(x) for x in r[vec_col]] for r in head]
        if init == "maxmin":
            centroids = [pool[i] for i in _maxmin_init(pool, k)]
        else:  # "head": the k lowest ids — simplest SQL-replayable init
            centroids = pool[:k]
        dim = len(centroids[0])

        for _ in range(max_iter):
            rows = _lloyd_partial_sums(train, centroids, dim=dim,
                                       vec_col=vec_col)
            acc: dict[int, list[float]] = {}
            cnt: dict[int, int] = {}
            for r in rows:
                acc.setdefault(r["topic"], [0.0] * dim)[r["pos"]] = r["s"]
                cnt[r["topic"]] = r["n"]
            new = []
            for t in range(k):
                if t in acc and cnt[t] > 0:
                    c = [x / cnt[t] for x in acc[t]]
                    if round_c is not None:
                        c = [_round_half_away(x, round_c) for x in c]
                    new.append(c)
                else:  # empty cluster keeps its old centroid (deterministic)
                    new.append(centroids[t])
            centroids = new
        return centroids
    finally:
        train.unpersist()


def kmeans_topics(vectors: DataFrame, *, k: int = 8, max_iter: int = 5,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  train_mod: int | None = None,
                  outlier_threshold: float | None = None,
                  round_c: int | None = None) -> DataFrame:
    """Deterministic distributed k-means → (id, topic). Centroids
    optionally fit on the 1/train_mod hash-sample; assignment always
    covers every vector. Training always hard-assigns (Lloyd's needs
    every point in a cell); `outlier_threshold` applies only to the
    final assignment, emitting topic -1 for vectors whose best
    cosine falls below it (the BERTopic outlier analogue).
    `round_c` enables the rounded-centroid cross-engine contract
    (see lloyd_centroids) so an unrolled SQL oracle can replay the
    fit bit-for-bit."""
    centroids = lloyd_centroids(vectors, k=k, max_iter=max_iter,
                                id_col=id_col, vec_col=vec_col,
                                train_mod=train_mod, round_c=round_c)
    return _assign(vectors, centroids, id_col=id_col, vec_col=vec_col,
                   outlier_threshold=outlier_threshold) \
        .select(id_col, "topic")


def reduce_outliers(assigned: DataFrame, vectors: DataFrame,
                    centroids: list[list[float]], *,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """BERTopic's reduce_outliers analogue (bertopicTest.py:127):
    rows with topic -1 are reassigned to their nearest centroid
    (no threshold); non-outlier rows keep their topic. One narrow
    assignment map + one equi-join on id — no corpus-wide state."""
    nearest = _assign(vectors, centroids, id_col=id_col, vec_col=vec_col) \
        .select(F.col(id_col), F.col("topic").alias("nearest"))
    return (assigned.join(nearest, id_col)
            .select(F.col(id_col),
                    F.when(F.col("topic") == -1, F.col("nearest"))
                     .otherwise(F.col("topic")).alias("topic")))


def fit_topics(docs: DataFrame, vectors: DataFrame, *, k: int = 8,
               max_iter: int = 5, top_n: int = 10,
               doc_id_col: str = "doc_id", vec_id_col: str = "vec_id",
               train_mod: int | None = None,
               outlier_threshold: float | None = None,
               method: str = "kmeans",
               density_kwargs: dict | None = None,
               projection: str | None = None,
               projection_kwargs: dict | None = None,
               ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The full M3 surface: (doc_topics, topic_info, topic_words) —
    the triple bertopicTest.py:93-112 reports, from one clustering
    pass + two aggregations. With `outlier_threshold` set, topic -1
    flows through all three outputs exactly as BERTopic's outlier
    topic does in the reference's report (topic_info's -1 row IS the
    outlier-share line of bertopicTest.py:107).

    method="kmeans" (default): distributed Lloyd's — the centroid
    half of the M3 decomposition. method="density": sampled-fit /
    full-assign DBSCAN exemplar assignment
    (density.sampled_density_assign) — the HDBSCAN-analogue half,
    closest in spirit to the reference's actual clusterer (arbitrary
    cluster shapes, first-class noise); `density_kwargs` passes
    through to it, and `outlier_threshold`/`k`/`max_iter`/
    `train_mod` are kmeans-only.

    projection="landmark" runs the clusterer in the anchor-
    similarity space of pca.landmark_projection instead of the raw
    embedding space — the stand-in for BERTopic's UMAP step
    (bertopicTest.py:53-61): reduce to a space where cosine
    neighborhoods survive, THEN density-cluster or k-means it.
    `projection_kwargs` passes through (n_anchors, ...)."""
    if projection == "landmark":
        from parlerproject_spark.operators.pca import landmark_projection
        vectors = landmark_projection(
            vectors, id_col=vec_id_col, out_col="embedding",
            **{k_: v for k_, v in (projection_kwargs or {}).items()
               if k_ != "out_col"})
    elif projection is not None:
        raise ValueError(f"unknown projection: {projection}")
    if method == "density":
        from parlerproject_spark.operators.density import (
            sampled_density_assign)
        assignment = sampled_density_assign(
            vectors, **{"id_col": vec_id_col, **(density_kwargs or {})})
    elif method == "kmeans":
        assignment = kmeans_topics(vectors, k=k, max_iter=max_iter,
                                   id_col=vec_id_col, train_mod=train_mod,
                                   outlier_threshold=outlier_threshold)
    else:
        raise ValueError(f"unknown method: {method}")
    doc_topics = docs.join(
        assignment.withColumnRenamed(vec_id_col, doc_id_col), doc_id_col)
    topic_info = share_of_total(doc_topics, "topic",
                                count_alias="Count", pct_alias="share_pct")
    topic_words = topic_terms(doc_topics, topic_col="topic", top_n=top_n)
    return doc_topics.select(doc_id_col, "topic"), topic_info, topic_words
