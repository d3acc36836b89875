"""Distributed PCA / whitening over embedding columns.

The embedding-pipeline transforms the reference's single-node stack
gets from sklearn (and BERTopic gets from UMAP's spectral init):
mean-center, decorrelate, reduce dimension, optionally whiten —
applied here to a 100 TB `array<float>` column.

Scale decomposition (the classic two-pass-free moment shape):

1. `embedding_moments` — one `mapInPandas` pass computes, per Arrow
   batch, the BLAS partial sums (n, Σx, Σxxᵀ upper triangle) and
   emits them as (i, j, val) rows: d(d+1)/2 + d + 1 rows PER BATCH,
   independent of batch row count. One groupBy(i, j) reduce — the
   only shuffle — then covariance assembles relationally:
   cov(i,j) = Σxy/n − μᵢμⱼ (population). No per-row d² blowup, no
   driver aggregation of data rows.
2. `pca_components` — collects the d×d covariance (a BOUNDED
   index-metadata collect, same contract as `similarity.train_pq`'s
   codebooks: d² floats, never data rows) and eigendecomposes on
   the driver with numpy. Eigenvector sign is fixed so each
   component's largest-|entry| coordinate is positive — eigh's sign
   choice is arbitrary and would otherwise differ across BLAS
   builds.
3. `pca_project` — broadcast the (d × n_components) matrix as a
   literal into a second `mapInPandas` matmul: a pure map, zero
   shuffle. whiten=True scales component c by 1/√(λ_c + 1e-9) so the
   output has (approximately) identity covariance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parlerproject_spark.functions.py_udfs import round_half_up


def embedding_moments(vectors: DataFrame, *,
                      vec_col: str = "embedding") -> DataFrame:
    """Population covariance matrix as rows (i, j, cov), upper
    triangle j ≥ i only (the matrix is symmetric). 0-based indices,
    cov rounded to 6 decimals (cross-engine float contract)."""
    import numpy as np
    import pandas as pd

    def gen(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            d = V.shape[1]
            S = V.T @ V
            iu, ju = np.triu_indices(d)
            i = np.concatenate([iu, np.arange(d), [-1]])
            j = np.concatenate([ju, np.full(d, -1), [-1]])
            val = np.concatenate([S[iu, ju], V.sum(axis=0), [float(len(V))]])
            yield pd.DataFrame({"i": i.astype(np.int32),
                                "j": j.astype(np.int32), "val": val})

    raw = vectors.select(vec_col).mapInPandas(gen, "i int, j int, val double")
    tot = raw.groupBy("i", "j").agg(F.sum("val").alias("val"))
    n = tot.filter((F.col("i") == -1) & (F.col("j") == -1)) \
           .select(F.col("val").alias("n"))
    mu = tot.filter((F.col("i") >= 0) & (F.col("j") == -1)) \
            .select(F.col("i").alias("mi"), F.col("val").alias("sx"))
    return (tot.filter(F.col("j") >= 0)
            .crossJoin(F.broadcast(n))
            .join(F.broadcast(mu.select(F.col("mi").alias("i"),
                                        F.col("sx").alias("sxi"))), "i")
            .join(F.broadcast(mu.select(F.col("mi").alias("j"),
                                        F.col("sx").alias("sxj"))), "j")
            .select("i", "j",
                    # + 0.0 folds IEEE -0.0 to +0.0 — a rounded-to-zero
                    # negative product hashes as "-0.0" otherwise
                    (F.round(F.col("val") / F.col("n")
                             - (F.col("sxi") / F.col("n"))
                             * (F.col("sxj") / F.col("n")), 6)
                     + F.lit(0.0)).alias("cov")))


def pca_components(vectors: DataFrame, *, n_components: int,
                   vec_col: str = "embedding"):
    """Fit PCA: returns (mean, components, eigenvalues) as numpy
    arrays — components is (n_components, d), rows ordered by
    eigenvalue descending, sign-fixed. Only d² + d floats ever reach
    the driver."""
    import numpy as np

    rows = embedding_moments(vectors, vec_col=vec_col).collect()
    sums = {(-1, -1): 0.0}
    for r in rows:
        sums[(r["i"], r["j"])] = r["cov"]
    d = 1 + max(i for i, _ in sums if i >= 0)
    C = np.zeros((d, d))
    for (i, j), v in sums.items():
        if i >= 0:
            C[i, j] = C[j, i] = v
    # mean needs a second tiny agg (moments rounds cov only): one
    # narrow avg over the exploded vector — d rows to the driver
    mu_rows = (vectors.select(F.posexplode(vec_col).alias("i", "x"))
               .groupBy("i").agg(F.avg("x").alias("mu")).collect())
    mu = np.zeros(d)
    for r in mu_rows:
        mu[r["i"]] = r["mu"]
    w, V = np.linalg.eigh(C)
    order = np.argsort(w)[::-1][:n_components]
    evals = w[order]
    comps = V[:, order].T
    for r in range(comps.shape[0]):        # deterministic sign
        m = np.argmax(np.abs(comps[r]))
        if comps[r, m] < 0:
            comps[r] = -comps[r]
    return mu, comps, evals


def pca_project(vectors: DataFrame, mu, comps, evals, *,
                whiten: bool = False,
                id_col: str = "vec_id", vec_col: str = "embedding",
                out_col: str = "pc") -> DataFrame:
    """Project vectors onto fitted components: (x − μ) · compsᵀ,
    optionally scaled to unit variance per component. Pure map (one
    batched matmul), zero shuffle."""
    import numpy as np
    import pandas as pd

    M = np.asarray(comps, dtype=np.float64)
    mu_a = np.asarray(mu, dtype=np.float64)
    scale = (1.0 / np.sqrt(np.maximum(np.asarray(evals, dtype=np.float64),
                                      0.0) + 1e-9)
             if whiten else np.ones(M.shape[0]))

    def gen(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            P = (V - mu_a) @ M.T * scale
            yield pd.DataFrame({id_col: pdf[id_col].values,
                                out_col: [row.tolist() for row in P]})

    # derive the id type from the input schema — hardcoding bigint
    # corrupts string/int ids despite id_col being a parameter
    id_type = vectors.schema[id_col].dataType.simpleString()
    return vectors.select(id_col, vec_col).mapInPandas(
        gen, f"{id_col} {id_type}, {out_col} array<double>")


def landmark_anchors(vectors: DataFrame, *, n_anchors: int = 8,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> list[tuple]:
    """Deterministic pseudo-random anchor set for landmark
    projection: the `n_anchors` rows with the lowest
    (stable_hash31(id), id) key — hash order decorrelates the pick
    from id assignment order, and both engines reproduce it exactly
    (md5-based hash, total tie-break). Plan shape is a
    TakeOrderedAndProject (bounded k), and the collect is
    model-sized (n_anchors × d floats — the same bounded-collect
    contract as the k-means seed sample). Returns [(id, [vec]), ...]
    in ascending (hash, id) order."""
    from parlerproject_spark.functions.text import stable_hash31

    rows = (vectors
            .select(F.col(id_col).alias("__id"),
                    F.col(vec_col).alias("__v"),
                    stable_hash31(F.col(id_col).cast("string"))
                    .alias("__h"))
            .orderBy("__h", "__id")
            .limit(n_anchors)
            .collect())
    return [(r["__id"], [float(x) for x in r["__v"]]) for r in rows]


def landmark_projection(vectors: DataFrame, *, n_anchors: int = 8,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        out_col: str = "proj") -> DataFrame:
    """Landmark (anchor-similarity) embedding — the distributed
    stand-in for the UMAP step of the reference's BERTopic stack
    (code/bertopicTest.py:53-61). UMAP itself builds a global k-NN
    graph and optimizes a layout iteratively — a structure Spark
    should not build at corpus scale — but its ROLE in that pipeline
    is just "give the density clusterer a low-dimensional space
    where cosine neighborhoods survive". Landmark/anchor projection
    (the Nyström / landmark-MDS family) delivers exactly that with
    one broadcast map: x → (cos(x, a₁), …, cos(x, a_m)) over m
    deterministic anchors. Nearby vectors see every anchor at
    similar angles, so neighborhoods are preserved (parity pytest
    measures the rank correlation against exact cosine distances);
    far-apart vectors disagree on some anchor. Nonlinear in x, no
    global graph, no iterations.

    Scale shape: ONE TakeOrdered anchor pick (bounded collect) +
    ONE Arrow map over the corpus with the m×d anchor matrix closed
    over — zero shuffles beyond the anchor cut. Sims are HALF_UP-
    rounded at 6 dp (the _pair_cosine_scorer contract, hash-stable
    vs DuckDB); the per-anchor (X·aⱼ)/(|X||aⱼ|) loop keeps numpy's
    summation order identical to the SQL mirror (a BLAS matmul
    would block-sum in a different order and can flip a 6-dp
    half-boundary). Zero-norm inputs project to 0.0 against every
    anchor. Columns: <id_col>, <out_col> array<double> (length
    n_anchors, anchor order = ascending (hash, id))."""
    import numpy as np
    import pandas as pd

    anchors = landmark_anchors(vectors, n_anchors=n_anchors,
                               id_col=id_col, vec_col=vec_col)
    A = np.array([v for _, v in anchors], dtype=np.float64)
    a_norm = np.linalg.norm(A, axis=1)

    def gen(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            xn = np.linalg.norm(X, axis=1)
            cols = []
            for j in range(A.shape[0]):
                num = (X * A[j]).sum(axis=1)
                den = xn * a_norm[j]
                with np.errstate(invalid="ignore", divide="ignore"):
                    sim = round_half_up(np.where(den > 0, num / den, 0.0))
                cols.append(sim)
            P = np.stack(cols, axis=1)
            yield pd.DataFrame({id_col: pdf[id_col].values,
                                out_col: [row.tolist() for row in P]})

    # derive the id type from the input schema — hardcoding bigint
    # corrupts string/int ids despite id_col being a parameter
    id_type = vectors.schema[id_col].dataType.simpleString()
    return vectors.select(id_col, vec_col).mapInPandas(
        gen, f"{id_col} {id_type}, {out_col} array<double>")


def power_components(vectors: DataFrame, *, n_components: int,
                     vec_col: str = "embedding"):
    """Deflated power-iteration PCA — the hash-oracleable twin of
    `pca_components`: same distributed moments, but the driver-side
    d×d eigen step runs as n_components × 24 fixed
    matvec/normalize rounds with every iterate re-rounded to
    6 decimals (the lloyd/bradley_terry re-sync contract),
    followed by Hotelling deflation A ← A − λ v vᵀ (also re-rounded).
    Because the iteration count is FIXED and every intermediate
    re-rounds, an independent engine replaying the same unrolled
    sequence lands on bit-identical components whatever the eigen
    gaps are — `pca_components` (numpy eigh) stays the default and
    the better-converged fit; this variant trades last-digit
    convergence for replayability. Same contract as eigh: components
    (n_components, d) in decreasing-eigenvalue order, sign-fixed
    (largest-|entry| coordinate positive), plus the ROUNDED mean.

    Returns (mu, comps, evals) as numpy arrays; only d² + d floats
    reach the driver, exactly like pca_components.
    """
    import numpy as np

    def rc(a):
        return round_half_up(a, 6)

    rows = embedding_moments(vectors, vec_col=vec_col).collect()
    sums = {(r["i"], r["j"]): r["cov"] for r in rows
            if r["i"] >= 0 and r["j"] >= 0}
    d = 1 + max(i for i, _ in sums)
    A = np.zeros((d, d))
    for (i, j), v in sums.items():
        A[i, j] = A[j, i] = v
    mu_rows = (vectors.select(F.posexplode(vec_col).alias("i", "x"))
               .groupBy("i").agg(F.round(F.avg("x"), 6).alias("mu"))
               .collect())
    mu = np.zeros(d)
    for r in mu_rows:
        mu[r["i"]] = r["mu"]

    comps, evals = [], []
    for _c in range(n_components):
        v = np.full(d, float(rc(1.0 / np.sqrt(d))))
        for _t in range(24):
            w = A @ v
            nrm = float(np.sqrt((w * w).sum()))
            if nrm > 0:
                v = rc(w / nrm)
        t = A @ v
        lam = float(rc(float((v * t).sum())))
        # deflate with the UNflipped v (v vᵀ is sign-invariant, and
        # the SQL mirror must see the same pre-flip values)
        A = rc(A - lam * np.outer(v, v))
        vs = v.copy()
        m = int(np.argmax(np.abs(vs)))
        if vs[m] < 0:
            vs = -vs
        comps.append(vs)
        evals.append(lam)
    return mu, np.array(comps), np.array(evals)
