"""Similarity search over an embedding column (array<float>).

Two paths, mirroring how a 100 TB vector table is actually served:
- brute-force cosine top-k: the correctness baseline. The query
  vector is broadcast (a one-row dimension), the fact side streams —
  a single narrow pass, no shuffle except the final top-k merge
  (TakeOrderedAndProject).
- LSH-bucketed ANN: deterministic random-hyperplane signatures with
  multi-probe querying. Plane weights come from an md5 family (no
  RNG state) and sign-test every vector in one numpy matmul per
  Arrow batch (not literals baked into the expression tree).
  Probing hamming-distance-1 buckets trades a small constant factor
  on the (tiny) query side for much better recall.

Each ANN algorithm (LSH, IVF, IVF-PQ) has one build and one probe:
the in-session operator probes the build it just made, a persisted
`build_*_index` writes that same build partitioned by bucket or cell,
and `probe_*_index` runs the same probe over the Parquet read.

The reference's embedding store is an L2-normalized float32 matrix
(code/embeddings.py:82-87,119); cosine over normalized vectors is
dot product, but we compute full cosine to stay correct on
unnormalized input.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parlerproject_spark.caching import literal, literal_frame
from parlerproject_spark.functions.py_udfs import round_half_up
from parlerproject_spark.functions.vectors import cosine


def centroid_outlier_scores(vectors: DataFrame, *,
                            group_col: str = "label",
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Cosine of every vector to its own group's mean embedding —
    the within-cluster coherence signal quality pipelines threshold
    on (a document whose embedding sits far from its domain/topic
    centroid is mislabeled, noisy, or contamination; SemDeDup's
    companion "SemScore" filter ranks on exactly this).

    Shape: posexplode the vectors once to (group, dim, x) — float32
    components cast to double FIRST so Spark and the SQL oracle do
    identical double arithmetic — one (group, dim)-keyed aggregate
    for the centroids (at most |groups|·dim rows: broadcast to the
    re-join at any corpus size), then one vec-keyed aggregate
    folding dot product and both norms in a single pass. Two
    exchanges total, both on small keys; nothing is ever collected.

    Columns: <id_col>, <group_col>, centroid_sim (round 6; NULL for
    a zero vector).
    """
    ex = vectors.select(
        F.col(id_col).alias("vid"), F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col).cast("array<double>"))
        .alias("d", "x"))
    cents = ex.groupBy("grp", "d").agg(F.avg("x").alias("c"))
    per = (ex.join(F.broadcast(cents), ["grp", "d"])
           .groupBy("vid", "grp")
           .agg(F.sum(F.col("x") * F.col("c")).alias("dot"),
                F.sum(F.col("x") * F.col("x")).alias("nx2"),
                F.sum(F.col("c") * F.col("c")).alias("nc2")))
    denom = F.sqrt("nx2") * F.sqrt("nc2")
    return per.select(
        F.col("vid").alias(id_col), F.col("grp").alias(group_col),
        F.round(F.when(denom > 0, F.col("dot") / denom), 6)
        .alias("centroid_sim"))


def mahalanobis_outlier_scores(vectors: DataFrame, *, k: int = 50,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding") -> DataFrame:
    """Diagonal-Mahalanobis outlier scores (round 13): score(v) =
    Σ_d (v_d − μ_d)² / σ²_d — the variance-NORMALIZED companion of
    centroid_outlier_scores. Cosine-to-centroid is blind to scale
    and treats every dimension equally; a corpus whose dimensions
    have wildly different spreads (the usual case for unnormalized
    encoder outputs) hides outliers in high-variance dims and
    over-flags tight dims. The diagonal form keeps the covariance
    model d-sized (full Σ⁻¹ needs a d×d inverse — a driver-side
    model fit, deliberately out of scope for the in-plan operator;
    embedding_covariance provides the audit view).

    Shape: one exploded pass → d-row moment table (mean + population
    variance via sum(x²)/n − μ², the form both engines reproduce
    bit-for-bit, persisted + broadcast), one scoring pass folding
    the per-dim terms, TakeOrderedAndProject for the top-k (never a
    global sort). Zero-variance dims contribute 0 (constant dims
    carry no outlier signal, and the oracle mirrors the guard).

    Columns: <id_col>, mahal2 (round 6), top `k` by score desc with
    ascending-id tie-break.
    """
    ex = vectors.select(
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col).cast("array<double>"))
        .alias("d", "x"))
    mom = (ex.groupBy("d")
           .agg(F.avg("x").alias("mu"),
                (F.sum(F.col("x") * F.col("x")) / F.count(F.lit(1))
                 - F.avg("x") * F.avg("x")).alias("vr"))
           .persist())
    term = F.when(F.col("vr") > 0,
                  (F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu"))
                  / F.col("vr")).otherwise(F.lit(0.0))
    return (ex.join(F.broadcast(mom), "d")
            .groupBy("vid")
            .agg(F.round(F.sum(term), 6).alias("mahal2"))
            .orderBy(F.col("mahal2").desc(), F.col("vid").asc())
            .limit(k)
            .select(F.col("vid").alias(id_col), "mahal2"))


#: LSH hyperplanes per table and hash tables, shared by `knn_lsh`,
#: `build_lsh_index` and `probe_lsh_index`: an index built with one
#: family and probed with another would return wrong rows silently.
LSH_PLANES = 6
LSH_TABLES = 8


def _plane_weight(table: int, plane: int, dim: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1) from md5 —
    reproducible everywhere, no RNG state."""
    h = hashlib.md5(f"plane:{table}:{plane}:{dim}".encode()).hexdigest()
    return (int(h[:12], 16) / float(16 ** 12)) * 2.0 - 1.0


def knn_bruteforce(vectors: DataFrame, query: DataFrame, *, k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k of `vectors` against a ONE-ROW `query`
    DataFrame with column `q` (array). Columns: vec_id, sim.

    Broadcast-nested-loop of a 1-row side = a free-riding map stage;
    the only shuffle is the k-row ordered merge.
    """
    joined = vectors.crossJoin(F.broadcast(query))
    scored = joined.select(
        F.col(id_col).alias("vec_id"),
        F.round(cosine(vec_col, "q"), 6).alias("sim"),
    )
    return scored.orderBy(F.col("sim").desc(), F.col("vec_id").asc()).limit(k)


def _query_vector(query: DataFrame, op: str) -> list[float]:
    """The vector of a one-row `query` frame (column q), on the
    driver, where each probe turns it into literals. limit(2) tells
    one row from many without collecting a large frame."""
    rows = query.select("q").limit(2).collect()
    if len(rows) != 1:
        raise ValueError(f"{op} takes a one-row query frame")
    return [float(x) for x in rows[0]["q"]]


def _rerank(cand: DataFrame, q: list[float], *, k: int, vec_col: str,
            dedup: bool) -> DataFrame:
    """Every ANN probe's tail: exact cosine (6 dp) of the candidate
    rows (vec_id, <vec_col>) to the literal query, top-k by sim desc,
    vec_id asc. `dedup`: a vector found in several LSH tables counts
    once."""
    qlit = literal(q, "array<double>")
    scored = cand.select("vec_id",
                         F.round(cosine(vec_col, qlit), 6).alias("sim"))
    if dedup:
        scored = scored.groupBy("vec_id").agg(F.max("sim").alias("sim"))
    return scored.orderBy(F.col("sim").desc(), F.col("vec_id").asc()).limit(k)


# LSH ------------------------------------------------------------------------

def _lsh_signer(dim: int, num_planes: int, num_tables: int):
    """V (n×dim) → (n × num_tables) bucket signatures: the sign of
    <v, plane> for each of a table's planes (`_plane_weight`), folded
    MSB-first into an int64. One (n×dim)·(dim×T·P) numpy matmul (BLAS)
    for the whole batch. The corpus map (`_signatures_arrow`) and the
    driver-side query buckets (`_lsh_query_buckets`) both sign with
    it, so float summation order can never put identical vectors in
    different buckets."""
    import numpy as np

    W = np.array([[_plane_weight(t, p, d) for d in range(dim)]
                  for t in range(num_tables) for p in range(num_planes)])
    bitw = (1 << np.arange(num_planes - 1, -1, -1)).astype(np.int64)

    def sign(V):
        bits = (V @ W.T >= 0).reshape(len(V), num_tables, num_planes)
        return (bits * bitw).sum(axis=2)

    return sign


def _signatures_arrow(df: DataFrame, *, vec_col: str, key_cols: list[str],
                      dim: int, num_planes: int, num_tables: int) -> DataFrame:
    """Bit signature per (row, table) from `_lsh_signer`, one numpy
    matmul per Arrow batch instead of T·P·dim interpreted lambda
    steps per row; a pure map — zero shuffle."""
    import numpy as np
    import pandas as pd

    sign = _lsh_signer(dim, num_planes, num_tables)
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join(
        [f"{k} {fields[k]}" for k in key_cols]
        + [f"{vec_col} {fields[vec_col]}", "tbl int", "sig long"])

    def gen(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            sigs = sign(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            out = {k: pdf[k].values.repeat(num_tables) for k in key_cols}
            out[vec_col] = pdf[vec_col].values.repeat(num_tables)
            out["tbl"] = np.tile(np.arange(num_tables, dtype=np.int32), n)
            out["sig"] = sigs.ravel()
            yield pd.DataFrame(out)

    return df.select(*key_cols, vec_col).mapInPandas(gen, out_schema)


def _lsh_query_buckets(q: list[float], dim: int) -> list[int]:
    """The query's exact bucket in each of the LSH_TABLES tables,
    signed driver-side by the corpus map's own `_lsh_signer`."""
    import numpy as np

    sign = _lsh_signer(dim, LSH_PLANES, LSH_TABLES)
    return [int(s) for s in sign(np.array([q], dtype=np.float64))[0]]


def _lsh_build(vectors: DataFrame, *, dim: int, id_col: str,
               vec_col: str) -> DataFrame:
    """The LSH index: one (vec_id, <vec_col>, tbl, sig) row per
    (vector, table) — a narrow Arrow/BLAS map, zero shuffle."""
    return (_signatures_arrow(vectors, vec_col=vec_col, key_cols=[id_col],
                              dim=dim, num_planes=LSH_PLANES,
                              num_tables=LSH_TABLES)
            .select(F.col(id_col).alias("vec_id"), vec_col, "tbl", "sig"))


def _lsh_probe(index: DataFrame, q: list[float], *, dim: int, k: int,
               vec_col: str) -> DataFrame:
    """Top-k cosine probe of an LSH index frame. Multi-probe: the
    query's exact bucket plus every hamming-1 neighbour in each
    table, computed driver-side, so the filter is a literal
    disjunction over (tbl, sig) — over a partitionBy(tbl, sig) Parquet
    read it prunes partitions at planning time. Exact cosine
    re-ranks the candidates; a vector found in several tables keeps
    its (identical) best sim once."""
    cond = None
    for t, sig in enumerate(_lsh_query_buckets(q, dim)):
        sigs = sorted({sig} | {sig ^ (1 << p) for p in range(LSH_PLANES)})
        c = (F.col("tbl") == t) & F.col("sig").isin(sigs)
        cond = c if cond is None else cond | c
    return _rerank(index.filter(cond), q, k=k, vec_col=vec_col, dedup=True)


def knn_lsh(vectors: DataFrame, query: DataFrame, *, dim: int, k: int = 10,
            id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """ANN cosine top-k of a ONE-ROW `query` (column q):
    random-hyperplane LSH with multi-probe, `_lsh_probe` over
    `_lsh_build` — the same build and probe `build_lsh_index` /
    `probe_lsh_index` persist and read.

    Corpus side: one signature per (vector, table), a narrow Arrow/BLAS
    map. The matmul beat an interpreted per-element fold at every size
    measured in r4 — 2k rows 2.2 s vs 2.6 s, 20k 3.9 vs 13.6, 200k
    24.3 vs 138.7 (dim=64, 48 planes). Query side: the exact bucket
    plus every hamming-1 neighbour (LSH_PLANES probes/table) as a
    literal filter. Exact cosine re-rank inside probed buckets only.
    Recall < 1 by design; `knn_bruteforce` is the oracle.
    Columns: vec_id, sim.
    """
    q = _query_vector(query, "knn_lsh")
    return _lsh_probe(_lsh_build(vectors, dim=dim, id_col=id_col,
                                 vec_col=vec_col),
                      q, dim=dim, k=k, vec_col=vec_col)


def build_lsh_index(vectors: DataFrame, path: str, *, dim: int,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    ) -> None:
    """Write `knn_lsh`'s index (`_lsh_build`) as Parquet PARTITIONED
    BY (tbl, sig) — the physical layout IS the hash buckets
    (LSH_TABLES × 2^LSH_PLANES directories), so a probe reads
    (1 + LSH_PLANES)/2^LSH_PLANES of each table's files. The plane
    family is derived from (table, plane, dim) md5 — no RNG state —
    so probes recompute identical planes from `dim` alone.
    """
    (_lsh_build(vectors, dim=dim, id_col=id_col, vec_col=vec_col)
     .write.mode("overwrite").partitionBy("tbl", "sig").parquet(path))


def probe_lsh_index(spark, path: str, query_vec: list[float], *, dim: int,
                    k: int = 10,
                    vec_col: str = "embedding") -> DataFrame:
    """Top-k cosine probe against a persisted LSH index: `knn_lsh`'s
    probe (`_lsh_probe`) over the Parquet read, whose literal
    (tbl, sig) filter prunes to the probed buckets' files at planning
    time. Columns: vec_id, sim.
    """
    return _lsh_probe(spark.read.parquet(path),
                      [float(x) for x in query_vec],
                      dim=dim, k=k, vec_col=vec_col)


# IVF ------------------------------------------------------------------------

def _ivf_train(vectors: DataFrame, *, num_cells: int, max_iter: int,
               train_mod: int | None, round_c: int | None, id_col: str,
               vec_col: str) -> list[list[float]]:
    """The IVF cell centroids: maxmin-seeded Lloyd k-means
    (topics.lloyd_centroids) on the deterministic 1/train_mod
    hash-sample — cell quality needs only a sample, so training never
    scans the full corpus; tiny inputs fall back to the full table."""
    from parlerproject_spark.operators.topics import lloyd_centroids

    return lloyd_centroids(vectors, k=num_cells, max_iter=max_iter,
                           init="maxmin", id_col=id_col, vec_col=vec_col,
                           train_mod=train_mod, round_c=round_c)


def _ivf_assign(vectors: DataFrame, centroids: list[list[float]],
                keep_cells: list[int] | None, *, id_col: str,
                vec_col: str) -> DataFrame:
    """The IVF index rows (vec_id, <vec_col>, cell): every vector's
    nearest centroid by a narrow Arrow matmul map (topics._assign, no
    shuffle). `keep_cells` drops the other cells' rows inside that
    map, so they never cross the Arrow boundary back."""
    from parlerproject_spark.operators.topics import _assign

    return (_assign(vectors.select(F.col(id_col).alias("vec_id"),
                                   F.col(vec_col)),
                    centroids, id_col="vec_id", vec_col=vec_col,
                    keep_topics=keep_cells)
            .withColumnRenamed("topic", "cell"))


def _probe_cells(centroids: list[list[float]], q: list[float],
                 nprobe: int) -> list[int]:
    """The query's top-nprobe IVF cells, ranked driver-side (num_cells
    dot products, microseconds): dot of q with each unit-normalized
    centroid (topics.unit_rows; a zero-norm centroid stays as-is),
    folded sequentially like the JVM's `acc + x*y`, sorted by
    (−sim, cell) so ties go to the lowest cell index. The knn_ivf
    oracle replays this order."""
    from parlerproject_spark.operators.topics import unit_rows

    qv = [float(x) for x in q]

    def neg_dot(c: list[float]) -> float:
        acc = 0.0
        for x, y in zip(qv, c):
            acc += x * y
        return -acc

    cells = unit_rows(centroids)
    return sorted(range(len(cells)),
                  key=lambda i: (neg_dot(cells[i]), i))[:nprobe]


def knn_ivf(vectors: DataFrame, query: DataFrame, *, k: int = 10,
            num_cells: int = 16, nprobe: int = 4, max_iter: int = 3,
            round_c: int | None = None,
            id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF (inverted-file) ANN cosine top-k of a ONE-ROW `query`
    (column q) — the scale path next to `knn_lsh`, and the same
    train (`_ivf_train`), assignment (`_ivf_assign`) and cell ranking
    (`_probe_cells`) `build_ivf_index` / `probe_ivf_index` persist and
    read.

    Index side: k-means cells fit on the 1/8 hash-sample, then every
    vector is assigned to its nearest centroid. Query side: the
    top-nprobe cells are ranked on the driver and fused INTO the
    assignment map (r14): rows outside the probed cells
    never cross the Arrow boundary back, and no probe join is planned.
    Exact cosine re-rank inside the probed cells. Recall < 1 by
    design; `knn_bruteforce` is the oracle (pytest asserts recall).
    Columns: vec_id, sim.
    """
    centroids = _ivf_train(vectors, num_cells=num_cells, max_iter=max_iter,
                           train_mod=8, round_c=round_c, id_col=id_col,
                           vec_col=vec_col)
    q = _query_vector(query, "knn_ivf")
    cand = _ivf_assign(vectors, centroids, _probe_cells(centroids, q, nprobe),
                       id_col=id_col, vec_col=vec_col)
    return _rerank(cand, q, k=k, vec_col=vec_col, dedup=False)


def build_ivf_index(vectors: DataFrame, path: str, *, num_cells: int = 16,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    ) -> list[list[float]]:
    """Write `knn_ivf`'s index — 3 Lloyd rounds on the 1/8
    hash-sample (`_ivf_train`), every vector assigned once
    (`_ivf_assign`) — as Parquet PARTITIONED BY cell, so every later
    probe reads only nprobe/num_cells of the files. Returns the
    centroid matrix (the index metadata a serving layer persists
    alongside the table).
    """
    centroids = _ivf_train(vectors, num_cells=num_cells, max_iter=3,
                           train_mod=8, round_c=None, id_col=id_col,
                           vec_col=vec_col)
    (_ivf_assign(vectors, centroids, None, id_col=id_col, vec_col=vec_col)
     .write.mode("overwrite").partitionBy("cell").parquet(path))
    return centroids


def append_ivf_index(vectors: DataFrame, path: str,
                     centroids: list[list[float]], *,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> None:
    """Incremental index maintenance: assign NEW vectors to the
    EXISTING cells (`_ivf_assign`) and append their partitions — no
    retrain, no rewrite of resident data (the standard FAISS `add`
    contract; a drifted corpus eventually warrants a rebuild, but
    day-to-day ingest must not reshuffle a 100 TB index). Only the
    cells the new vectors land in gain files, probes keep pruning by
    the same partition column, and a concurrent reader sees the old
    snapshot until the write commits.

    Incoming batches are cast to the RESIDENT index schema first
    (footer-only read — no data scan): upstream arithmetic silently
    widens float32 embeddings to double (`x * 1.0` promotes), and a
    mixed-width partition poisons every later probe with a
    vectorized-reader SchemaColumnConvertNotSupportedException —
    schema conformance is the appender's job, not each caller's.
    """
    assigned = _ivf_assign(vectors, centroids, None, id_col=id_col,
                           vec_col=vec_col)
    resident = {f.name: f.dataType
                for f in vectors.sparkSession.read.parquet(path).schema.fields}
    for name, dt in resident.items():
        if name in assigned.columns and assigned.schema[name].dataType != dt:
            assigned = assigned.withColumn(name, F.col(name).cast(dt))
    assigned.write.mode("append").partitionBy("cell").parquet(path)


def probe_ivf_index(spark, path: str, centroids: list[list[float]],
                    query_vec: list[float], *, k: int = 10, nprobe: int = 4,
                    vec_col: str = "embedding") -> DataFrame:
    """Top-k cosine probe against a persisted IVF index: `knn_ivf`'s
    cell ranking (`_probe_cells`) becomes a LITERAL `cell IN (...)`
    filter on the Parquet read, which prunes partitions at planning
    time, then the same exact re-rank. Columns: vec_id, sim.
    """
    q = [float(x) for x in query_vec]
    rows = spark.read.parquet(path).filter(
        F.col("cell").isin(_probe_cells(centroids, q, nprobe)))
    return _rerank(rows, q, k=k, vec_col=vec_col, dedup=False)


# Product quantization -----------------------------------------------------

def train_pq(vectors: DataFrame, *, dim: int, m: int = 8, ksub: int = 16,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> list:
    """Train product-quantization codebooks: split the `dim` space
    into `m` equal subspaces and fit `ksub` L2 k-means centroids per
    subspace (5 Lloyd rounds) on a bounded deterministic sample
    (orderBy(id) head of 4096 rows —
    same bounded-collect contract as lloyd's init; codebook quality,
    like IVF cell quality, needs only a sample).

    PQ is the MEMORY scale path for ANN: a 64-float vector becomes
    m one-byte codes (here m=8 → 32× smaller), so a 100 TB embedding
    table's code table fits where the raw vectors cannot — the
    standard IVF+PQ serving stack (Jégou et al. 2011).

    Returns codebooks: m × ksub × (dim/m) nested lists (driver-side
    model, broadcast into the encode/search maps).

    Determinism contract (the lloyd_centroids round_c contract):
    init dedups on EXACT subvector equality and every centroid
    update rounds to 6 decimals, re-synchronizing float state
    so an independent engine (the DuckDB oracle) replaying the same
    unrolled iterations lands on bit-identical codebooks.
    """
    import numpy as np

    assert dim % m == 0, "dim must divide into m equal subspaces"
    dsub = dim // m
    rows = (vectors.select(F.col(id_col).alias("i"),
                           F.col(vec_col).alias("v"))
            .orderBy("i").limit(4096).collect())
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    books = []
    for s in range(m):
        sub = X[:, s * dsub:(s + 1) * dsub]
        # deterministic init: first ksub distinct subvectors
        seen, init = set(), []
        for row in sub:
            t = tuple(row)
            if t not in seen:
                seen.add(t)
                init.append(row)
            if len(init) == ksub:
                break
        C = np.array(init + [sub[i % len(sub)]
                             for i in range(ksub - len(init))])
        for _ in range(5):
            d2 = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for c in range(ksub):
                mask = a == c
                if mask.any():
                    mu = sub[mask].mean(axis=0)
                    # SQL round(), not np.round's half-to-even
                    C[c] = round_half_up(mu, 6)
        books.append([[float(x) for x in c] for c in C])
    return books


def encode_pq(vectors: DataFrame, codebooks: list, *,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode every vector as its per-subspace nearest-centroid code
    (argmin L2, ties to the lowest code) — one Arrow batch matmul
    per subspace, narrow map, no shuffle. Columns: vec_id, codes
    (array<int>, length m)."""
    import numpy as np
    import pandas as pd

    B = [np.array(b, dtype=np.float64) for b in codebooks]
    m, dsub = len(B), B[0].shape[1]

    def gen(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                sub = X[:, s * dsub:(s + 1) * dsub]
                d2 = ((sub[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame({"vec_id": pdf[id_col].values,
                                "codes": list(codes)})

    return (vectors.select(id_col, vec_col)
            .mapInPandas(gen, "vec_id long, codes array<int>"))


def _adc_rerank(codes: DataFrame, rows: DataFrame, vec_col: str,
                query_vec: list, codebooks: list, *, k: int,
                rerank: int) -> DataFrame:
    """PQ asymmetric-distance (ADC) scoring + exact cosine rerank —
    the one kernel behind knn_pq and probe_ivfpq_index. `codes` is
    (vec_id, codes), `rows` is (vec_id, <vec_col>).

    The query builds one m × ksub dot-product lookup table
    DRIVER-SIDE (microseconds); every encoded vector scores as the
    SUM of m table lookups — a JVM expression zipping the code array
    with the literal table, no Python in the scan — then the top
    `rerank` candidates re-rank by exact cosine against the original
    vectors (a key-join on a TakeOrdered-bounded candidate set).

    Candidate ranking is approximate COSINE, not raw dot product:
    alongside the q·centroid lookup table, a second table holds the
    per-subspace centroid self-dots, so each code's reconstructed
    norm |x̂| = sqrt(Σ_s |c_s|²) comes from the same m lookups and
    the ADC score is (q·x̂)/|x̂|. A raw-dot ranking biases the
    rerank pool toward large-norm vectors on unnormalized input and
    costs recall (r4 ADVICE) — the final exact stage is cosine, so
    the candidate stage must rank in the same geometry.

    The ADC score is rounded to 6 dp before the rerank cut: the
    candidate set becomes deterministic across engines (rounded ties
    break by id), so an oracle replaying the same codebooks selects
    the same rerank pool — unrounded last-ulp sums could flip rank
    `rerank`. Columns: vec_id, sim.
    """
    import numpy as np

    B = [np.array(b, dtype=np.float64) for b in codebooks]
    m, dsub = len(B), B[0].shape[1]
    q = np.array(query_vec, dtype=np.float64)
    lut = [B[s] @ q[s * dsub:(s + 1) * dsub] for s in range(m)]
    lut_lit = literal([[float(x) for x in row] for row in lut],
                      "array<array<double>>")
    # per-subspace centroid self-dots → reconstructed-norm lookup
    n2 = [(B[s] * B[s]).sum(axis=1) for s in range(m)]
    n2_lit = literal([[float(x) for x in row] for row in n2],
                     "array<array<double>>")

    def lut_sum(table):
        return F.aggregate(
            F.zip_with(F.col("codes"), table,
                       lambda c, row: F.element_at(row, c + 1)),
            F.lit(0.0), lambda acc, x: acc + x)

    recon_norm = F.sqrt(F.greatest(lut_sum(n2_lit), F.lit(1e-12)))
    score = F.round(lut_sum(lut_lit) / recon_norm, 6)
    cand = (codes.select("vec_id", score.alias("adc"))
            .orderBy(F.col("adc").desc(), F.col("vec_id").asc())
            .limit(rerank))
    qlit = literal([float(x) for x in query_vec], "array<double>")
    return (rows.join(F.broadcast(cand.select("vec_id")), "vec_id")
            .select("vec_id",
                    F.round(cosine(vec_col, qlit), 6).alias("sim"))
            .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
            .limit(k))


def knn_pq(vectors: DataFrame, query_vec: list, codebooks: list, *,
           k: int = 10, rerank: int = 64,
           id_col: str = "vec_id",
           vec_col: str = "embedding") -> DataFrame:
    """ANN cosine top-k by PQ asymmetric distance (see _adc_rerank):
    encode every vector (encode_pq, a narrow map), score the codes
    against the query's lookup tables, re-rank the top `rerank` by
    exact cosine.

    At 100 TB the scan side is the 32×-compressed code table; only
    `rerank` rows' full vectors are ever read per query. Recall < 1
    by design (pytest measures vs knn_bruteforce).
    Columns: vec_id, sim.
    """
    codes = encode_pq(vectors, codebooks, id_col=id_col, vec_col=vec_col)
    rows = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col))
    return _adc_rerank(codes, rows, vec_col, query_vec, codebooks,
                       k=k, rerank=rerank)


def build_ivfpq_index(vectors: DataFrame, path: str, *, dim: int,
                      num_cells: int = 16, m: int = 8, ksub: int = 16,
                      train_mod: int | None = 8,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> None:
    """Materialize the combined IVF+PQ index — the FAISS-style
    serving stack: every vector stored under its IVF cell
    (Parquet PARTITIONED BY cell → probes prune partitions) with its
    PQ codes alongside (ADC scans the codes, not the vectors) and
    the full vector retained for exact re-rank of finalists only.
    The model (cell centroids + PQ codebooks) lands as a one-row
    JSON sidecar under the same root, so probes need no state beyond
    the path.

    Build cost: one sampled k-means per model (cells: 3 Lloyd rounds
    on the 1/train_mod hash-sample; m codebooks),
    one assignment + encode pass, one partitioned write."""
    import json as _json

    cents = _ivf_train(vectors, num_cells=num_cells, max_iter=3,
                       train_mod=train_mod, round_c=None, id_col=id_col,
                       vec_col=vec_col)
    books = train_pq(vectors, dim=dim, m=m, ksub=ksub,
                     id_col=id_col, vec_col=vec_col)
    assigned = _ivf_assign(vectors, cents, None, id_col=id_col,
                           vec_col=vec_col)
    codes = encode_pq(vectors, books, id_col=id_col, vec_col=vec_col)
    (assigned.join(codes, "vec_id")
     .select("vec_id", vec_col, "codes", "cell")
     .write.mode("overwrite").partitionBy("cell")
     .parquet(f"{path}/rows"))
    spark = vectors.sparkSession
    model = _json.dumps({"centroids": cents, "codebooks": books})
    (literal_frame(spark, [(model,)], "model string")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/model"))


def probe_ivfpq_index(spark, path: str, query_vec: list, *, k: int = 10,
                      nprobe: int = 4, rerank: int = 64,
                      vec_col: str = "embedding") -> DataFrame:
    """Top-k cosine probe against a persisted IVF+PQ index: the
    query ranks the cell centroids driver-side with knn_ivf's
    `_probe_cells` → a literal `cell IN (...)` partition filter
    (planning-time pruning reads nprobe/num_cells of the files);
    inside the probed cells the stored PQ codes score and re-rank
    exactly as in knn_pq (_adc_rerank). Columns: vec_id, sim."""
    import json as _json

    model = _json.loads(
        spark.read.parquet(f"{path}/model").first()["model"])
    cells = _probe_cells(model["centroids"], query_vec, nprobe)
    rows = spark.read.parquet(f"{path}/rows").filter(
        F.col("cell").isin(cells))
    return _adc_rerank(rows.select("vec_id", "codes"),
                       rows.select("vec_id", vec_col), vec_col, query_vec,
                       model["codebooks"], k=k, rerank=rerank)


def int8_quantize(embs: DataFrame, *, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-dimension int8 quantization of the embedding
    store: scale_d = absmax_d / 127, code = round(x / scale_d)
    clamped to [-127, 127] — the standard serving-side compression
    (4x over float32) used before ANN indexes ship to disk.

    Two distributed passes, both JVM-side: (1) posexplode →
    per-dimension absmax — a d-row aggregate (d is bounded by model
    width, so the result broadcasts for free); (2) broadcast-join
    the scales back to the exploded values and re-assemble codes
    per vector. No collect of vector data; the only driver-sized
    object is the d-row scale table.
    Columns: <id>, n_dims, code_sum, code_abs_sum, recon_mse
    (round 6) — the code aggregates pin the exact quantized values
    while staying hash-comparable, and recon_mse is the end-to-end
    quantization-error audit.
    """
    ex = embs.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("d", "xf")) \
        .withColumn("x", F.col("xf").cast("double")).drop("xf")
    scales = (ex.groupBy("d")
              .agg((F.max(F.abs(F.col("x"))) / F.lit(127.0))
                   .alias("scale")))
    code = F.when(F.col("scale") > 0,
                  F.greatest(F.lit(-127), F.least(F.lit(127),
                             F.round(F.col("x") / F.col("scale"), 0)
                             .cast("long")))) \
            .otherwise(F.lit(0))
    coded = (ex.join(F.broadcast(scales), "d")
             .withColumn("code", code)
             .withColumn("err",
                         (F.col("x") - F.col("code") * F.col("scale"))
                         * (F.col("x") - F.col("code") * F.col("scale"))))
    return (coded.groupBy(id_col)
            .agg(F.count("*").alias("n_dims"),
                 F.sum("code").alias("code_sum"),
                 F.sum(F.abs(F.col("code"))).alias("code_abs_sum"),
                 F.round(F.avg("err"), 6).alias("recon_mse")))


def mmr_rerank(vectors: DataFrame, query: DataFrame, *,
               k_candidates: int = 20, k_select: int = 5,
               lam: float = 0.7, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity pass between ANN retrieval and RAG
    context assembly: greedily pick k_select of the top
    k_candidates, each step maximizing
    lam*rel(c) − (1−lam)*max_{s∈selected} sim(c, s).

    Stage split mirrors production retrieval: the RELEVANCE cut is
    the distributed part (knn_bruteforce: broadcast 1-row query,
    TakeOrdered k_candidates — the only stage that sees the
    corpus); everything after operates on the BOUNDED candidate
    set, so the k_candidates² pairwise-similarity matrix and the
    k_select greedy steps are constant-size plan fragments
    (broadcast joins over ≤ k_candidates-row relations), unrolled
    exactly like the PageRank/BFS fixed-iteration operators — no
    collect, no Python loop over data.

    Determinism contract: selection compares ROUNDED (6 dp) sims
    with ascending-id tie-break, so the greedy path is bit-stable
    across engines and the oracle can replay it CTE-by-CTE.
    Columns: rank (1-based), vec_id, rel, mmr_score.
    """
    from parlerproject_spark.functions.vectors import cosine

    # persist() both bounded leaves: the unrolled greedy below
    # references cand/pairs once per pick and Spark shares no
    # subplans, so without materialization the CORPUS-wide knn cut
    # re-executes for every reference (measured 7 s vs <1 s at
    # sf0.01). The cached relations are ≤ k_candidates and
    # ≤ k_candidates² rows — model-sized, never corpus-sized.
    cand = knn_bruteforce(vectors, query, k=k_candidates,
                          id_col=id_col, vec_col=vec_col) \
        .withColumnRenamed("sim", "rel").persist()
    cvec = (vectors.select(F.col(id_col).alias("vec_id"),
                           F.col(vec_col).alias("v"))
            .join(F.broadcast(cand.select("vec_id")), "vec_id"))
    a = cvec.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = cvec.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    # bounded k_candidates² matrix — the crossJoin never sees the corpus
    pairs = (a.crossJoin(F.broadcast(b))
             .filter(F.col("ia") != F.col("ib"))
             .select("ia", "ib", F.round(cosine("va", "vb"), 6).alias("s"))
             .persist())
    # greedy selection: each step is one collect of ONE row over the
    # persisted candidates; the k_select picks (model-sized) stay on
    # the driver as a literal isin() predicate and the result frame.
    first = (cand.orderBy(F.col("rel").desc(), F.col("vec_id").asc())
             .limit(1).collect()[0])
    picks = [(1, first["vec_id"], float(first["rel"]),
              float(first["rel"]))]
    sel_ids = [first["vec_id"]]
    # ~isin(sel_ids) is NULL for a NULL vec_id: ids here are non-null
    # (they come out of knn_bruteforce's keyed top-k).
    for t in range(2, k_select + 1):
        scored = (cand.filter(~F.col("vec_id").isin(sel_ids))
                  .join(pairs, F.col("vec_id") == F.col("ia"))
                  .filter(F.col("ib").isin(sel_ids))
                  .groupBy("vec_id", "rel")
                  .agg(F.max("s").alias("ms"))
                  .withColumn("mmr_score",
                              F.round(F.lit(lam) * F.col("rel")
                                      - F.lit(1.0 - lam) * F.col("ms"), 6)))
        rows = (scored.orderBy(F.col("mmr_score").desc(),
                               F.col("vec_id").asc())
                .limit(1).collect())
        if not rows:
            break
        r = rows[0]
        picks.append((t, r["vec_id"], float(r["rel"]),
                      float(r["mmr_score"])))
        sel_ids.append(r["vec_id"])
    id_t = vectors.schema[id_col].dataType.simpleString()
    return literal_frame(
        vectors.sparkSession, picks,
        f"rank long, vec_id {id_t}, rel double, mmr_score double")


def margin_pair_mining(src: DataFrame, tgt: DataFrame, *, k: int = 4,
                       margin_threshold: float = 1.0, mutual: bool = True,
                       mode: str = "exact", dim: int | None = None,
                       num_planes: int = 4, num_tables: int = 8,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019,
    the CCMatrix/LASER bitext-mining criterion): score every
    candidate (src, tgt) pair by its cosine RELATIVE to each side's
    neighborhood — margin(a,b) = cos(a,b) / ((fwd_k(a)+bwd_k(b))/2)
    where fwd_k/bwd_k are the mean of the k best cosines from that
    row into the OTHER side — then keep mutual best-margin matches
    above `margin_threshold`. The ratio cancels hubness: a vector
    whose neighborhood is uniformly hot must beat its own
    neighborhood to mine a pair, which raw-cosine thresholds get
    wrong (the reference's embedding store, code/embeddings.py:119,
    is exactly the kind of corpus this pairs across snapshots).

    mode='exact': all-pairs cosine, tgt broadcast — the correctness
    baseline for bounded sides (an eval alignment set, one ingest
    batch vs a reference slice). mode='lsh': pairs form only inside
    shared random-hyperplane buckets (same deterministic plane
    family as knn_lsh) and fwd/bwd means run over the CANDIDATE
    sims — the 100 TB shape: cost follows neighborhood density,
    recall < 1 by design (pytest measures it against exact).

    Determinism contract: sims are HALF_UP-rounded at 6 dp before
    the top-k means (rn tie-break: sim desc, partner id asc), the
    margin is rounded at 6 dp, and best-match selection compares the
    ROUNDED margin with ascending-id tie-breaks — bit-stable across
    engines, CTE-replayable. All windows are partitioned by a side's
    id; every join is keyed. Columns: src_id, tgt_id, sim, margin.
    """
    from pyspark.sql.window import Window

    from parlerproject_spark.operators.dedup import _pair_cosine_scorer
    from parlerproject_spark.operators.layout import spread_input

    a = src.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = tgt.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    id_t = src.schema[id_col].dataType.simpleString()
    if mode == "exact":
        # r13/r14: the tgt side is driver-collected (exact mode's
        # bounded-sides contract, cap-enforced) and ships via
        # sc.broadcast as a matrix, so each tgt vector crosses the
        # Python boundary once per executor instead of once per PAIR:
        # no |src|×|tgt| nested-loop join of 2·dim-wide rows (6.4 GB
        # of Arrow traffic at sf0.1's 2 500×2 500 halves) is planned.
        # Scoring is bit-identical (see _bcast_cosine_scorer); spread
        # FIRST so the per-src-row cross scoring parallelizes beyond
        # the scan's few input splits.
        from parlerproject_spark.operators.dedup import (
            _bcast_cosine_scorer, _bcast_partner_matrix,
            _collect_bounded_partners)
        ids_b, vecs_b = _collect_bounded_partners(b, "id_b", "vb")
        bc = _bcast_partner_matrix(tgt.sparkSession, ids_b, vecs_b)
        sims = spread_input(a).mapInPandas(
            _bcast_cosine_scorer(bc, -2.0, upper=False),
            schema=f"id_a {id_t}, id_b {id_t}, sim double")
    elif mode == "lsh":
        if dim is None:
            raise ValueError("lsh mode requires dim=")
        # 4 source scans by design, not accident (round-13 audit):
        # 2 hyperplane-signature passes + 2 keyed vector fetch-backs.
        # Folding the fetch-backs away by carrying vectors through
        # the signature stream would multiply the bucket-join shuffle
        # by num_tables (each vector rides every table's bucket row)
        # — at 100 TB the two extra column-pruned scans are far
        # cheaper than an 8× shuffle amplification. The per-TABLE
        # count of 4 appears only when src and tgt split one table
        # (the parity fixture); distinct snapshots cost 2 scans each.
        sig_a = _signatures_arrow(a, vec_col="va", key_cols=["id_a"],
                                  dim=dim, num_planes=num_planes,
                                  num_tables=num_tables)
        sig_b = _signatures_arrow(b, vec_col="vb", key_cols=["id_b"],
                                  dim=dim, num_planes=num_planes,
                                  num_tables=num_tables)
        cand = (sig_a.select("id_a", "tbl", "sig")
                .join(sig_b.select("id_b", "tbl", "sig"), ["tbl", "sig"])
                .select("id_a", "id_b").distinct())
        sims = (cand.join(a, "id_a").join(b, "id_b")
                .select("id_a", "va", "id_b", "vb")
                .mapInPandas(_pair_cosine_scorer(-2.0),
                             schema=f"id_a {id_t}, id_b {id_t}, sim double"))
    else:
        raise ValueError(f"unknown mode {mode!r}")
    # sims feeds THREE consumers (fwd means, bwd means, the margin
    # re-join) and Spark shares no subplans — without materialization
    # the |A|×|B| scoring pass runs three times (measured 6.1 s →
    # 2.6 s warm at sf0.1). The persisted unit is the CANDIDATE table: all
    # pairs in exact mode (bounded sides by contract), bucket-collided
    # pairs in lsh mode — never corpus-squared at scale. The session's
    # next `caching.release_all` unpersists it.
    sims = sims.persist()
    wf = Window.partitionBy("id_a").orderBy(F.col("sim").desc(),
                                            F.col("id_b").asc())
    wb = Window.partitionBy("id_b").orderBy(F.col("sim").desc(),
                                            F.col("id_a").asc())
    fwd = (sims.withColumn("__rn", F.row_number().over(wf))
           .filter(F.col("__rn") <= k)
           .groupBy("id_a").agg(F.avg("sim").alias("__fwd")))
    bwd = (sims.withColumn("__rn", F.row_number().over(wb))
           .filter(F.col("__rn") <= k)
           .groupBy("id_b").agg(F.avg("sim").alias("__bwd")))
    scored = (sims.join(fwd, "id_a").join(bwd, "id_b")
              .select("id_a", "id_b", "sim",
                      F.round(F.col("sim")
                              / ((F.col("__fwd") + F.col("__bwd")) / 2),
                              6).alias("margin")))
    ba = Window.partitionBy("id_a").orderBy(F.col("margin").desc(),
                                            F.col("id_b").asc())
    best = (scored.withColumn("__ra", F.row_number().over(ba))
            .filter(F.col("__ra") == 1).drop("__ra"))
    if mutual:
        bb = Window.partitionBy("id_b").orderBy(F.col("margin").desc(),
                                                F.col("id_a").asc())
        rb = (scored.withColumn("__rb", F.row_number().over(bb))
              .filter(F.col("__rb") == 1).select("id_a", "id_b"))
        best = best.join(rb, ["id_a", "id_b"], "left_semi")
    return (best.filter(F.col("margin") >= margin_threshold)
            .select(F.col("id_a").alias("src_id"),
                    F.col("id_b").alias("tgt_id"), "sim", "margin"))


def truncation_recall(vectors: DataFrame, query: DataFrame, *,
                      dims: list[int], k: int = 10,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Matryoshka-style truncation quality curve (Kusupati et al.
    2022): recall@k of cosine top-k computed on only the FIRST d
    dimensions, against the full-width top-k — the measurement that
    decides how far an embedding column can be truncated before the
    ANN index degrades (truncation is the cheapest compression: no
    re-encode, prefix-sliced storage, d/D of the scan bytes).

    Fully declarative and ONE corpus scan: every prefix cosine — each d plus the full
    width, tagged dim = −1 — is computed in a single projection
    (identical slice/fold ops to per-d knn_bruteforce, so values are
    bit-equal), exploded to (dim, sim) rows, and top-k'd per dim
    with a rank-filtered window that Spark executes as
    WindowGroupLimit — a map-side per-partition top-k heap, so the
    dim-keyed exchange carries ≤ k rows per input partition per dim,
    never the corpus. Recall then needs no self-join: over the
    ≤ (|dims|+1)·k ranked rows, a vec_id-partitioned window marks
    ids that also made the full-width list.

    Columns: dim, hits, recall (hits/k, round 6) — one row per d,
    including d = full width as the 1.0 sanity row if passed.
    """
    from parlerproject_spark.functions.vectors import cosine

    sims = F.array(*(
        [F.struct(F.lit(d).cast("long").alias("dim"),
                  F.round(cosine(F.slice(F.col(vec_col), 1, d),
                                 F.slice(F.col("q"), 1, d)), 6)
                  .alias("sim"))
         for d in sorted(dims)]
        + [F.struct(F.lit(-1).cast("long").alias("dim"),
                    F.round(cosine(vec_col, "q"), 6).alias("sim"))]))
    ex = (vectors.crossJoin(F.broadcast(query))
          .select(F.col(id_col).alias("vec_id"),
                  F.explode(sims).alias("s"))
          .select("vec_id", "s.dim", "s.sim"))
    wr = Window.partitionBy("dim").orderBy(F.col("sim").desc(),
                                           F.col("vec_id").asc())
    ranked = (ex.withColumn("__rn", F.row_number().over(wr))
              .filter(F.col("__rn") <= k))
    hit = F.max(F.when(F.col("dim") == -1, 1).otherwise(0)) \
        .over(Window.partitionBy("vec_id"))
    return (ranked.withColumn("__hit", hit)
            .filter(F.col("dim") != -1)
            .groupBy("dim")
            .agg(F.sum("__hit").cast("long").alias("hits"),
                 F.round(F.sum("__hit") / float(k), 6).alias("recall")))


def late_interaction_topk(doc_tokens: DataFrame,
                          query_vecs: list[list[float]], *, k: int = 10,
                          id_col: str = "doc_id",
                          vec_col: str = "vec") -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) top-k retrieval over a
    MULTI-VECTOR document representation: each document is a bag of
    token vectors, and score(q, d) = Σ_i max_j cos(q_i, d_j) — every
    query token finds its best-matching document token, summed. The
    retrieval quality step between single-vector ANN (knn_*) and
    full cross-encoder rerank, and the reason multi-vector indexes
    (ColBERT/PLAID) exist.

    Scale shape: the query's token vectors enter as LITERALS (a
    query is a handful of vectors — broadcast by construction), so
    the per-row work is |q| cosines — a narrow map over the token
    table. MaxSim then needs exactly ONE doc-keyed aggregation
    (max per query token as |q| parallel agg columns, summed in the
    same pass) and a TakeOrdered cut. No join, no shuffle beyond
    the one keyed agg — the same cost class as any per-doc metric
    at 100 TB. Pair this with an ANN candidate filter upstream when
    the corpus shouldn't be fully scanned (the PLAID pattern).

    Per-token cosines round HALF_UP at 6 dp BEFORE max/sum (the
    engine-parity float contract). Columns: <id_col>, score
    (round 6), ordered score desc, id asc, LIMIT k.
    """
    if not query_vecs:
        raise ValueError("late_interaction_topk needs >= 1 query vector")
    sims = [F.round(cosine(vec_col, literal([float(x) for x in q],
                                            "array<double>")), 6)
            .alias(f"__s{j}") for j, q in enumerate(query_vecs)]
    per = doc_tokens.select(F.col(id_col), *sims)
    maxes = [F.max(f"__s{j}").alias(f"__m{j}")
             for j in range(len(query_vecs))]
    agg = per.groupBy(id_col).agg(*maxes)
    total = None
    for j in range(len(query_vecs)):
        c = F.col(f"__m{j}")
        total = c if total is None else total + c
    return (agg.select(id_col, F.round(total, 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(k))


# ---------------------------------------------------------------------------
# Scalar (int8-range) quantization — the uniform per-dimension codec
# ---------------------------------------------------------------------------

def train_scalar_quantizer(vectors: DataFrame, *, dim: int,
                           vec_col: str = "embedding") -> dict:
    """Per-dimension uniform quantizer bounds from ONE pass:
    {mins: [d], maxs: [d]}. posexplode → groupBy(pos) min/max, so the
    plan is dimension-independent: one codegen term, not 2·dim, at
    the reference's 384-d (code/embeddings.py:60). Map-side partial aggregation keeps the
    shuffle at partitions × dim rows; the collected state is dim rows
    of two doubles, model-sized. The codec this parameterizes stores
    each float32 dimension as an 8-bit level (4× memory cut on the
    index), the standard serving-side compression between full floats
    and PQ: unlike PQ there is no codebook training loop and decode
    is a multiply-add, at the cost of a weaker compression ratio."""
    got = {int(r["__i"]): r for r in
           (vectors.select(F.posexplode(vec_col).alias("__i", "__x"))
            .groupBy("__i")
            .agg(F.min(F.col("__x").cast("double")).alias("mn"),
                 F.max(F.col("__x").cast("double")).alias("mx"))
            .collect())}
    if set(got) < set(range(dim)):
        raise ValueError(f"vectors narrower than dim={dim}")
    return {"mins": [float(got[d]["mn"]) for d in range(dim)],
            "maxs": [float(got[d]["mx"]) for d in range(dim)]}


def _sq_code(x, mn, mx):
    """256-level uniform code for one dimension: floor(t·255 + 0.5)
    clamped to [0, 255], where t = (x − mn)/(mx − mn); a degenerate
    dimension (mx == mn) codes to 0 — the CASE guard evaluates
    lazily, so the division-by-zero branch never runs. Every
    arithmetic step is a single IEEE op on identical inputs, so
    Spark and a SQL replay produce bit-identical codes — the
    integer-exact oracle surface. `mn`/`mx` are Columns here (struct
    fields of the folded bounds literal), not Python floats."""
    t = (x.cast("double") - mn) / (mx - mn)
    lvl = F.least(F.lit(255), F.greatest(
        F.lit(0), F.floor(t * 255.0 + 0.5).cast("int")))
    return F.when(mx == mn, F.lit(0)).otherwise(lvl)


def encode_scalar(vectors: DataFrame, params: dict, *,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Quantize every vector to its per-dimension 8-bit levels — a
    pure narrow map (no shuffle): columns <id_col>, codes
    (array<int>, each 0..255).

    The bounds ride along as ONE `caching.literal` array<struct> and
    the codes come from a single `zip_with`: the expression tree is
    dimension-independent, so whole-stage codegen emits the same
    bytecode at 384-d as at 64-d."""
    mins, maxs = params["mins"], params["maxs"]
    bounds = literal([{"mn": float(mn), "mx": float(mx)}
                      for mn, mx in zip(mins, maxs)],
                     "array<struct<mn:double,mx:double>>")
    codes = F.zip_with(F.col(vec_col), bounds,
                       lambda x, b: _sq_code(x, b["mn"], b["mx"]))
    return vectors.select(F.col(id_col), codes.alias("codes"))


def knn_scalar(vectors: DataFrame, query_vec: list, params: dict, *,
               k: int = 10, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Top-k nearest neighbours on SCALAR-QUANTIZED codes: the query
    is quantized with the same per-dimension bounds (symmetric
    distance — both sides share the exact integer code space), and
    the distance is the scale-weighted squared code difference
      dist = Σ_d ((c_x[d] − c_q[d]) · s_d)²,   s_d = (mx_d − mn_d)/255
    i.e. squared Euclidean in the de-quantized space. Integer code
    deltas make the per-element products engine-exact; the only
    float-order freedom is the final sum, rounded at 6 dp.

    Plan: encode is a narrow map over the corpus, the scan carries
    only (id, codes) — at serving scale the 4×-smaller code column
    is the point: the index fits where floats would spill. The only
    shuffle is the k-row TakeOrdered merge. The distance is one
    `zip_with` against the constant (query-code, scale) struct array
    plus a left-fold `aggregate` — dimension-independent codegen
    (same bytecode at 384-d as 64-d), and the fold sums terms
    left-to-right exactly like the unrolled + chain it replaced, so
    results are bit-identical. Columns: <id_col>, dist (round 6),
    ordered dist asc, id asc, LIMIT k.
    """
    mins, maxs = params["mins"], params["maxs"]
    dim = len(mins)
    if len(query_vec) != dim:
        raise ValueError(f"query dim {len(query_vec)} != {dim}")

    def code1(x: float, mn: float, mx: float) -> int:
        if mx == mn:
            return 0
        t = (float(x) - mn) / (mx - mn)
        import math
        return min(255, max(0, int(math.floor(t * 255.0 + 0.5))))

    qc = [code1(query_vec[d], mins[d], maxs[d]) for d in range(dim)]
    scales = [(maxs[d] - mins[d]) / 255.0 for d in range(dim)]
    enc = encode_scalar(vectors, params, id_col=id_col, vec_col=vec_col)
    qz = literal([{"q": int(qc[d]), "s": float(scales[d])}
                  for d in range(dim)], "array<struct<q:int,s:double>>")

    def sq_term(c, z):
        v = (c - z["q"]).cast("double") * z["s"]
        # v*v, not pow(v, 2): Math.pow is not guaranteed correctly
        # rounded, a plain multiply is — the oracle multiplies too
        return v * v

    dist = F.aggregate(F.zip_with(F.col("codes"), qz, sq_term),
                       F.lit(0.0), lambda acc, t: acc + t)
    return (enc.select(F.col(id_col).alias("vec_id"),
                       F.round(dist, 6).alias("dist"))
            .orderBy(F.col("dist").asc(), F.col("vec_id").asc())
            .limit(k))
