"""Density-based clustering over embedding columns (SURVEY M3).

The reference's topic core is UMAP + HDBSCAN (code/bertopicTest.py:
53-61): a DENSITY clusterer whose defining outputs are (a) clusters
of any shape grown from dense neighborhoods and (b) an explicit
noise label -1 for points in no dense region. `topics.kmeans_topics`
covers the centroid-partition analogue; this module supplies the
density analogue so the M3 surface has both halves: classic DBSCAN
re-expressed as relational algebra.

Decomposition (every step ids-only after pair generation):

1. ε-neighbor pairs — `dedup.embedding_near_dups`: cosine
   sim ≥ sim_threshold (⇔ cosine distance ≤ 1 - sim_threshold).
   mode='exact' is the all-pairs oracle path; mode='lsh' buckets by
   random hyperplanes first so cost follows neighborhood density,
   not n² — the 100 TB path.
2. core points — degree count over the symmetrized edge list:
   |N_ε(p)| ≥ min_pts (the point itself counts, as in the original
   DBSCAN paper's definition).
3. clusters — connected components over core–core edges
   (`dedup.duplicate_clusters`: min-label propagation + pointer
   jumping, O(log diameter) iterations). Cluster id = min member id
   — deterministic, engine-independent.
4. border points — non-core points with ≥1 core ε-neighbor join the
   MINIMUM such core's cluster (classic DBSCAN leaves the choice
   order-dependent; taking the min makes it deterministic).
5. noise — everything else gets cluster -1.

What is NOT reproduced: HDBSCAN's hierarchy/stability selection
(variable-density clusters). DBSCAN with a fixed ε is the honest
distributed analogue — single-linkage over an ε-threshold graph —
and is itself a standard corpus-curation clusterer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parlerproject_spark.operators.dedup import (duplicate_clusters,
                                                 embedding_near_dups)


def dbscan(vectors: DataFrame, *, sim_threshold: float, min_pts: int,
           id_col: str = "vec_id", vec_col: str = "embedding",
           mode: str = "exact", dim: int | None = None,
           num_planes: int = 6, num_tables: int = 8,
           max_iter: int = 8) -> DataFrame:
    """DBSCAN over a vector column; cosine distance ε = 1 - sim_threshold.

    Returns one row per input vector: (id_col, cluster, is_core)
    with cluster = -1 for noise. min_pts must be ≥ 2 (min_pts=1
    would make every isolated point its own cluster, which the
    edge-list formulation cannot see — and is never what a dedup or
    topic pipeline wants).

    Scale shape: pair generation is the only stage that touches
    vectors (exact = bounded inputs only; lsh = bucketed). The edge
    list is localCheckpoint()ed once — three consumers (degree
    count, core-core join, border join) would otherwise each re-run
    the pair cascade, the same re-computation trap the r4 verdict
    flagged on the posting-list self-joins. Everything downstream
    shuffles (id, id) pairs only.
    """
    if min_pts < 2:
        raise ValueError(f"min_pts must be >= 2, got {min_pts}")
    caches: list = []
    pairs = embedding_near_dups(vectors, threshold=sim_threshold,
                                id_col=id_col, vec_col=vec_col, mode=mode,
                                num_planes=num_planes, num_tables=num_tables,
                                dim=dim, cache_out=caches)
    edges = (pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
             .union(pairs.select(F.col("id_b").alias("s"),
                                 F.col("id_a").alias("d")))
             .localCheckpoint(eager=True))
    # the eager checkpoint just materialized every pair — the lsh
    # signature cache has served its one purpose; release it now
    # rather than letting caches pile up across calls in a session
    for c in caches:
        c.unpersist()
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("nn"))
    core = (deg.filter(F.col("nn") + 1 >= min_pts)
            .select(F.col("s").alias("v")))
    core_edges = (edges
                  .join(core.select(F.col("v").alias("s")), "s", "left_semi")
                  .join(core.select(F.col("v").alias("d")), "d", "left_semi"))
    # core_edges is symmetric and duplicate-free by construction
    # (edges = pairs ∪ reversed(pairs) with canonical a<b input,
    # filtered by two semi joins) — tell CC to skip re-symmetrizing
    cc = duplicate_clusters(core_edges, id_a="s", id_b="d",
                            max_iter=max_iter, symmetric=True)
    # duplicate_clusters only sees vertices that appear in an edge;
    # a core whose ε-neighbors are all non-core is a legitimate
    # singleton cluster (its own id), so pad with a left join.
    core_cl = (core.join(cc.withColumnRenamed("doc_id", "v"), "v", "left")
               .select("v", F.coalesce("cluster_id", F.col("v"))
                       .alias("cluster")))
    border = (edges
              .join(core, edges["s"] == core["v"], "left_anti")
              .join(core_cl.select(F.col("v").alias("d"),
                                   F.col("cluster").alias("core_cluster")),
                    "d")
              .groupBy("s")
              .agg(F.min("core_cluster").alias("cluster")))
    labelled = (core_cl.select("v", "cluster",
                               F.lit(True).alias("is_core"))
                .unionByName(border.select(F.col("s").alias("v"), "cluster",
                                           F.lit(False).alias("is_core"))))
    return (vectors.select(F.col(id_col))
            .join(labelled, F.col(id_col) == F.col("v"), "left")
            .select(id_col,
                    F.coalesce("cluster", F.lit(-1)).cast("long")
                    .alias("cluster"),
                    F.coalesce("is_core", F.lit(False)).alias("is_core")))


def sampled_density_assign(vectors: DataFrame, *, sample_mod: int = 4,
                           sim_threshold: float = 0.3, min_pts: int = 3,
                           assign_threshold: float = 0.15,
                           exemplars_per_cluster: int = 4,
                           mode: str = "exact", dim: int | None = None,
                           num_planes: int = 6, num_tables: int = 8,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Sampled-fit / full-assign density topics — the distributed
    HDBSCAN-analogue BERTopic actually needs (reference
    code/bertopicTest.py:53-61 fits HDBSCAN on everything because it
    is single-node; at corpus scale nobody density-clusters 100 TB of
    vectors directly):

    1. FIT on a deterministic hash sample (stable_hash31(id) %
       sample_mod == 0 — SQL-reproducible, no RNG): `dbscan` grows
       arbitrary-shape clusters with an explicit noise set. Sample
       size is corpus/sample_mod — choose sample_mod so the fit side
       is cluster-sized, exactly like HDBSCAN-on-a-sample +
       approximate_predict in production BERTopic deployments.
    2. EXEMPLARS: per fitted cluster, the `exemplars_per_cluster`
       lowest-id CORE members (HDBSCAN's exemplars_ analogue;
       lowest-id = deterministic). Their vectors collect to the
       driver — a model-sized collect (clusters × E × dim floats),
       the same bounded-collect contract as the k-means topic seeds.
    3. FULL ASSIGN: every corpus vector goes to the cluster of its
       best-cosine exemplar via `topics._assign` — one broadcast
       matmul map, zero shuffle — or to -1 (noise/outlier) when the
       best cosine falls below `assign_threshold`. Multi-exemplar
       max-cosine is the single-linkage-flavored assignment that
       keeps non-spherical fitted shapes, where a per-cluster
       centroid would re-impose sphericity.

    Scale shape: dbscan cost is bounded by the SAMPLE (and its lsh
    mode bounds pair generation by bucket density); the full corpus
    is touched exactly once, by a narrow Arrow map against a
    driver-bounded exemplar matrix. Columns: <id_col>, topic
    (cluster id = min sample member id, or -1).
    """
    from parlerproject_spark.functions.text import stable_hash31
    from parlerproject_spark.operators.topics import _assign

    sample = vectors.filter(
        stable_hash31(F.col(id_col).cast("string")) % sample_mod == 0)
    fitted = dbscan(sample, sim_threshold=sim_threshold, min_pts=min_pts,
                    mode=mode, dim=dim, num_planes=num_planes,
                    num_tables=num_tables, id_col=id_col, vec_col=vec_col)
    ex_ids = (fitted.filter(F.col("is_core"))
              .groupBy("cluster")
              .agg(F.slice(F.sort_array(F.collect_list(F.col(id_col))),
                           1, exemplars_per_cluster).alias("__ids"))
              .select("cluster", F.explode("__ids").alias(id_col)))
    ex_rows = (ex_ids.join(vectors.select(id_col, vec_col), id_col)
               .orderBy("cluster", id_col)
               .select("cluster", vec_col)
               .collect())                    # model-sized: clusters × E
    if not ex_rows:
        # no dense region in the sample: the whole corpus is noise
        return vectors.select(F.col(id_col),
                              F.lit(-1).cast("long").alias("topic"))
    exemplar_vecs = [list(r[vec_col]) for r in ex_rows]
    labels = [int(r["cluster"]) for r in ex_rows]
    assigned = _assign(vectors, exemplar_vecs, id_col=id_col,
                       vec_col=vec_col, outlier_threshold=assign_threshold)
    lab = F.lit(labels)
    return assigned.select(
        F.col(id_col),
        F.when(F.col("topic") >= 0,
               F.element_at(lab, F.col("topic") + 1))
         .otherwise(F.lit(-1)).cast("long").alias("topic"))
