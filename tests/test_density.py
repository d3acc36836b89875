"""DBSCAN density clustering (operators/density.py, SURVEY M3)."""

from __future__ import annotations

import numpy as np
import pytest

from parlerproject_spark.operators.density import dbscan
from parlerproject_spark.catalog import load_table


def _reference_dbscan(vecs: dict[int, np.ndarray], thr: float,
                      min_pts: int) -> dict[int, tuple[int, bool]]:
    """Independent single-node DBSCAN with the module's deterministic
    tie-breaks (cluster = min member id, border joins min core's
    cluster). Union-find, no Spark."""
    ids = sorted(vecs)
    sim = {}
    for i in ids:
        for j in ids:
            if i < j:
                a, b = vecs[i], vecs[j]
                s = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
                if s >= thr:
                    sim.setdefault(i, set()).add(j)
                    sim.setdefault(j, set()).add(i)
    core = {i for i in ids if 1 + len(sim.get(i, ())) >= min_pts}
    parent = {i: i for i in core}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in core:
        for j in sim.get(i, ()):
            if j in core:
                a, b = find(i), find(j)
                if a != b:
                    parent[max(a, b)] = min(a, b)
    cluster = {i: find(i) for i in core}
    out = {}
    for i in ids:
        if i in core:
            out[i] = (cluster[i], True)
        else:
            cands = [cluster[j] for j in sim.get(i, ()) if j in core]
            out[i] = (min(cands), False) if cands else (-1, False)
    return out


def _blob_fixture(spark):
    """Two tight 4-d blobs + scattered noise, deterministic."""
    rng = np.random.default_rng(7)
    rows = []
    for i in range(8):                      # blob A around e0
        v = np.array([1.0, 0, 0, 0]) + rng.normal(0, 0.05, 4)
        rows.append((i, [float(x) for x in v]))
    for i in range(8, 15):                  # blob B around e1
        v = np.array([0, 1.0, 0, 0]) + rng.normal(0, 0.05, 4)
        rows.append((i, [float(x) for x in v]))
    for i in range(15, 22):                 # noise: random directions
        v = rng.normal(0, 1, 4)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    return df, {i: np.array(v) for i, v in rows}


def test_dbscan_matches_reference_bruteforce(spark):
    df, vecs = _blob_fixture(spark)
    got = {r["vec_id"]: (r["cluster"], r["is_core"])
           for r in dbscan(df, sim_threshold=0.9, min_pts=4).collect()}
    want = _reference_dbscan(vecs, 0.9, 4)
    assert got == want
    # the fixture is built to exercise all three roles
    clusters = {c for c, _ in got.values() if c != -1}
    assert len(clusters) == 2
    assert any(c == -1 for c, _ in got.values())
    assert any(core for _, core in got.values())


def test_dbscan_min_pts_validation(spark):
    df, _ = _blob_fixture(spark)
    with pytest.raises(ValueError):
        dbscan(df, sim_threshold=0.9, min_pts=1)


def test_dbscan_lsh_noise_superset_of_exact(spark, sf_dir):
    """LSH candidate pairs ⊆ exact pairs ⟹ degrees only drop ⟹
    cores_lsh ⊆ cores_exact and labelled_lsh ⊆ labelled_exact, so
    the LSH mode's noise set must contain the exact mode's."""
    emb = load_table(spark, "embeddings", sf_dir)
    exact = {r["vec_id"]: r["cluster"]
             for r in dbscan(emb, sim_threshold=0.3, min_pts=5,
                             mode="exact").collect()}
    lsh = {r["vec_id"]: r["cluster"]
           for r in dbscan(emb, sim_threshold=0.3, min_pts=5,
                           mode="lsh", dim=64).collect()}
    assert set(lsh) == set(exact)
    noise_exact = {v for v, c in exact.items() if c == -1}
    noise_lsh = {v for v, c in lsh.items() if c == -1}
    assert noise_exact <= noise_lsh
    # and the buckets still recover most of the structure
    assert len(noise_lsh) < len(exact)


def test_dbscan_cluster_id_is_min_member_core(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    rows = dbscan(emb, sim_threshold=0.3, min_pts=5, mode="exact").collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        if r["cluster"] != -1:
            by_cluster.setdefault(r["cluster"], []).append(r)
    assert by_cluster, "expected at least one cluster on sf0.001"
    for cid, members in by_cluster.items():
        cores = [m for m in members if m["is_core"]]
        assert cores, f"cluster {cid} has no core member"
        assert cid == min(m["vec_id"] for m in cores)


# Sampled-fit / full-assign density topics ---------------------------------

def test_density_assign_exemplar_self_assignment(spark, sf_dir):
    """Every exemplar (a core member chosen from the fitted sample)
    assigns to its OWN fitted cluster: cos(v, v/|v|) = 1 is the max
    possible, and ties on duplicate vectors break to the lowest
    exemplar index, which sorts by (cluster, id)."""
    from parlerproject_spark.operators.density import (
        dbscan, sampled_density_assign)
    from parlerproject_spark.functions.text import stable_hash31
    import pyspark.sql.functions as F
    emb = load_table(spark, "embeddings", sf_dir)
    out = sampled_density_assign(emb, sample_mod=4, sim_threshold=0.3,
                                 min_pts=3, assign_threshold=0.15,
                                 exemplars_per_cluster=4, mode="exact")
    sample = emb.filter(
        stable_hash31(F.col("vec_id").cast("string")) % 4 == 0)
    fitted = dbscan(sample, sim_threshold=0.3, min_pts=3, mode="exact")
    cores = {r["vec_id"]: r["cluster"]
             for r in fitted.filter("is_core").collect()}
    got = {r["vec_id"]: r["topic"] for r in out.collect()}
    # exemplars = up to 4 lowest-id cores per cluster
    by_cluster: dict[int, list[int]] = {}
    for vid, cl in sorted(cores.items()):
        by_cluster.setdefault(cl, []).append(vid)
    exemplars = {vid: cl for cl, vids in by_cluster.items()
                 for vid in sorted(vids)[:4]}
    assert exemplars, "fixture must produce at least one cluster"
    # a duplicate of an exemplar vector in a DIFFERENT cluster could
    # legitimately steal the tie; the synthetic embeddings have no
    # cross-cluster duplicates, so self-assignment must hold exactly
    for vid, cl in exemplars.items():
        assert got[vid] == cl, (vid, got[vid], cl)


def test_density_assign_empty_fit_is_all_noise(spark):
    """A sample with no dense region (min_pts unreachable) labels the
    whole corpus -1 instead of crashing on an empty exemplar set."""
    from parlerproject_spark.operators.density import (
        sampled_density_assign)
    df, _ = _blob_fixture(spark)
    out = sampled_density_assign(df, sample_mod=1, sim_threshold=0.999999,
                                 min_pts=22, assign_threshold=0.5,
                                 exemplars_per_cluster=4, mode="exact")
    rows = out.collect()
    assert len(rows) == 22 and all(r["topic"] == -1 for r in rows)


def test_fit_topics_density_method(spark, sf_dir):
    """fit_topics(method='density') produces the same (doc_topics,
    topic_info, topic_words) triple shape as the kmeans path, with
    the density assignment driving all three."""
    from parlerproject_spark.operators.topics import fit_topics
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    dt, info, words = fit_topics(
        docs, emb.withColumnRenamed("vec_id", "doc_id"),
        vec_id_col="doc_id", method="density",
        density_kwargs=dict(sample_mod=4, sim_threshold=0.3, min_pts=3,
                            assign_threshold=0.15, id_col="doc_id"))
    assert set(dt.columns) == {"doc_id", "topic"}
    assert {"topic", "Count", "share_pct"} <= set(info.columns)
    assert dt.count() > 0 and info.count() > 0 and words.count() > 0
