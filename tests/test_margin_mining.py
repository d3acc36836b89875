"""Margin-based parallel-pair mining (operators/similarity.py
margin_pair_mining): numpy spec parity, hubness cancellation, and
lsh-mode recall against exact."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from parlerproject_spark.operators.similarity import margin_pair_mining


def _reference_mine(src, tgt, *, k, threshold, mutual):
    """Single-node re-derivation of the deterministic spec: sims
    HALF_UP-rounded at 6 dp before the top-k means (ties on partner
    id), margin rounded at 6 dp, best-match on the rounded margin."""
    def r6(x):
        return float(np.floor(x * 1e6 + 0.5) / 1e6) if x >= 0 \
            else float(np.ceil(x * 1e6 - 0.5) / 1e6)

    sims = {}
    for ia, va in src:
        for ib, vb in tgt:
            va_, vb_ = np.asarray(va), np.asarray(vb)
            sims[(ia, ib)] = r6(float(
                va_ @ vb_ / (np.linalg.norm(va_) * np.linalg.norm(vb_))))
    fwd = {ia: np.mean(sorted((sims[(ia, ib)] for ib, _ in tgt),
                              reverse=True)[:k])
           for ia, _ in src}
    bwd = {ib: np.mean(sorted((sims[(ia, ib)] for ia, _ in src),
                              reverse=True)[:k])
           for ib, _ in tgt}
    marg = {p: r6(sims[p] / ((fwd[p[0]] + bwd[p[1]]) / 2)) for p in sims}
    best_a = {ia: min(((-marg[(ia, ib)], ib) for ib, _ in tgt))[1]
              for ia, _ in src}
    best_b = {ib: min(((-marg[(ia, ib)], ia) for ia, _ in src))[1]
              for ib, _ in tgt}
    out = []
    for ia, _ in src:
        ib = best_a[ia]
        if mutual and best_b[ib] != ia:
            continue
        if marg[(ia, ib)] >= threshold:
            out.append((ia, ib, sims[(ia, ib)], marg[(ia, ib)]))
    return sorted(out)


def _sides(seed=7, n=24, dim=16):
    rng = np.random.default_rng(seed)
    src = [(2 * i, rng.normal(size=dim).tolist()) for i in range(n)]
    tgt = [(2 * i + 1, rng.normal(size=dim).tolist()) for i in range(n)]
    return src, tgt


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<double>")


def test_exact_matches_numpy_spec(spark):
    src, tgt = _sides()
    got = [(r.src_id, r.tgt_id, r.sim, r.margin)
           for r in margin_pair_mining(
               _df(spark, src), _df(spark, tgt), k=3,
               margin_threshold=1.0, mutual=True)
           .orderBy("src_id").collect()]
    want = _reference_mine(src, tgt, k=3, threshold=1.0, mutual=True)
    assert [(a, b) for a, b, *_ in got] == [(a, b) for a, b, *_ in want]
    for g, w in zip(got, want):
        assert abs(g[2] - w[2]) < 1e-9 and abs(g[3] - w[3]) < 1e-9


def test_margin_cancels_hubness(spark):
    """A hub target that is the raw-cosine argmax of EVERY source
    must not be mined by every source: its own hot neighborhood
    inflates bwd_k, so the margin drops below genuinely aligned
    pairs. Raw cosine picks the hub for both sources; margin mining
    recovers the planted 1:1 alignment."""
    base = np.eye(8)
    src = [(0, base[0].tolist()), (2, base[1].tolist())]
    hub = (0.65 * base[0] + 0.65 * base[1] + 0.2 * base[2])
    tgt = [(1, (0.9 * base[0] + 0.1 * base[3]).tolist()),
           (3, (0.9 * base[1] + 0.1 * base[4]).tolist()),
           (5, hub.tolist()), (7, base[5].tolist()),
           (9, base[6].tolist())]
    got = {(r.src_id, r.tgt_id)
           for r in margin_pair_mining(
               _df(spark, src), _df(spark, tgt), k=2,
               margin_threshold=1.0, mutual=True).collect()}
    assert got == {(0, 1), (2, 3)}


def test_lsh_recall_against_exact(spark):
    src, tgt = _sides(seed=3, n=40, dim=16)
    exact = {(r.src_id, r.tgt_id)
             for r in margin_pair_mining(
                 _df(spark, src), _df(spark, tgt), k=4,
                 margin_threshold=1.0, mutual=True).collect()}
    lsh = {(r.src_id, r.tgt_id)
           for r in margin_pair_mining(
               _df(spark, src), _df(spark, tgt), k=4,
               margin_threshold=1.0, mutual=True, mode="lsh",
               dim=16, num_planes=2, num_tables=8).collect()}
    assert exact, "exact mode mined nothing — fixture degenerate"
    recall = len(lsh & exact) / len(exact)
    # 8 tables x 2 planes: candidate buckets cover most true pairs;
    # margin re-ranks only candidates, so recall < 1 by design
    assert recall >= 0.5, (recall, len(exact), len(lsh))


def test_non_mutual_keeps_every_source(spark):
    src, tgt = _sides(seed=5, n=12, dim=8)
    out = margin_pair_mining(_df(spark, src), _df(spark, tgt), k=3,
                             margin_threshold=-10.0, mutual=False)
    rows = out.collect()
    assert len(rows) == len(src)
    assert len({r.src_id for r in rows}) == len(src)

