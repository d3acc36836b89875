"""Bradley-Terry preference fit + k-anonymity audit (round 7)."""

from __future__ import annotations

import pytest

from parlerproject_spark.operators.preference import (bradley_terry,
                                                      pairwise_matchups)
from parlerproject_spark.operators.privacy import k_anonymity_audit


def _ref_bt(comps, iters=3, smoothing=0.5, round_c=6):
    """Single-node reference MM fit with the operator's exact
    smoothing / normalization / rounding contract."""
    from collections import defaultdict
    wins = defaultdict(float)
    for w, l in comps:
        wins[(w, l)] += 1.0
    pairs = set()
    for (w, l) in wins:
        pairs.add((w, l)); pairs.add((l, w))
    m = {}
    for (i, j) in pairs:
        w = wins.get((i, j), 0.0) + smoothing
        n = wins.get((i, j), 0.0) + wins.get((j, i), 0.0) + 2 * smoothing
        m[(i, j)] = (w, n)
    items = sorted({i for i, _ in m})
    W = {i: sum(w for (a, _), (w, _) in m.items() if a == i) for i in items}
    p = {i: 1.0 for i in items}
    for _ in range(iters):
        raw = {}
        for i in items:
            den = sum(n / (p[i] + p[j])
                      for (a, j), (_, n) in m.items() if a == i)
            raw[i] = W[i] / den
        z = len(items) / sum(raw.values())
        p = {i: round(raw[i] * z, round_c) for i in items}
    return p


def test_bradley_terry_matches_reference(spark):
    comps = [("a", "b")] * 6 + [("b", "a")] * 2 + [("a", "c")] * 3 \
        + [("c", "b")] * 4 + [("b", "c")]
    df = spark.createDataFrame(comps, ["winner", "loser"])
    got = {r["item"]: (r["strength"], r["n_wins"], r["n_games"])
           for r in bradley_terry(df).collect()}
    ref = _ref_bt(comps)
    assert set(got) == set(ref)
    for i, pref in ref.items():
        assert got[i][0] == pytest.approx(pref, abs=2e-6), (i, got[i], pref)
    assert got["a"][1] == 9 and got["a"][2] == 11     # observed counts
    # a dominates b dominates... strengths must order a > c, a > b
    assert got["a"][0] > got["b"][0]


def test_bradley_terry_all_losing_item_positive(spark):
    """Laplace smoothing keeps a never-winning item's strength
    strictly positive (a hard zero would poison the next update's
    p_i + p_j denominator)."""
    df = spark.createDataFrame([("a", "z")] * 5 + [("b", "z")] * 5,
                               ["winner", "loser"])
    got = {r["item"]: r["strength"] for r in bradley_terry(df).collect()}
    assert got["z"] > 0
    assert got["a"] > got["z"] and got["b"] > got["z"]


def test_bradley_terry_caps_its_driver_state(spark, monkeypatch):
    """The strengths live on the driver, one per item: past the
    model-state cap the fit raises instead of collecting them."""
    from parlerproject_spark import caching
    monkeypatch.setattr(caching, "MODEL_STATE_ROWS", 2)
    df = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")],
                               ["winner", "loser"])
    with pytest.raises(ValueError, match="bradley_terry"):
        bradley_terry(df)


def test_pairwise_matchups_symmetry(spark):
    df = spark.createDataFrame([("a", "b"), ("a", "b"), ("b", "a")],
                               ["winner", "loser"])
    rows = {(r["i"], r["j"]): (r["w"], r["n"])
            for r in pairwise_matchups(df).collect()}
    assert rows[("a", "b")] == (2.5, 4.0)
    assert rows[("b", "a")] == (1.5, 4.0)


def test_k_anonymity_hand_case(spark):
    # classes: (x,1)x5 rows/3 users, (x,2)x2 rows/1 user, (y,1)x7/7
    rows = ([("x", 1, u) for u in (1, 1, 2, 2, 3)]
            + [("x", 2, 9), ("x", 2, 9)]
            + [("y", 1, u) for u in range(7)])
    df = spark.createDataFrame(rows, ["q1", "q2", "uid"])
    r = k_anonymity_audit(df, ["q1", "q2"], k=5,
                          sensitive_col="uid").collect()[0]
    assert r["n_rows"] == 14 and r["n_classes"] == 3
    assert r["min_class_size"] == 2
    assert r["rows_below_k"] == 2          # only the (x,2) class
    assert r["pct_below_k"] == pytest.approx(2 / 14, abs=1e-6)
    assert r["min_l_diversity"] == 1       # (x,2) has one user
    assert r["classes_below_l"] == 2       # (x,1): 3 users, (x,2): 1


def test_k_anonymity_without_sensitive(spark):
    df = spark.createDataFrame([("x", 1)] * 6, ["q1", "uid"])
    r = k_anonymity_audit(df, ["q1"], k=5).collect()[0]
    assert r["rows_below_k"] == 0 and r["pct_below_k"] == 0.0
    assert "min_l_diversity" not in r.asDict()


def test_leakage_safe_split_no_pair_straddles(spark, sf_dir):
    """THE invariant: no near-dup pair may land in two different
    splits (the contamination mode a doc-hash split invites)."""
    from parlerproject_spark.catalog import load_table
    from parlerproject_spark.operators import dedup
    from parlerproject_spark.operators.sampling import leakage_safe_split
    from pyspark.sql import functions as F
    docs = load_table(spark, "documents", sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=128)
    sp = leakage_safe_split(docs, pairs)
    straddle = (pairs
                .join(sp.select(F.col("doc_id").alias("id_a"),
                                F.col("split").alias("sa")), "id_a")
                .join(sp.select(F.col("doc_id").alias("id_b"),
                                F.col("split").alias("sb")), "id_b")
                .filter(F.col("sa") != F.col("sb")))
    assert straddle.count() == 0
    # and the split is total: every doc got exactly one row
    assert sp.count() == docs.count()


def test_dp_group_counts_noise_contract(spark):
    """Noise is Laplace-scaled (~1/eps), deterministic for a fixed
    seed, different under seed rotation, and never exposes the true
    count column."""
    from parlerproject_spark.operators.privacy import dp_group_counts
    rows = [(f"k{i % 20}",) for i in range(400)]
    df = spark.createDataFrame(rows, ["key"])
    a = dp_group_counts(df, ["key"], epsilon=1.0, seed="s1")
    b = dp_group_counts(df, ["key"], epsilon=1.0, seed="s1")
    c = dp_group_counts(df, ["key"], epsilon=1.0, seed="s2")
    assert set(a.columns) == {"key", "dp_count"}
    ra = {r["key"]: r["dp_count"] for r in a.collect()}
    assert ra == {r["key"]: r["dp_count"] for r in b.collect()}
    rc = {r["key"]: r["dp_count"] for r in c.collect()}
    assert ra != rc                       # seed rotation moves noise
    noise = [abs(v - 20.0) for v in ra.values()]
    # Laplace(b=1): mean |noise| = 1; with 20 draws allow wide slack,
    # but it must be non-zero and far under the eps=0.1 scale
    assert 0 < sum(noise) / len(noise) < 4
    tight = dp_group_counts(df, ["key"], epsilon=10.0, seed="s1")
    rt = {r["key"]: r["dp_count"] for r in tight.collect()}
    loose_err = sum(abs(v - 20.0) for v in ra.values())
    tight_err = sum(abs(v - 20.0) for v in rt.values())
    assert tight_err < loose_err          # higher eps -> less noise


def test_token_js_divergence_bounds(spark):
    """Identical distribution -> 0; disjoint vocabularies -> ln 2;
    everything in [0, ln 2]."""
    import math
    from parlerproject_spark.operators.text_analysis import (
        token_js_divergence)
    same = spark.createDataFrame(
        [(1, "a", "x y z"), (2, "b", "x y z")],
        ["doc_id", "source", "text"])
    r = {x["source"]: x["js_divergence"]
         for x in token_js_divergence(same).collect()}
    # each source's distribution equals the corpus distribution
    assert r["a"] == 0.0 and r["b"] == 0.0
    disj = spark.createDataFrame(
        [(1, "a", "x x x"), (2, "b", "y y y")],
        ["doc_id", "source", "text"])
    d = {x["source"]: x["js_divergence"]
         for x in token_js_divergence(disj).collect()}
    # each source covers half the corpus mass: JS(source, corpus)
    # = 0.5*ln2 + small; strictly inside (0, ln2]
    for v in d.values():
        assert 0 < v <= round(math.log(2), 6)
    assert d["a"] == d["b"]


def test_embedding_drift_fixed_points(spark):
    """Identical snapshots -> zero shift, cosine 1, ratio 1; a
    uniformly scaled copy keeps cosine 1 but moves the norm ratio
    (the scale-change detector cosine alone misses)."""
    from parlerproject_spark.operators.profiling import embedding_drift
    rows = [(i, [float(i + j) for j in range(4)]) for i in range(1, 6)]
    a = spark.createDataFrame(rows, ["vec_id", "embedding"])
    r = embedding_drift(a, a).collect()[0]
    assert r["mean_l2_shift"] == 0.0 and r["mean_cosine"] == 1.0
    assert r["norm_ratio"] == 1.0 and r["n_old"] == r["n_new"] == 5
    b = spark.createDataFrame(
        [(i, [2.0 * x for x in v]) for i, v in rows],
        ["vec_id", "embedding"])
    s = embedding_drift(a, b).collect()[0]
    assert s["mean_cosine"] == 1.0
    assert s["norm_ratio"] == 2.0
    assert s["mean_l2_shift"] > 0


class TestTCloseness:
    def test_identical_distribution_scores_zero(self, spark):
        from parlerproject_spark.operators.privacy import t_closeness_audit
        # both classes mirror the global 50/50 split -> tvd 0, no breach
        rows = [("c1", s) for s in ("a", "b") * 4] \
            + [("c2", s) for s in ("a", "b") * 2]
        df = spark.createDataFrame(rows, "q string, s string")
        out = {r.q: r for r in t_closeness_audit(df, ["q"], "s").collect()}
        assert out["c1"].tvd == 0.0 and not out["c1"].breach
        assert out["c2"].tvd == 0.0 and out["c2"].n == 4

    def test_concentrated_class_breaches(self, spark):
        from parlerproject_spark.operators.privacy import t_closeness_audit
        # global: a=5/8, b=3/8. c2 is all-b (absent 'a' folds in as p_a)
        rows = ([("c1", "a")] * 5 + [("c1", "b")]) + [("c2", "b")] * 2
        df = spark.createDataFrame(rows, "q string, s string")
        out = {r.q: r for r in
               t_closeness_audit(df, ["q"], "s", t=0.2).collect()}
        # c2: tvd = 0.5*(|1 - 3/8| + (1 - 3/8)) = 5/8
        assert out["c2"].tvd == 0.625 and out["c2"].breach
        # c1: q_a=5/6 vs p_a=5/8, q_b=1/6 vs p_b=3/8 -> tvd = 5/24
        assert abs(out["c1"].tvd - round(5 / 24, 6)) < 1e-9


class TestPreferencePairs:
    def test_best_vs_worst_with_margin(self, spark):
        from parlerproject_spark.operators.preference import preference_pairs
        rows = [
            # group 1: clear spread -> pair (id 10 vs id 12), margin 4
            (1, 10, 5.0), (1, 11, 3.0), (1, 12, 1.0),
            # group 2: margin 0.5 < 1.0 -> filtered out
            (2, 20, 2.0), (2, 21, 1.5),
            # group 3: singleton -> dropped (chosen == rejected)
            (3, 30, 9.0),
            # group 4: score tie on top -> lowest id wins chosen seat
            (4, 41, 7.0), (4, 40, 7.0), (4, 42, 2.0),
        ]
        df = spark.createDataFrame(
            rows, "prompt_id bigint, item_id bigint, score double")
        out = {r["prompt_id"]: r
               for r in preference_pairs(df, margin=1.0).collect()}
        assert set(out) == {1, 4}
        assert (out[1]["chosen_id"], out[1]["rejected_id"]) == (10, 12)
        assert out[1]["margin"] == 4.0
        assert (out[4]["chosen_id"], out[4]["rejected_id"]) == (40, 42)
        assert out[4]["chosen_score"] == 7.0

    def test_all_ties_group_dropped(self, spark):
        from parlerproject_spark.operators.preference import preference_pairs
        df = spark.createDataFrame(
            [(1, 10, 2.0), (1, 11, 2.0)],
            "prompt_id bigint, item_id bigint, score double")
        # chosen = 10 (tie -> low id), rejected = 10 (tie -> low id):
        # chosen == rejected -> dropped; no degenerate self-pair
        assert preference_pairs(df).count() == 0
