"""Behavioral tests for the round-4b engine additions: BM25 ranked
retrieval, PMI collocations, DSIR importance weights, perplexity
bucketing, the in-engine NB quality classifier, and co-interaction
PageRank. Each also has a hash-checked DuckDB oracle in queries.py;
these tests pin the *semantics* (monotonicity, invariants, known
tiny fixtures) rather than re-deriving the numbers.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from parlerproject_spark.operators.graph import cointeraction_edges, pagerank
from parlerproject_spark.operators.retrieval import (bm25_scores,
                                                     pmi_collocations)
from parlerproject_spark.operators.selection import (dsir_weights,
                                                     nb_quality_classifier,
                                                     perplexity_buckets)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# BM25 ---------------------------------------------------------------------

def test_bm25_rewards_tf_and_rare_terms(spark):
    d = _docs(spark, [
        (1, "apple apple apple banana"),
        (2, "apple banana banana banana"),
        (3, "cherry cherry cherry cherry"),
        (4, "apple cherry banana date"),
    ])
    out = {r["doc_id"]: r for r in
           bm25_scores(d, ["apple"], top_k=10).collect()}
    # doc 3 has no 'apple' at all -> absent from results
    assert set(out) == {1, 2, 4}
    # higher tf of the query term at comparable length ranks higher
    assert out[1]["score"] > out[2]["score"] > 0
    assert out[1]["rank"] == 1


def test_bm25_multi_term_sums_and_len_normalizes(spark):
    d = _docs(spark, [
        (1, "x y"),                       # short doc, both terms
        (2, "x y " + "pad " * 30),        # same terms, long doc
    ])
    out = {r["doc_id"]: r["score"] for r in
           bm25_scores(d, ["x", "y"], top_k=10).collect()}
    # b>0 length normalization: the padded doc scores strictly lower
    assert out[1] > out[2] > 0


# PMI ----------------------------------------------------------------------

def test_pmi_finds_the_glued_pair(spark):
    # "san francisco" always adjacent; "the" is everywhere
    rows = [(i, "the san francisco fog the weather") for i in range(10)]
    d = _docs(spark, rows)
    out = pmi_collocations(d, min_count=5, top_k=5).collect()
    top = (out[0]["w1"], out[0]["w2"])
    assert top in {("san", "francisco"), ("francisco", "fog")}
    # a pair involving 'the' (independent filler) must rank below
    pmis = {(r["w1"], r["w2"]): r["pmi"] for r in out}
    for (w1, w2), v in pmis.items():
        if w1 == "the" or w2 == "the":
            assert v < pmis[top]


def test_pmi_min_count_cuts_rare_pairs(spark):
    d = _docs(spark, [(1, "rare pair"), (2, "common common common common")])
    out = pmi_collocations(d, min_count=2, top_k=10).collect()
    assert ("rare", "pair") not in {(r["w1"], r["w2"]) for r in out}


# DSIR ---------------------------------------------------------------------

def test_dsir_upweights_target_lookalikes(spark):
    target = _docs(spark, [(100 + i, "clean prose about science topics")
                           for i in range(5)])
    raw = _docs(spark, [
        (1, "clean prose about science topics"),   # = target
        (2, "spam spam buy now spam buy spam"),    # nothing like it
    ])
    out = {r["doc_id"]: r["log_weight"] for r in
           dsir_weights(raw, target).collect()}
    assert out[1] > out[2]


def test_dsir_weight_is_finite_for_unseen_features(spark):
    # raw doc whose bigrams never occur in target: smoothing floor,
    # never -inf/NaN
    target = _docs(spark, [(10, "alpha beta gamma")])
    raw = _docs(spark, [(1, "zeta eta theta iota")])
    [r] = dsir_weights(raw, target).collect()
    assert math.isfinite(r["log_weight"]) and r["log_weight"] < 0


# Perplexity buckets -------------------------------------------------------

def test_perplexity_buckets_band_semantics(spark, sf_dir):
    from parlerproject_spark.catalog import load_table
    docs = load_table(spark, "documents", sf_dir)
    out = perplexity_buckets(docs).collect()
    assert {r["band"] for r in out} == {"head", "middle", "tail"}
    by_band = {}
    for r in out:
        by_band.setdefault(r["band"], []).append(r["lm_logp"])
    # every head score >= every middle score >= every tail score
    assert min(by_band["head"]) >= max(by_band["middle"])
    assert min(by_band["middle"]) >= max(by_band["tail"])
    # tercile cut: roughly equal thirds
    n = len(out)
    for band in ("head", "middle", "tail"):
        assert abs(len(by_band[band]) - n / 3) <= n * 0.15


def test_perplexity_buckets_plan_has_no_global_window(spark, sf_dir):
    from parlerproject_spark.catalog import load_table
    docs = load_table(spark, "documents", sf_dir)
    plan = (perplexity_buckets(docs)
            ._jdf.queryExecution().optimizedPlan().toString())
    assert "windowspecdefinition" not in plan.lower()


# NB quality classifier ----------------------------------------------------

def test_nb_classifier_separates_planted_classes(spark):
    good = [(i, "well formed natural sentence with many words", 1)
            for i in range(10)]
    bad = [(100 + i, "zz zz buy zz now zz zz click", 0) for i in range(10)]
    d = spark.createDataFrame(good + bad,
                              "doc_id long, text string, label int")
    out = {r["doc_id"]: r for r in nb_quality_classifier(d).collect()}
    for i in range(10):
        assert out[i]["pred"] == 1, out[i]
        assert out[100 + i]["pred"] == 0, out[100 + i]
        assert out[i]["log_odds"] > out[100 + i]["log_odds"]


def test_nb_classifier_handles_cross_class_vocab(spark):
    # shared vocabulary: still finite scores, no NaN from smoothing
    d = spark.createDataFrame(
        [(1, "a b c", 1), (2, "a b d", 0), (3, "a b", 1), (4, "b a", 0)],
        "doc_id long, text string, label int")
    for r in nb_quality_classifier(d).collect():
        assert math.isfinite(r["log_odds"])


# Graph --------------------------------------------------------------------

def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_cointeraction_edges_orders_and_dedupes(spark):
    ev = spark.createDataFrame(
        [(1, 100, 7, '{"k": 1}'), (2, 200, 8, '{"k": 1}'),
         (3, 300, 7, '{"k": 1}'),  # 8 -> 7 later on same object
         (4, 150, 9, '{"k": 2}'), (5, 250, 9, '{"k": 2}')],  # self loop
        "event_id long, ts long, user_id long, props string")
    got = {(r["src"], r["dst"])
           for r in cointeraction_edges(ev).collect()}
    assert got == {(7, 8), (8, 7)}  # self-loop dropped, both directions


def test_cointeraction_edges_drops_null_and_malformed_props(spark):
    # events with a missing key are NOT one shared NULL object (no
    # spurious edges), and a non-numeric value must not throw under
    # ANSI cast (r4 ADVICE): both rows vanish before the window
    ev = spark.createDataFrame(
        [(1, 100, 7, '{"k": 1}'), (2, 200, 8, '{"k": 1}'),
         (3, 150, 3, '{"x": 9}'),          # key absent -> dropped
         (4, 250, 4, '{"k": "oops"}'),     # non-numeric -> dropped
         (5, 300, 5, None)],               # null props -> dropped
        "event_id long, ts long, user_id long, props string")
    got = {(r["src"], r["dst"])
           for r in cointeraction_edges(ev).collect()}
    assert got == {(7, 8)}


def test_cointeraction_edges_block_split_is_exact_under_hot_key(spark):
    # one viral object with 10x the events of everything else,
    # spanning many day-blocks: the blocked (default) edge set must
    # equal the single-window (block=None) edge set exactly
    rows = [(i, i * 40_000, i % 13, '{"k": 99}') for i in range(500)]
    rows += [(1000 + i, 120_000 * i + 7, 50 + (i % 5), '{"k": %d}' % (i % 7))
             for i in range(50)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, props string")
    blocked = {(r["src"], r["dst"])
               for r in cointeraction_edges(ev).collect()}
    single = {(r["src"], r["dst"])
              for r in cointeraction_edges(ev, block=None).collect()}
    assert blocked == single
    assert len(blocked) > 10


def test_pagerank_convergence_guard_warns_on_chain(spark):
    import warnings

    # pathological long chain: 3 iterations cannot converge
    chain = _edges(spark, [(i, i + 1) for i in range(60)])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        pagerank(chain, iters=3, tol=1e-6)
    assert any(issubclass(x.category, RuntimeWarning)
               and "not converged" in str(x.message) for x in w)
    # a symmetric cycle converges immediately: no warning
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        pagerank(_edges(spark, [(1, 2), (2, 3), (3, 1)]),
                 iters=3, tol=1e-6)
    assert not any(issubclass(x.category, RuntimeWarning) for x in w)


def test_pagerank_sums_to_one_without_dangling(spark):
    # 3-cycle: no dangling nodes -> total rank mass conserved at 1
    pr = pagerank(_edges(spark, [(1, 2), (2, 3), (3, 1)]), iters=5)
    rows = pr.collect()
    assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-4
    # symmetric cycle: equal ranks
    vals = [r["rank"] for r in rows]
    assert max(vals) - min(vals) < 1e-9


def test_pagerank_hub_outranks_leaves(spark):
    # star: everyone points at node 0
    pr = {r["node"]: r["rank"] for r in
          pagerank(_edges(spark, [(i, 0) for i in range(1, 6)]),
                   iters=3).collect()}
    assert pr[0] > max(pr[i] for i in range(1, 6))


def test_pagerank_iteration_count_is_fixed(spark):
    # iters=0 returns the uniform init regardless of structure
    pr = {r["node"]: r["rank"] for r in
          pagerank(_edges(spark, [(1, 2), (3, 2)]), iters=0).collect()}
    assert all(abs(v - 1 / 3) < 1e-6 for v in pr.values())


# Importance resampling ----------------------------------------------------

def test_importance_resample_is_deterministic_and_weight_biased(spark):
    from parlerproject_spark.operators.selection import importance_resample
    target = _docs(spark, [(1000 + i, "clean prose about science topics")
                           for i in range(5)])
    raw = _docs(spark, [(i, "clean prose about science topics")
                        for i in range(50)]
                + [(100 + i, "spam buy now click spam buy")
                   for i in range(50)])
    a = [r["doc_id"] for r in
         importance_resample(raw, target, n=30).collect()]
    b = [r["doc_id"] for r in
         importance_resample(raw, target, n=30).collect()]
    assert a == b                      # deterministic draw
    target_like = sum(1 for i in a if i < 100)
    assert target_like >= 25           # heavily biased toward the target


def test_importance_resample_seed_changes_draw(spark):
    from parlerproject_spark.operators.selection import importance_resample
    target = _docs(spark, [(900, "alpha beta gamma delta")])
    raw = _docs(spark, [(i, f"alpha beta gamma delta word{i % 7}")
                        for i in range(60)])
    a = {r["doc_id"] for r in
         importance_resample(raw, target, n=10, seed="s1").collect()}
    b = {r["doc_id"] for r in
         importance_resample(raw, target, n=10, seed="s2").collect()}
    assert a != b                      # the noise really participates


# Persisted BM25 index -----------------------------------------------------

def test_text_index_probe_matches_inline_bm25_and_prunes(spark, sf_dir,
                                                         tmp_path):
    from parlerproject_spark.catalog import load_table
    from parlerproject_spark.operators.retrieval import (build_text_index,
                                                         probe_text_index)
    docs = load_table(spark, "documents", sf_dir)
    path = str(tmp_path / "tidx")
    build_text_index(docs, path)
    terms = ["spark", "join", "query"]
    probed = probe_text_index(spark, path, terms, top_k=10)
    inline = bm25_scores(docs, terms, top_k=10)
    got = [(r["doc_id"], r["score"], r["rank"]) for r in probed.collect()]
    want = [(r["doc_id"], r["score"], r["rank"]) for r in inline.collect()]
    assert got == want                       # identical scoring math
    plan = probed._jdf.queryExecution().executedPlan().toString()
    import re
    filters = re.findall(r"PartitionFilters: \[bucket#\d+ IN \(([^)]*)\)\]",
                         plan)
    assert filters, plan  # both postings and df scans carry the filter
    for f in filters:
        assert len(f.split(",")) <= len(terms)  # <= one bucket per term


def test_text_index_probe_unknown_term_is_empty_not_error(spark, tmp_path):
    from parlerproject_spark.operators.retrieval import (build_text_index,
                                                         probe_text_index)
    d = _docs(spark, [(1, "alpha beta gamma")])
    path = str(tmp_path / "tidx2")
    build_text_index(d, path)
    assert probe_text_index(spark, path, ["nonexistent"]).count() == 0


def test_personalized_pagerank_concentrates_on_seed_neighborhood(spark):
    from parlerproject_spark.operators.graph import personalized_pagerank
    # two disconnected 3-cycles; seed only in the first
    edges = _edges(spark, [(1, 2), (2, 3), (3, 1),
                           (10, 11), (11, 12), (12, 10)])
    seeds = spark.createDataFrame([(1,)], "node long")
    pr = {r["node"]: r["rank"] for r in
          personalized_pagerank(edges, seeds, iters=6).collect()}
    # all rank mass stays in the seeded component
    assert sum(pr[n] for n in (1, 2, 3)) > 0.99
    assert all(pr[n] == 0.0 for n in (10, 11, 12))
    # the seed itself holds the most rank
    assert pr[1] == max(pr.values())


def test_triangle_counts_on_known_graph(spark):
    from parlerproject_spark.operators.graph import triangle_counts
    # K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant 5-1
    edges = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4),
                           (3, 4), (5, 1)])
    got = {r["node"]: r for r in triangle_counts(edges).collect()}
    for n in (1, 2, 3, 4):
        assert got[n]["triangles"] == 3
    assert got[5]["triangles"] == 0 and got[5]["clustering"] == 0.0
    assert got[2]["clustering"] == pytest.approx(1.0)      # deg 3, 3 tris
    assert got[1]["degree"] == 4                            # K4 + pendant
    assert got[1]["clustering"] == pytest.approx(0.5)       # 3/(4*3/2)


def test_triangle_counts_direction_and_duplicates_ignored(spark):
    from parlerproject_spark.operators.graph import triangle_counts
    # same triangle expressed with mixed directions + duplicate edges
    edges = _edges(spark, [(1, 2), (2, 1), (3, 2), (1, 3), (1, 3)])
    got = {r["node"]: r["triangles"]
           for r in triangle_counts(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_label_propagation_two_cliques(spark):
    from parlerproject_spark.operators.graph import label_propagation
    # two triangles bridged by a single edge 3-10: LPA should keep
    # two communities, each labeled by its minimum node id
    edges = _edges(spark, [(1, 2), (2, 3), (3, 1),
                           (10, 11), (11, 12), (12, 10),
                           (3, 10)])
    got = {r["node"]: r["label"]
           for r in label_propagation(edges, iters=4).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[11] == got[12]
    assert got[11] != got[1]


def test_label_propagation_deterministic_tiebreak(spark):
    from parlerproject_spark.operators.graph import label_propagation
    # star: center 5 with leaves 1..4. Round 1: every leaf sees only
    # label 5; the center sees {1,2,3,4} each once -> tie -> min = 1.
    edges = _edges(spark, [(5, 1), (5, 2), (5, 3), (5, 4)])
    got = {r["node"]: r["label"]
           for r in label_propagation(edges, iters=1).collect()}
    assert got[5] == 1
    assert all(got[leaf] == 5 for leaf in (1, 2, 3, 4))


def test_hybrid_rerank_coverage_boosts_full_match(spark):
    """A doc containing every query term must outrank a doc that
    spams a single term, even if the spammer's BM25 is higher."""
    from parlerproject_spark.operators.retrieval import hybrid_rerank
    docs = spark.createDataFrame(
        [(1, "alpha " * 30 + "filler words here"),          # 1 term, high tf
         (2, "alpha beta gamma mixed with other words"),    # all 3 terms
         (3, "no relevant terms at all")],
        "doc_id bigint, text string")
    rows = hybrid_rerank(docs, ["alpha", "beta", "gamma"],
                         k_candidates=10, top_k=5).collect()
    assert rows[0]["doc_id"] == 2
    assert rows[0]["coverage"] == 1.0
    assert {r["doc_id"] for r in rows} == {1, 2}   # doc 3 never retrieved
    assert [r["rank"] for r in rows] == [1, 2]


class TestWeakLabelSummary:
    def _run(self, spark, rows, truth=True):
        from parlerproject_spark.operators.selection import (
            weak_label_summary)
        df = spark.createDataFrame(rows, "a int, b int, c int, y int")
        return {r.lf: r for r in weak_label_summary(
            df, ["a", "b", "c"],
            truth_col="y" if truth else None).collect()}

    def test_hand_vote_matrix(self, spark):
        # rows: (a, b, c, y)
        rows = [(1, 1, 0, 1),    # a,b agree; maj=+1
                (1, -1, 0, 0),   # a vs b conflict; maj=0
                (0, 0, -1, 0),   # only c votes; maj=-1
                (0, 0, 0, 1)]    # nobody votes
        out = self._run(spark, rows)
        a = out["a"]
        assert a.n_votes == 2 and a.coverage == 0.5
        assert a.overlap == 0.5          # both a-votes have company
        assert a.conflict == 0.25        # one row conflicts
        assert a.majority_agreement == 0.5   # maj +1 then 0
        assert a.accuracy == 0.5         # y=1 (right), y=0 (wrong)
        c = out["c"]
        assert c.n_votes == 1 and c.overlap == 0.0
        assert c.majority_agreement == 1.0 and c.accuracy == 1.0

    def test_abstain_only_lf_is_null_not_crash(self, spark):
        rows = [(1, 0, 0, 1), (-1, 0, 0, 0)]
        out = self._run(spark, rows)
        b = out["b"]
        assert b.n_votes == 0 and b.coverage == 0.0
        assert b.majority_agreement is None and b.accuracy is None

    def test_truthless_mode_nulls_accuracy(self, spark):
        rows = [(1, 1, -1, 1)]
        out = self._run(spark, rows, truth=False)
        assert all(v.accuracy is None for v in out.values())


class TestKCore:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, "src long, dst long")

    def test_peeling_cascade(self, spark):
        from parlerproject_spark.operators.graph import k_core
        # triangle {1,2,3} plus a tail 3-4-5: tail vertices have
        # degree <= 2 but 4 only drops AFTER 5 does (cascade)
        pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
        out = {r.vertex: r.degree
               for r in k_core(self._edges(spark, pairs), k=2).collect()}
        assert out == {1: 2, 2: 2, 3: 2}

    def test_empty_core_and_direction_insensitive(self, spark):
        from parlerproject_spark.operators.graph import k_core
        # a path graph has no 2-core; reversed duplicate edges must
        # not inflate degrees
        pairs = [(1, 2), (2, 1), (2, 3)]
        out = k_core(self._edges(spark, pairs), k=2).collect()
        assert out == []

    def test_max_iter_raise(self, spark):
        import pytest
        from parlerproject_spark.operators.graph import k_core
        # a long path peels one end per round: max_iter=1 cannot reach
        # the fixed point
        pairs = [(i, i + 1) for i in range(6)]
        with pytest.raises(RuntimeError, match="no fixed point"):
            k_core(self._edges(spark, pairs), k=2, max_iter=1)


class TestGraphStats:
    def test_triangle_with_tail(self, spark):
        from parlerproject_spark.operators.graph import graph_stats
        # triangle {1,2,3} + tail 3-4: T=1; wedges = 1+1+3+0 = 5
        df = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)],
                                   "src long, dst long")
        r = graph_stats(df).collect()[0]
        assert (r.n_nodes, r.n_edges) == (4, 4)
        assert r.transitivity == 0.6          # 3*1/5

    def test_star_graph_is_disassortative(self, spark):
        from parlerproject_spark.operators.graph import graph_stats
        # hub 0 to 4 leaves: every edge pairs degree 4 with degree 1
        df = spark.createDataFrame([(0, i) for i in range(1, 5)],
                                   "src long, dst long")
        r = graph_stats(df).collect()[0]
        assert r.transitivity == 0.0
        assert r.assortativity == -1.0


class TestRRFFuse:
    def test_fusion_hand_case(self, spark):
        from parlerproject_spark.operators.retrieval import rrf_fuse
        rows = [("bm25", 1, 1), ("bm25", 2, 2), ("bm25", 3, 3),
                ("dense", 2, 1), ("dense", 1, 2), ("dense", 4, 3)]
        df = spark.createDataFrame(rows, "system string, doc_id long, rank long")
        out = {r["doc_id"]: r for r in rrf_fuse(df, k=60).collect()}
        # docs 1 and 2 appear in both systems with ranks {1,2} -> tie
        assert out[1]["n_systems"] == 2 and out[2]["n_systems"] == 2
        assert out[1]["rrf_score"] == out[2]["rrf_score"]
        assert out[1]["rank"] == 1 and out[2]["rank"] == 2   # id tie-break
        # single-system docs score strictly lower
        assert out[3]["rrf_score"] < out[1]["rrf_score"]
        assert out[3]["n_systems"] == 1
        exp = round(1 / 61 + 1 / 62, 6)
        assert out[1]["rrf_score"] == exp

    def test_top_k_cut(self, spark):
        from parlerproject_spark.operators.retrieval import rrf_fuse
        rows = [("a", i, i) for i in range(1, 11)]
        df = spark.createDataFrame(rows, "system string, doc_id long, rank long")
        got = rrf_fuse(df, k=60, top_k=4).collect()
        assert [r["doc_id"] for r in sorted(got, key=lambda r: r["rank"])] \
            == [1, 2, 3, 4]


class TestDoremiWeights:
    def test_excess_domain_gains_weight(self, spark):
        from parlerproject_spark.operators.sampling import doremi_weights
        df = spark.createDataFrame(
            [("a", 2.0, 1.0),     # excess 1.0
             ("b", 1.0, 1.0),     # excess 0
             ("c", 0.5, 1.0)],    # excess 0 (clamped)
            "domain string, loss double, ref_loss double")
        out = {r["domain"]: r for r in doremi_weights(df).collect()}
        assert out["a"]["excess"] == 1.0
        assert out["b"]["excess"] == 0.0 and out["c"]["excess"] == 0.0
        assert out["a"]["weight"] > out["b"]["weight"]
        assert out["b"]["weight"] == out["c"]["weight"]   # same excess
        total = sum(r["weight"] for r in out.values())
        assert abs(total - 1.0) < 1e-4                    # still a distribution

    def test_zero_excess_stays_uniform(self, spark):
        from parlerproject_spark.operators.sampling import doremi_weights
        df = spark.createDataFrame(
            [("a", 1.0, 2.0), ("b", 1.5, 2.0)],
            "domain string, loss double, ref_loss double")
        out = {r["domain"]: r["weight"] for r in doremi_weights(df).collect()}
        assert out["a"] == out["b"] == 0.5


# --------------------------------------------------------------------------
# Hashing-trick embeddings + the composed RAG pipeline (round 11)
# --------------------------------------------------------------------------

def test_hashed_embedding_counts_and_determinism(spark):
    import hashlib

    from parlerproject_spark.operators.retrieval import (
        hashed_embedding, hashed_query_vector)

    df = spark.createDataFrame(
        [(1, "Spark joins data. Spark queries data."),
         (2, ""), (3, "zzz"), (4, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r["embedding"]
           for r in hashed_embedding(df, dim=8).collect()}
    assert all(len(v) == 8 for v in got.values())
    # doc 1: 6 tokens total (spark x2, data x2, joins, queries)
    assert sum(got[1]) == 6.0
    assert sum(got[2]) == 0.0  # empty text -> zero vector, row kept
    assert got[4] == [0.0] * 8  # NULL text -> zero vector, never NULL
    # bucket positions follow the md5 stable hash exactly
    def bucket(t):
        return (int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                % 2147483647) % 8
    assert got[3][bucket("zzz")] == 1.0
    # driver-side twin produces the same vector as the Spark side
    assert hashed_query_vector(
        "Spark joins data. Spark queries data.", dim=8) == list(got[1])


def test_rag_pipeline_end_to_end_contract(spark, sf_dir):
    import __spark_entry__ as m
    rows = m.queries()["rag_pipeline_docs"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    # rrf scores are non-increasing down the ranking
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(1 <= r["n_systems"] <= 2 for r in rows)
    # the citation integrity gate: every retrieved chunk's sentences
    # are verbatim substrings of its source document
    assert all(r["fully_supported"] for r in rows), rows
    assert all(r["n_supported"] == r["n_sentences_cited"] for r in rows)
