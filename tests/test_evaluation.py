"""Evaluation & label-QC metrics (operators/evaluation.py,
analytics.kaplan_meier) — every assertion hand-computed."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from parlerproject_spark.operators.analytics import kaplan_meier
from parlerproject_spark.operators.evaluation import (
    calibration_report,
    fleiss_kappa,
    ranking_metrics,
    roc_auc,
)


# ---- ranking_metrics -------------------------------------------------------

def _rm(spark, results, judgments, k=3):
    res = spark.createDataFrame(results,
                                "query_id string, doc_id long, rank long")
    jud = spark.createDataFrame(judgments,
                                "query_id string, doc_id long, rel long")
    return {r["query_id"]: r for r in
            ranking_metrics(res, jud, k=k).collect()}


def test_ranking_metrics_hand_case(spark):
    # q1: ranked [d1(rel2), d2(rel0), d3(rel1)], judged {d1:2, d3:1, d4:1}
    out = _rm(spark,
              [("q1", 1, 1), ("q1", 2, 2), ("q1", 3, 3)],
              [("q1", 1, 2), ("q1", 3, 1), ("q1", 4, 1)])
    r = out["q1"]
    dcg = 3.0 / math.log2(2) + 0.0 + 1.0 / math.log2(4)
    idcg = 3.0 / math.log2(2) + 1.0 / math.log2(3) + 1.0 / math.log2(4)
    assert r["ndcg"] == pytest.approx(round(dcg / idcg, 6))
    assert r["mrr"] == 1.0                     # first hit at rank 1
    assert r["recall"] == pytest.approx(round(2 / 3, 6))
    assert r["n_retrieved"] == 3 and r["n_relevant"] == 3


def test_ranking_metrics_no_relevant_and_late_hit(spark):
    out = _rm(spark,
              [("q1", 1, 1), ("q1", 2, 2),          # nothing relevant
               ("q2", 5, 1), ("q2", 6, 2)],         # hit at rank 2
              [("q1", 9, 0),                        # rel 0 only
               ("q2", 6, 1)])
    assert out["q1"]["ndcg"] == 0.0 and out["q1"]["recall"] == 0.0
    assert out["q1"]["mrr"] == 0.0
    assert out["q2"]["mrr"] == 0.5 and out["q2"]["recall"] == 1.0
    # ideal rank 1 vs actual rank 2 -> dcg=1/log2(3), idcg=1/log2(2)=1
    assert out["q2"]["ndcg"] == pytest.approx(
        round((1 / math.log2(3)) / 1.0, 6))


def test_ranking_metrics_respects_k_cut(spark):
    # relevant doc at rank 4 is invisible at k=3
    out = _rm(spark,
              [("q", 1, 1), ("q", 2, 2), ("q", 3, 3), ("q", 4, 4)],
              [("q", 4, 1)], k=3)
    r = out["q"]
    assert r["n_retrieved"] == 3 and r["mrr"] == 0.0 and r["recall"] == 0.0


# ---- roc_auc ---------------------------------------------------------------

def _auc(spark, rows):
    df = spark.createDataFrame(rows, "score double, label int")
    return roc_auc(df).collect()[0]


def test_roc_auc_perfect_and_inverted(spark):
    rows = [(float(s), int(s > 2)) for s in range(1, 5)]
    assert _auc(spark, rows)["auc"] == 1.0
    inv = [(-s, y) for s, y in rows]
    assert _auc(spark, inv)["auc"] == 0.0


def test_roc_auc_ties_hand_case(spark):
    # scores: pos at {3, 2}, neg at {2, 1} -> pairs: (3>2)=1, (3>1)=1,
    # (2=2)=0.5, (2>1)=1 -> auc = 3.5/4
    r = _auc(spark, [(3.0, 1), (2.0, 1), (2.0, 0), (1.0, 0)])
    assert r["auc"] == pytest.approx(0.875)
    assert r["n_pos"] == 2 and r["n_neg"] == 2


def test_roc_auc_single_class_is_null(spark):
    assert _auc(spark, [(1.0, 1), (2.0, 1)])["auc"] is None


# ---- calibration_report ----------------------------------------------------

def test_calibration_bins_and_brier(spark):
    rows = [(0.05, 0), (0.05, 0), (0.95, 1), (0.95, 0), (1.0, 1)]
    df = spark.createDataFrame(rows, "prob double, label int")
    out = {r["bin"]: r for r in calibration_report(df).collect()}
    assert set(out) == {0, 9}                  # prob 1.0 clamps into bin 9
    assert out[0]["n"] == 2 and out[0]["frac_pos"] == 0.0
    assert out[9]["n"] == 3
    assert out[9]["mean_prob"] == pytest.approx(round((0.95 + 0.95 + 1) / 3, 6))
    assert out[9]["frac_pos"] == pytest.approx(round(2 / 3, 6))
    brier = (0.05**2 + 0.05**2 + 0.05**2 + 0.95**2 + 0.0) / 5
    assert out[0]["brier"] == pytest.approx(round(brier, 6))


# ---- fleiss_kappa ----------------------------------------------------------

def _kappa(spark, rows, m):
    df = spark.createDataFrame(rows, "item_id long, rater string, label string")
    return fleiss_kappa(df, n_raters=m, item_col="item_id").collect()[0]


def test_fleiss_kappa_perfect_agreement(spark):
    rows = [(i, r, "a" if i % 2 else "b")
            for i in range(4) for r in ("r1", "r2", "r3")]
    r = _kappa(spark, rows, 3)
    assert r["kappa"] == 1.0 and r["n_items"] == 4


def test_fleiss_kappa_hand_case_and_partial_items_dropped(spark):
    # 2 items x 2 raters: item1 agrees on 'a', item2 splits a/b.
    # P_1 = (4-2)/2 = 1, P_2 = (1+1-2)/2 = 0, Pbar = 0.5
    # p_a = 3/4, p_b = 1/4, Pe = 9/16+1/16 = 0.625
    # kappa = (0.5-0.625)/(1-0.625) = -1/3
    rows = [(1, "r1", "a"), (1, "r2", "a"),
            (2, "r1", "a"), (2, "r2", "b"),
            (3, "r1", "a")]                     # only 1 rating -> dropped
    r = _kappa(spark, rows, 2)
    assert r["n_items"] == 2
    assert r["p_bar"] == 0.5 and r["p_e"] == 0.625
    assert r["kappa"] == pytest.approx(round(-1 / 3, 6))


# ---- kaplan_meier ----------------------------------------------------------

def _km(spark, rows, **kw):
    from datetime import datetime
    rows = [(u, datetime.strptime(ts, "%Y-%m-%d %H:%M:%S"), e)
            for u, ts, e in rows]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_type string")
    return {r["t_days"]: r for r in kaplan_meier(df, **kw).collect()}


def test_kaplan_meier_textbook_curve(spark):
    # lifetimes: u1 dies t=1, u2 dies t=2, u3 censored t=2, u4 dies t=3
    # S(1) = 1 - 1/4 = 0.75
    # S(2) = 0.75 * (1 - 1/3) = 0.5
    # S(3) = 0.5 * (1 - 1/1) = 0   (zero-factor carry)
    def u(uid, days, last_type):
        return [(uid, f"2024-01-01 00:00:00", "view"),
                (uid, f"2024-01-0{1 + days} 12:00:00", last_type)]
    rows = (u(1, 1, "error") + u(2, 2, "error")
            + u(3, 2, "view") + u(4, 3, "error"))
    out = _km(spark, rows, death_filter="event_type = 'error'")
    assert set(out) == {1, 2, 3}
    assert out[1]["n_risk"] == 4 and out[1]["survival"] == 0.75
    assert out[2]["n_risk"] == 3 and out[2]["n_events"] == 1
    assert out[2]["survival"] == 0.5
    assert out[3]["n_risk"] == 1 and out[3]["survival"] == 0.0


def test_kaplan_meier_last_event_tie_takes_death(spark):
    # two events at the identical max ts: the death flag wins the tie
    rows = [(1, "2024-01-01 00:00:00", "view"),
            (1, "2024-01-02 00:00:00", "view"),
            (1, "2024-01-02 00:00:00", "error"),
            (2, "2024-01-01 00:00:00", "view"),
            (2, "2024-01-03 00:00:00", "view")]
    out = _km(spark, rows, death_filter="event_type = 'error'")
    assert out[1]["n_events"] == 1 and out[1]["n_risk"] == 2
    assert out[1]["survival"] == 0.5


def test_kaplan_meier_horizon_censoring_mode(spark):
    # corpus ends 2024-01-20; horizon 7 -> cut = 01-13.
    # u1 last 01-05 (observed, t=4), u2 last 01-20 (censored, t=19)
    rows = [(1, "2024-01-01 00:00:00", "view"),
            (1, "2024-01-05 00:00:00", "view"),
            (2, "2024-01-01 00:00:00", "view"),
            (2, "2024-01-20 00:00:00", "view")]
    out = _km(spark, rows, horizon_days=7)
    assert set(out) == {4}
    assert out[4]["n_risk"] == 2 and out[4]["survival"] == 0.5


class TestBleuPairs:
    def _run(self, spark, rows):
        from parlerproject_spark.operators.evaluation import bleu_pairs
        cand = spark.createDataFrame([(i, c) for i, (c, _) in enumerate(rows)],
                                     "pair_id long, text string")
        ref = spark.createDataFrame([(i, r) for i, (_, r) in enumerate(rows)],
                                    "pair_id long, text string")
        return {r.pair_id: r for r in bleu_pairs(cand, ref).collect()}

    def test_identity_scores_one(self, spark):
        out = self._run(spark, [("the cat sat on the mat",
                                 "the cat sat on the mat")])
        r = out[0]
        assert (r.p1, r.p2, r.bp, r.bleu) == (1.0, 1.0, 1.0, 1.0)

    def test_disjoint_scores_epsilon(self, spark):
        r = self._run(spark, [("aa bb cc", "xx yy zz")])[0]
        assert r.p1 == 0.0 and r.p2 == 0.0 and r.bleu < 1e-8

    def test_brevity_penalty(self, spark):
        # candidate shorter than reference: bp = exp(1 - r/c)
        import math
        r = self._run(spark, [("the cat", "the cat sat on mat")])[0]
        assert r.n_cand == 2 and r.n_ref == 5
        assert abs(r.bp - round(math.exp(1 - 5 / 2), 6)) < 1e-9
        # clipping: "the the the" vs one "the" in ref -> p1 = 1/3
        r2 = self._run(spark, [("the the the", "the cat")])[0]
        assert abs(r2.p1 - round(1 / 3, 6)) < 1e-6

    def test_sub_bigram_docs_total(self, spark):
        # one-token candidate: no bigrams, p2 -> 0, frame stays total
        out = self._run(spark, [("cat", "cat"), ("", "cat dog")])
        assert out[0].p1 == 1.0 and out[0].p2 == 0.0
        assert out[1].bp == 0.0 and out[1].bleu == 0.0


class TestGroupedRocAuc:
    def test_matches_per_group_roc_auc(self, spark, sf_dir):
        import pyspark.sql.functions as F
        from parlerproject_spark.catalog import load_table
        from parlerproject_spark.operators.evaluation import (grouped_roc_auc,
                                                              roc_auc)
        docs = load_table(spark, "documents", sf_dir).select(
            "source",
            (F.col("n_chars").cast("double") / (F.col("n_chars") + 100.0))
            .alias("score"),
            (F.col("lang") == "en").cast("int").alias("label"))
        got = {r.source: (r.n_pos, r.n_neg, r.auc)
               for r in grouped_roc_auc(docs, ["source"]).collect()}
        for src in list(got)[:3]:
            solo = roc_auc(docs.filter(F.col("source") == src)).collect()[0]
            assert got[src] == (solo.n_pos, solo.n_neg, solo.auc), src

    def test_separated_and_single_class_slices(self, spark):
        from parlerproject_spark.operators.evaluation import grouped_roc_auc
        rows = ([("sep", float(i), 1 if i >= 50 else 0) for i in range(100)]
                + [("mono", float(i), 1) for i in range(40)])
        df = spark.createDataFrame(rows, "g string, score double, label int")
        out = {r.g: r for r in grouped_roc_auc(df, ["g"]).collect()}
        assert out["sep"].auc == 1.0
        assert out["mono"].auc is None and out["mono"].n_neg == 0


class TestOffPolicyValue:
    def _logs(self, spark, rows):
        return spark.createDataFrame(rows, "action string, reward double")

    def test_identity_policy_is_on_policy_mean(self, spark):
        # pi == empirical mu -> every weight is exactly 1: IPS ==
        # SNIPS == plain mean, ESS == n, max_w == 1
        from parlerproject_spark.operators.evaluation import off_policy_value
        rows = [("a", 10.0)] * 3 + [("b", 20.0)] * 1
        out = off_policy_value(self._logs(spark, rows),
                               {"a": 0.75, "b": 0.25}).collect()[0]
        assert (out.n, out.ips, out.snips, out.ess, out.max_w) == \
            (4, 12.5, 12.5, 4.0, 1.0)

    def test_target_shift_reweights(self, spark):
        # pi plays only "b": rows logged as "a" get w=0 and the
        # estimate collapses to b's mean (SNIPS) / b-mass (IPS)
        from parlerproject_spark.operators.evaluation import off_policy_value
        rows = [("a", 10.0), ("a", 10.0), ("b", 40.0), ("b", 20.0)]
        out = off_policy_value(self._logs(spark, rows),
                               {"b": 1.0}).collect()[0]
        # w_b = 1.0 / 0.5 = 2 -> ips = (0+0+80+40)/4 = 30
        assert out.ips == 30.0 and out.snips == 30.0
        assert out.max_w == 2.0

    def test_unlisted_action_gets_zero_prob(self, spark):
        from parlerproject_spark.operators.evaluation import off_policy_value
        rows = [("a", 10.0), ("c", 99.0)]
        out = off_policy_value(self._logs(spark, rows),
                               {"a": 1.0}).collect()[0]
        # c contributes weight 0: ips = (1/0.5*10 + 0)/2 = 10
        assert out.ips == 10.0 and out.n == 2


class TestSelectionRateParity:
    def _run(self, spark, rows):
        from parlerproject_spark.operators.evaluation import (
            selection_rate_parity)
        df = spark.createDataFrame(rows, "g string, selected boolean")
        return {r.g: r for r in
                selection_rate_parity(df, "g").collect()}

    def test_equal_rates_never_flag(self, spark):
        rows = [(g, i % 2 == 0) for g in "ab" for i in range(10)]
        out = self._run(spark, rows)
        for g in "ab":
            assert out[g].impact_ratio == 1.0
            assert out[g].rate_gap == 0.0 and not out[g].below_four_fifths

    def test_four_fifths_breach(self, spark):
        # a keeps 80%, b keeps 30% -> ratio 0.375 < 0.8
        rows = ([("a", True)] * 8 + [("a", False)] * 2
                + [("b", True)] * 3 + [("b", False)] * 7)
        out = self._run(spark, rows)
        assert out["b"].impact_ratio == 0.375 and out["b"].below_four_fifths
        assert not out["a"].below_four_fifths

    def test_zero_selection_group(self, spark):
        rows = [("a", True), ("b", False), ("b", False)]
        out = self._run(spark, rows)
        assert out["b"].rate == 0.0 and out["b"].impact_ratio == 0.0
        assert out["b"].below_four_fifths


class TestConformalCoverage:
    def test_exact_rank_quantile_and_guarantee(self, spark):
        import pyspark.sql.functions as F
        from parlerproject_spark.operators.evaluation import (
            conformal_coverage)
        # calib nonconformities are 0.01..0.99 on even ids; alpha=0.2
        # -> k = ceil(100*0.8) = 80 over n=99 ... use a hand-sized set
        rows = [(i, i / 20.0, 1) for i in range(1, 20)]
        df = spark.createDataFrame(rows, "i long, p double, label int") \
            .select((1.0 - F.col("p")).alias("score"), "label",
                    (F.col("i") % 2 == 0).alias("cal"))
        # label=1 -> s = 1 - score = p: calib s = {.1,.2,...,.9}; n=9,
        # k = ceil(10*0.9) = 9 -> qhat = 0.9; test s = odd twentieths
        out = conformal_coverage(df, alpha=0.1,
                                 split_expr=F.col("cal")).collect()[0]
        assert out.n_calib == 9 and out.qhat == 0.9
        # test side: {.05,.15,...,.95}: 9 of 10 <= 0.9
        assert out.coverage == 0.9 and out.target == 0.9

    def test_tiny_calibration_clamps_k(self, spark):
        import pyspark.sql.functions as F
        from parlerproject_spark.operators.evaluation import (
            conformal_coverage)
        rows = [(1, 0.3, 1), (2, 0.7, 1), (3, 0.5, 0)]
        df = spark.createDataFrame(rows, "i long, p double, label int") \
            .select(F.col("p").alias("score"), "label",
                    (F.col("i") < 3).alias("cal"))
        out = conformal_coverage(df, alpha=0.1,
                                 split_expr=F.col("cal")).collect()[0]
        # k = min(2, ceil(3*0.9)=3) = 2 -> qhat = max calib s = 0.7
        assert out.n_calib == 2 and out.qhat == 0.7
        assert out.n_test == 1 and out.coverage == 1.0


class TestMannWhitneyU:
    def _run(self, spark, ones, zeros):
        from parlerproject_spark.operators.evaluation import mann_whitney_u
        rows = [(float(v), 1) for v in ones] + [(float(v), 0) for v in zeros]
        df = spark.createDataFrame(rows, "value double, arm int")
        return mann_whitney_u(df, group_col="arm").collect()[0]

    def test_hand_case_with_ties(self, spark):
        # arm1 = {1,2}, arm0 = {1,2}: U = 0.5 + 1.5 = 2 = n1n0/2 -> z=0
        r = self._run(spark, [1, 2], [1, 2])
        assert (r.n_1, r.n_0, r.u, r.z) == (2, 2, 2.0, 0.0)

    def test_fully_separated_groups(self, spark):
        # arm1 = {3,4} all above arm0 = {1,2}: U = 4 (max), z > 0
        r = self._run(spark, [3, 4], [1, 2])
        assert r.u == 4.0
        import math
        want = (4 - 2) / math.sqrt(4 / 12 * 5)
        assert abs(r.z - round(want, 6)) < 1e-9

    def test_all_tied_is_null_z(self, spark):
        # every value identical: sigma^2 = 0 -> z null
        r = self._run(spark, [5, 5], [5, 5])
        assert r.z is None and r.u == 2.0


class TestGainsCurve:
    def test_perfect_ranker_concentrates_top_band(self, spark):
        from parlerproject_spark.operators.evaluation import gains_curve
        # positives all score 0.95+, negatives 0.05: band 1 captures
        # every positive at lift = total/positive-band rows
        rows = [(0.95 + i / 1000.0, 1) for i in range(10)] \
            + [(0.05, 0)] * 30
        df = spark.createDataFrame(rows, "score double, label int")
        out = {r.band: r for r in gains_curve(df).collect()}
        assert out[1].cum_pos_share == 1.0
        assert out[1].lift == 4.0           # 40 rows / 10 top rows
        assert out[10].lift == 1.0          # full table = random

    def test_uniform_scores_lift_one(self, spark):
        from parlerproject_spark.operators.evaluation import gains_curve
        rows = [(b / 10.0 + 0.05, i % 2)
                for b in range(10) for i in range(4)]
        df = spark.createDataFrame(rows, "score double, label int")
        for r in gains_curve(df).collect():
            assert r.lift == 1.0


class TestRequiredSampleSize:
    def test_textbook_n(self, spark):
        import math
        from parlerproject_spark.operators.evaluation import (
            required_sample_size)
        # 100 users, 10 convert -> p = 0.1
        rows = [(u, "purchase" if u < 10 else "view") for u in range(100)]
        df = spark.createDataFrame(rows, "user_id long, event_type string")
        out = {r.mde: r for r in required_sample_size(
            df, mdes=[0.02]).collect()}
        r = out[0.02]
        assert r.base_rate == 0.1
        pbar = 0.11
        want = math.ceil((1.959964 + 0.841621) ** 2 * 2 * pbar
                         * (1 - pbar) / 0.02 ** 2)
        assert r.n_per_arm == want and r.total_users == 2 * want


def test_roc_auc_nan_scores_exact_and_isolated(spark):
    # NaN sorts above every double in Spark: a NaN-scored positive
    # beats every negative. pos {NaN, 2}, neg {1, 3} -> pairs:
    # (NaN>1)=1, (NaN>3)=1, (2>1)=1, (2>3)=0 -> auc 3/4. The NaN row
    # must NOT poison the bucket bounds (max(score) propagates NaN;
    # floor(NaN)=0 used to collapse every row into bucket 0).
    r = _auc(spark, [(float("nan"), 1), (2.0, 1), (1.0, 0), (3.0, 0)])
    assert r["auc"] == pytest.approx(0.75)
    assert r["n_pos"] == 2 and r["n_neg"] == 2


def test_mann_whitney_nan_values_exact(spark):
    from parlerproject_spark.operators.evaluation import mann_whitney_u
    # NaN value in group 1 ranks above everything: U counts it as a
    # win over both group-0 values. group1 {NaN, 2}, group0 {1, 3}
    # -> U = 2 + 1 = 3
    df = spark.createDataFrame(
        [(float("nan"), 1), (2.0, 1), (1.0, 0), (3.0, 0)],
        "value double, arm int")
    r = mann_whitney_u(df, value_col="value", group_col="arm").collect()[0]
    assert r["u"] == pytest.approx(3.0)
    assert r["n_1"] == 2 and r["n_0"] == 2


def test_mann_whitney_u_over_n1n0_equals_roc_auc(spark):
    from parlerproject_spark.operators.evaluation import mann_whitney_u
    # one rank-sum kernel: U / (n_1·n_0) is the AUC with label = arm,
    # here over cross-arm ties (2.0, 5.0) and one NaN value
    rows = [(2.0, 1), (2.0, 0), (5.0, 1), (5.0, 0), (5.0, 0), (1.0, 1),
            (7.0, 0), (float("nan"), 1), (3.5, 0), (3.5, 1), (0.5, 0)]
    df = spark.createDataFrame(rows, "value double, arm int")
    mw = mann_whitney_u(df, value_col="value", group_col="arm").collect()[0]
    auc = roc_auc(df, score_col="value", label_col="arm").collect()[0]
    assert (mw["n_1"], mw["n_0"]) == (auc["n_pos"], auc["n_neg"]) == (5, 6)
    assert round(mw["u"] / (mw["n_1"] * mw["n_0"]), 6) == auc["auc"]


def test_gains_curve_out_of_range_scores_clamp(spark):
    from parlerproject_spark.operators.evaluation import gains_curve
    # a score below 0 must clamp into the LOWEST band (10), not mint
    # band 11+; a score above 1 clamps into band 1
    rows = [(-0.5, 0), (1.5, 1), (0.5, 1)]
    df = spark.createDataFrame(rows, "score double, label int")
    bands = {r.band for r in gains_curve(df).collect()}
    assert bands <= set(range(1, 11))
    assert 10 in bands and 1 in bands


class TestGroundedness:
    def test_support_counts_hand_case(self, spark):
        from parlerproject_spark.operators.evaluation import groundedness
        ans = spark.createDataFrame(
            [(1, "the cat sat zzz"), (2, "dog runs"), (3, "x")],
            "doc_id bigint, answer string")
        src = spark.createDataFrame(
            [(1, "the cat sat on the mat"), (2, "dog walks home"),
             (3, "anything")],
            "doc_id bigint, text string")
        out = {r["doc_id"]: r for r in groundedness(ans, src).collect()}
        # answer 1 bigrams: "the cat", "cat sat", "sat zzz" -> 2/3
        assert out[1]["n_grams"] == 3 and out[1]["n_supported"] == 2
        assert out[1]["support"] == pytest.approx(2 / 3, abs=1e-6)
        # answer 2: "dog runs" unsupported -> 0/1
        assert out[2]["n_supported"] == 0
        # answer 3: single token -> no bigrams -> no row
        assert 3 not in out

    def test_full_support_is_one(self, spark):
        from parlerproject_spark.operators.evaluation import groundedness
        ans = spark.createDataFrame([(1, "a b c")],
                                    "doc_id bigint, answer string")
        src = spark.createDataFrame([(1, "x a b c y")],
                                    "doc_id bigint, text string")
        r = groundedness(ans, src).collect()[0]
        assert r["support"] == 1.0


class TestCitationSupport:
    def _fixture(self, spark):
        ans = spark.createDataFrame([(1, "the cat sat")],
                                    "doc_id bigint, answer string")
        cites = spark.createDataFrame(
            [(1, 10), (1, 20), (1, 99)],      # 99 does not exist
            "doc_id bigint, src_id bigint")
        srcs = spark.createDataFrame(
            [(10, "i saw the cat yesterday"),   # supports "the cat"
             (20, "completely unrelated words"),
             (30, "the cat sat")],              # NOT cited
            "doc_id bigint, text string")
        return ans, cites, srcs

    def test_per_citation_support(self, spark):
        from parlerproject_spark.operators.evaluation import citation_support
        ans, cites, srcs = self._fixture(spark)
        out = {r["src_id"]: r
               for r in citation_support(ans, cites, srcs).collect()}
        # answer bigrams: "the cat", "cat sat" (2 grams)
        assert set(out) == {10, 20, 99}       # missing source keeps its row
        assert out[10]["n_grams"] == 2 and out[10]["n_supported"] == 1
        assert out[10]["support"] == 0.5
        assert out[20]["n_supported"] == 0 and out[99]["n_supported"] == 0

    def test_precision_recall(self, spark):
        from parlerproject_spark.operators.evaluation import (
            citation_precision_recall)
        ans, cites, srcs = self._fixture(spark)
        r = citation_precision_recall(ans, cites, srcs).collect()[0]
        # 1 of 3 citations supports anything; 1 of 2 gram values covered
        assert r["n_cited"] == 3 and r["n_supporting"] == 1
        assert r["n_grams"] == 2 and r["n_covered"] == 1
        assert r["precision"] == pytest.approx(1 / 3, abs=1e-6)
        assert r["recall"] == 0.5

    def test_repeated_gram_reweights_coverage(self, spark):
        from parlerproject_spark.operators.evaluation import (
            citation_precision_recall)
        # "a b" occurs twice in the answer; both occurrences count
        ans = spark.createDataFrame([(1, "a b c a b")],
                                    "doc_id bigint, answer string")
        cites = spark.createDataFrame([(1, 10)],
                                      "doc_id bigint, src_id bigint")
        srcs = spark.createDataFrame([(10, "a b")],
                                     "doc_id bigint, text string")
        r = citation_precision_recall(ans, cites, srcs).collect()[0]
        # grams: "a b", "b c", "c a", "a b" -> 4 total, 2 covered
        assert r["n_grams"] == 4 and r["n_covered"] == 2
        assert r["recall"] == 0.5 and r["precision"] == 1.0

    def test_sub_n_answer_omitted(self, spark):
        from parlerproject_spark.operators.evaluation import citation_support
        ans = spark.createDataFrame([(1, "single")],
                                    "doc_id bigint, answer string")
        cites = spark.createDataFrame([(1, 10)],
                                      "doc_id bigint, src_id bigint")
        srcs = spark.createDataFrame([(10, "single word here")],
                                     "doc_id bigint, text string")
        assert citation_support(ans, cites, srcs).count() == 0


class TestChrfPairs:
    def _run(self, spark, cand, ref, **kw):
        from parlerproject_spark.operators.evaluation import chrf_pairs
        c = spark.createDataFrame([(1, cand)], "pair_id bigint, text string")
        r = spark.createDataFrame([(1, ref)], "pair_id bigint, text string")
        return chrf_pairs(c, r, **kw).collect()[0]

    def test_identity_scores_one(self, spark):
        r = self._run(spark, "hello world", "hello world")
        assert r["chrp"] == 1.0 and r["chrr"] == 1.0 and r["chrf"] == 1.0
        assert r["n_orders"] == 3

    def test_disjoint_scores_zero(self, spark):
        r = self._run(spark, "aaaa", "bbbb")
        assert r["chrp"] == 0.0 and r["chrr"] == 0.0 and r["chrf"] == 0.0

    def test_hand_case_symmetric(self, spark):
        # abc vs abd, n_max=2: P1=R1=2/3, P2=R2=1/2 -> chrP=chrR
        # -> F_beta collapses to P regardless of beta
        r = self._run(spark, "abc", "abd", n_max=2)
        assert r["n_orders"] == 2
        assert r["chrp"] == pytest.approx(0.583333, abs=1e-6)
        assert r["chrr"] == r["chrp"] and r["chrf"] == r["chrp"]

    def test_whitespace_removed(self, spark):
        r = self._run(spark, "a   b\tc", "abc")
        assert r["chrf"] == 1.0

    def test_empty_side_zero_orders(self, spark):
        r = self._run(spark, "   ", "abc")
        assert r["n_orders"] == 0 and r["chrf"] == 0.0

    def test_max_chars_truncates(self, spark):
        # beyond max_chars the tail difference is invisible
        r = self._run(spark, "abcdefXX", "abcdefYY", max_chars=6)
        assert r["chrf"] == 1.0


class TestPassAtK:
    def _frame(self, spark, rows):
        return spark.createDataFrame(rows, "task_id bigint, correct boolean")

    def test_hand_binomial_case(self, spark):
        from parlerproject_spark.operators.evaluation import pass_at_k
        # one task: n=4, c=2 -> pass@2 = 1 - C(2,2)/C(4,2) = 5/6
        df = self._frame(spark, [(1, True), (1, True),
                                 (1, False), (1, False)])
        r = {row["k"]: row for row in
             pass_at_k(df, ks=(1, 2, 3)).collect()}
        assert r[1]["mean_pass_at_k"] == pytest.approx(0.5, abs=1e-6)
        assert r[2]["mean_pass_at_k"] == pytest.approx(5 / 6, abs=1e-6)
        # n - c = 2 < 3 -> certain
        assert r[3]["mean_pass_at_k"] == 1.0

    def test_zero_correct_exact_zero(self, spark):
        from parlerproject_spark.operators.evaluation import pass_at_k
        df = self._frame(spark, [(1, False)] * 5)
        r = pass_at_k(df, ks=(1, 5)).collect()
        assert all(row["mean_pass_at_k"] == 0.0 for row in r)
        assert all(row["n_solved"] == 0 for row in r)

    def test_k1_equals_success_rate(self, spark):
        from parlerproject_spark.operators.evaluation import pass_at_k
        df = self._frame(spark, [(1, i < 3) for i in range(10)])
        r = pass_at_k(df, ks=(1,)).collect()[0]
        assert r["mean_pass_at_k"] == pytest.approx(0.3, abs=1e-6)

    def test_mean_over_tasks(self, spark):
        from parlerproject_spark.operators.evaluation import pass_at_k
        rows = ([(1, True)] + [(1, False)] * 3          # c=1, n=4
                + [(2, False)] * 4)                      # c=0, n=4
        r = pass_at_k(self._frame(spark, rows), ks=(1,)).collect()[0]
        assert r["n_tasks"] == 2 and r["n_solved"] == 1
        assert r["mean_pass_at_k"] == pytest.approx(0.125, abs=1e-6)


class TestKrippendorffAlpha:
    def _run(self, spark, rows):
        from parlerproject_spark.operators.evaluation import (
            krippendorff_alpha)
        df = spark.createDataFrame(rows, "item_id bigint, label string")
        return krippendorff_alpha(df).collect()[0]

    def test_hand_case(self, spark):
        # A:(x,x) B:(x,y) C:(y,y): A=4, n=6, B=18
        # alpha = 1 - (6-4)*5/(36-18) = 1 - 10/18
        r = self._run(spark, [(1, "x"), (1, "x"), (2, "x"), (2, "y"),
                              (3, "y"), (3, "y")])
        assert r["n_items"] == 3 and r["n_ratings"] == 6
        assert r["do_rate"] == pytest.approx(1 / 3, abs=1e-6)
        assert r["de_rate"] == pytest.approx(0.6, abs=1e-6)
        assert r["alpha"] == pytest.approx(1 - 10 / 18, abs=1e-6)

    def test_single_rating_items_excluded(self, spark):
        base = [(1, "x"), (1, "x"), (2, "x"), (2, "y"),
                (3, "y"), (3, "y")]
        with_single = base + [(4, "x")]
        assert self._run(spark, base) == self._run(spark, with_single)

    def test_perfect_agreement(self, spark):
        r = self._run(spark, [(1, "x"), (1, "x"),
                              (2, "y"), (2, "y"), (2, "y")])
        assert r["alpha"] == 1.0 and r["do_rate"] == 0.0

    def test_degenerate_single_label_null(self, spark):
        # every rating identical: D_e = 0, alpha undefined
        r = self._run(spark, [(1, "x"), (1, "x"), (2, "x"), (2, "x")])
        assert r["alpha"] is None and r["do_rate"] == 0.0

    def test_varying_rater_counts(self, spark):
        # fleiss_kappa would need fixed m; alpha handles 2 vs 4 raters
        r = self._run(spark, [(1, "x"), (1, "x"),
                              (2, "x"), (2, "x"), (2, "y"), (2, "y")])
        # A = 2 + (2+2)/3 = 10/3; n=6; nc: x=4,y=2 -> B=20
        # alpha = 1 - (6-10/3)*5/(36-20) = 1 - (8/3)*5/16 = 1/6
        assert r["alpha"] == pytest.approx(1 / 6, abs=1e-6)


class TestRougeLPairs:
    def _run(self, spark, cand, ref, **kw):
        from parlerproject_spark.operators.evaluation import rouge_l_pairs
        c = spark.createDataFrame([(1, cand)], "pair_id bigint, text string")
        r = spark.createDataFrame([(1, ref)], "pair_id bigint, text string")
        return rouge_l_pairs(c, r, **kw).collect()[0]

    def test_identity(self, spark):
        r = self._run(spark, "a b c d", "a b c d")
        assert r["lcs"] == 4 and r["rouge_l"] == 1.0

    def test_order_sensitivity_vs_bag_metrics(self, spark):
        # transposed tokens: unigram bag metrics score 1.0; LCS sees 1
        r = self._run(spark, "a b", "b a")
        assert r["lcs"] == 1
        assert r["rouge_p"] == 0.5 and r["rouge_r"] == 0.5
        assert r["rouge_l"] == 0.5

    def test_non_contiguous_subsequence(self, spark):
        r = self._run(spark, "a x b y c", "a b c")
        assert r["lcs"] == 3
        assert r["rouge_p"] == pytest.approx(0.6, abs=1e-6)
        assert r["rouge_r"] == 1.0
        assert r["rouge_l"] == pytest.approx(0.75, abs=1e-6)

    def test_disjoint_and_empty(self, spark):
        r = self._run(spark, "a b", "c d")
        assert r["lcs"] == 0 and r["rouge_l"] == 0.0
        r2 = self._run(spark, "   ", "a b")
        assert r2["n_cand"] == 0 and r2["rouge_l"] == 0.0

    def test_truncation_caps(self, spark):
        r = self._run(spark, "a b c d e", "a b c d e",
                      max_cand_tokens=3, max_ref_tokens=3)
        assert r["n_cand"] == 3 and r["n_ref"] == 3 and r["lcs"] == 3


class TestEditDistancePairs:
    def _run(self, spark, cand, ref, **kw):
        from parlerproject_spark.operators.evaluation import (
            edit_distance_pairs)
        c = spark.createDataFrame([(1, cand)], "pair_id bigint, text string")
        r = spark.createDataFrame([(1, ref)], "pair_id bigint, text string")
        return edit_distance_pairs(c, r, **kw).collect()[0]

    def test_identity(self, spark):
        r = self._run(spark, "a b c", "a b c")
        assert r["char_dist"] == 0 and r["token_dist"] == 0
        assert r["cer"] == 0.0 and r["wer"] == 0.0

    def test_wer_substitution(self, spark):
        r = self._run(spark, "a b c", "a x c")
        assert r["token_dist"] == 1
        assert r["wer"] == pytest.approx(1 / 3, abs=1e-6)

    def test_tokens_are_atomic(self, spark):
        # char distance sees 2 swapped chars; token distance sees ONE
        # substituted token
        r = self._run(spark, "ab", "ba")
        assert r["char_dist"] == 2
        assert r["token_dist"] == 1 and r["wer"] == 1.0

    def test_insert_delete(self, spark):
        r = self._run(spark, "the quick fox", "the quick brown fox")
        assert r["token_dist"] == 1
        assert r["wer"] == pytest.approx(0.25, abs=1e-6)

    def test_empty_ref_null_rates(self, spark):
        r = self._run(spark, "a b", "   ")
        assert r["n_ref_tokens"] == 0
        assert r["wer"] is None and r["cer"] is None

    def test_caps(self, spark):
        r = self._run(spark, "a b c d", "a b c d",
                      max_tokens=2, max_chars=3)
        assert r["n_ref_tokens"] == 2 and r["n_ref_chars"] == 3
        assert r["wer"] == 0.0

    def test_max_tokens_bijection_guard(self, spark):
        # chr(47 + pos) over a <= 2*max_tokens vocab must stay within
        # single-byte ASCII; 105+ would wrap mod 256 and collide tokens
        with pytest.raises(ValueError, match="max_tokens"):
            self._run(spark, "a", "a", max_tokens=105)
        # boundary value is accepted
        r = self._run(spark, "a b", "a b", max_tokens=104)
        assert r["token_dist"] == 0


class TestKrippendorffAlphaMetric:
    @staticmethod
    def _brute(data, metric):
        """Independent reference: enumerate ordered rating PAIRS
        within each item (the textbook coincidence-matrix fill),
        then apply the δ² difference function directly."""
        from collections import Counter, defaultdict
        by_item = defaultdict(list)
        for u, c in data:
            by_item[u].append(float(c))
        by_item = {u: v for u, v in by_item.items() if len(v) >= 2}
        marg = Counter(c for v in by_item.values() for c in v)
        n = sum(marg.values())
        order = sorted(marg)
        cum = {}
        run = 0
        for c in order:
            run += marg[c]
            cum[c] = run

        def d2(a, b):
            if a == b:
                return 0.0
            if metric == "interval":
                return (a - b) ** 2
            lo, hi = min(a, b), max(a, b)
            inner = (cum[hi] - cum[lo]) + (marg[lo] - marg[hi]) / 2.0
            return inner ** 2

        do_num = 0.0
        for v in by_item.values():
            m = len(v)
            for i in range(m):
                for j in range(m):
                    if i != j:
                        do_num += d2(v[i], v[j]) / (m - 1.0)
        de_num = sum(marg[a] * marg[b] * d2(a, b)
                     for a in order for b in order)
        if n <= 1 or de_num == 0:
            return None
        return 1.0 - do_num * (n - 1.0) / de_num

    def _run(self, spark, data, metric):
        from parlerproject_spark.operators.evaluation import (
            krippendorff_alpha_metric)
        df = spark.createDataFrame(data, "item_id bigint, label double")
        return krippendorff_alpha_metric(df, metric=metric).collect()[0]

    def test_matches_pair_enumeration(self, spark):
        # 4 items, graded 1-5, ragged rater counts, one missing item
        data = [(1, 1.0), (1, 2.0), (1, 1.0),
                (2, 3.0), (2, 3.0),
                (3, 5.0), (3, 4.0), (3, 5.0), (3, 5.0),
                (4, 2.0), (4, 4.0),
                (5, 1.0)]  # unpairable, must be excluded
        for metric in ("ordinal", "interval"):
            row = self._run(spark, data, metric)
            want = self._brute(data, metric)
            assert row["n_items"] == 4
            assert row["n_ratings"] == 11
            assert row["alpha"] == pytest.approx(want, abs=2e-6), metric

    def test_perfect_agreement_is_one(self, spark):
        data = [(u, float(u % 3)) for u in range(6) for _ in range(3)]
        for metric in ("ordinal", "interval"):
            assert self._run(spark, data, metric)["alpha"] == 1.0

    def test_binary_interval_reduces_to_nominal(self, spark):
        from parlerproject_spark.operators.evaluation import (
            krippendorff_alpha)
        data = [(1, 0.0), (1, 1.0), (2, 1.0), (2, 1.0),
                (3, 0.0), (3, 0.0), (3, 1.0), (4, 1.0), (4, 1.0)]
        df = spark.createDataFrame(data, "item_id bigint, label double")
        nom = krippendorff_alpha(df).collect()[0]["alpha"]
        iv = self._run(spark, data, "interval")["alpha"]
        assert iv == pytest.approx(nom, abs=2e-6)

    def test_ordinal_weights_extremes_heavier(self, spark):
        # same confusion COUNT, different confusion DISTANCE:
        # 1-vs-5 disagreements must score lower than 1-vs-2
        near = [(u, v) for u in range(8) for v in (1.0, 2.0)]
        far = [(u, v) for u in range(8) for v in (1.0, 5.0)]
        # anchor items pin the scale so marginals cover all grades
        anchor = [(100 + g, float(g)) for g in range(1, 6)
                  for _ in range(2)]
        a_near = self._run(spark, near + anchor, "ordinal")["alpha"]
        a_far = self._run(spark, far + anchor, "ordinal")["alpha"]
        assert a_far < a_near

    def test_degenerate_inputs_null_alpha(self, spark):
        # single label everywhere -> D_e = 0 -> NULL
        data = [(1, 2.0), (1, 2.0), (2, 2.0), (2, 2.0)]
        for metric in ("ordinal", "interval"):
            assert self._run(spark, data, metric)["alpha"] is None

    def test_unknown_metric_raises(self, spark):
        from parlerproject_spark.operators.evaluation import (
            krippendorff_alpha_metric)
        df = spark.createDataFrame([(1, 1.0)], "item_id bigint, label double")
        with pytest.raises(ValueError):
            krippendorff_alpha_metric(df, metric="ratio")


class TestDiversityNgrams:
    def test_hand_case(self, spark):
        from parlerproject_spark.operators.evaluation import (
            diversity_ngrams)
        docs = spark.createDataFrame(
            [(1, "a b c", "x"),      # bigrams: "a b", "b c"
             (2, "a b d", "x"),      # bigrams: "a b", "b d"
             (3, "z", "x"),          # < 2 tokens -> excluded
             (4, "p q p q", "y")],   # bigrams: p q, q p, p q
            "doc_id bigint, text string, source string")
        rows = {r["group"]: r
                for r in diversity_ngrams(docs, n=2).collect()}
        x = rows["x"]
        assert x["n_docs"] == 2
        assert x["total_grams"] == 4
        assert x["distinct_grams"] == 3
        assert x["distinct_ratio"] == 0.75
        # doc1: {a b (df2), b c (df1)} -> 0.5; doc2 same -> mean 0.5
        assert x["mean_self_overlap"] == 0.5
        y = rows["y"]
        assert y["n_docs"] == 1 and y["total_grams"] == 3
        assert y["distinct_grams"] == 2
        # single doc: nothing overlaps other docs
        assert y["mean_self_overlap"] == 0.0

    def test_mode_collapse_scores_lower(self, spark):
        from parlerproject_spark.operators.evaluation import (
            diversity_ngrams)
        collapsed = [(i, "the same answer again", "m1")
                     for i in range(10)]
        diverse = [(100 + i, f"answer variant {i} differs token{i}", "m2")
                   for i in range(10)]
        docs = spark.createDataFrame(
            collapsed + diverse, "doc_id bigint, text string, source string")
        r = {x["group"]: x for x in diversity_ngrams(docs, n=2).collect()}
        assert r["m1"]["distinct_ratio"] < r["m2"]["distinct_ratio"]
        assert r["m1"]["mean_self_overlap"] > r["m2"]["mean_self_overlap"]

    def test_bad_n_raises(self, spark):
        from parlerproject_spark.operators.evaluation import (
            diversity_ngrams)
        docs = spark.createDataFrame(
            [(1, "a b", "x")], "doc_id bigint, text string, source string")
        import pytest as _pytest
        with _pytest.raises(ValueError):
            diversity_ngrams(docs, n=0)


class TestTokenF1Pairs:
    def _run(self, spark, cand_texts, ref_texts):
        from parlerproject_spark.operators.evaluation import (
            token_f1_pairs)
        cand = spark.createDataFrame(
            list(enumerate(cand_texts)), "pair_id bigint, text string")
        ref = spark.createDataFrame(
            list(enumerate(ref_texts)), "pair_id bigint, text string")
        return {r["pair_id"]: r
                for r in token_f1_pairs(cand, ref).collect()}

    def test_hand_cases(self, spark):
        out = self._run(
            spark,
            ["the cat sat", "blue car", "x y z", "word word word"],
            ["a cat sat down", "red bike", "x q z", "word"])
        # pair 0: articles dropped -> cand {cat,sat}, ref {cat,sat,down}
        r0 = out[0]
        assert (r0["n_cand"], r0["n_ref"], r0["overlap"]) == (2, 3, 2)
        assert r0["f1_p"] == 1.0 and r0["f1_r"] == 0.666667
        assert r0["token_f1"] == 0.8  # 2*1*(2/3)/(5/3)
        assert out[1]["token_f1"] == 0.0          # disjoint bags
        assert out[2]["overlap"] == 2              # x, z
        # clipping: cand has word x3, ref x1 -> overlap clipped to 1
        r3 = out[3]
        assert r3["overlap"] == 1
        assert r3["f1_p"] == 0.333333 and r3["f1_r"] == 1.0

    def test_identity_is_one_and_empty_is_null(self, spark):
        out = self._run(spark,
                        ["exact same answer", "the a an"],
                        ["exact same answer", "something real"])
        assert out[0]["token_f1"] == 1.0
        # cand reduces to zero tokens after article drop -> NULL
        assert out[1]["n_cand"] == 0 and out[1]["token_f1"] is None

    def test_order_insensitive(self, spark):
        out = self._run(spark, ["alpha beta gamma"], ["gamma alpha beta"])
        assert out[0]["token_f1"] == 1.0  # bag metric ignores order
