"""Cross-group quantile matching — calibration contract tests."""
class TestQuantileMatchScores:
    def test_hand_case_maps_group_rank_to_global_quantile(self, spark):
        from parlerproject_spark.operators.selection import (
            quantile_match_scores)
        # group a scores low (1,2,3), group b scores high (10,20,30);
        # global sorted: 1,2,3,10,20,30 (N=6)
        rows = [(1, "a", 1.0), (2, "a", 2.0), (3, "a", 3.0),
                (4, "b", 10.0), (5, "b", 20.0), (6, "b", 30.0)]
        df = spark.createDataFrame(rows, "doc_id bigint, source string, score double")
        out = {r["doc_id"]: r for r in quantile_match_scores(df).collect()}
        # pct 0, .5, 1 per group; k = floor(pct*5)+1 -> 1, 3, 6
        # both groups calibrate to the SAME global scale
        assert out[1]["calibrated"] == out[4]["calibrated"] == 1.0
        assert out[2]["calibrated"] == out[5]["calibrated"] == 3.0
        assert out[3]["calibrated"] == out[6]["calibrated"] == 30.0
        assert out[2]["pct"] == 0.5

    def test_ordering_preserved_within_group(self, spark):
        from parlerproject_spark.operators.selection import (
            quantile_match_scores)
        import random
        rng = random.Random(7)
        rows = [(i, "g%d" % (i % 3), rng.uniform(-5, 5) * (1 + i % 3))
                for i in range(90)]
        df = spark.createDataFrame(rows, "doc_id bigint, source string, score double")
        out = quantile_match_scores(df).collect()
        by_g = {}
        for r in out:
            by_g.setdefault(r["source"], []).append(r)
        n = df.count()
        for g, rs in by_g.items():
            rs.sort(key=lambda r: (r["score"], r["doc_id"]))
            cal = [r["calibrated"] for r in rs]
            assert cal == sorted(cal), g  # monotone in group rank
        # a global threshold on calibrated cuts ~the same share per group
        thr = sorted(r["calibrated"] for r in out)[n // 2]
        shares = [sum(1 for r in rs if r["calibrated"] <= thr) / len(rs)
                  for rs in by_g.values()]
        assert max(shares) - min(shares) <= 0.25, shares

    def test_single_row_group_gets_global_min(self, spark):
        from parlerproject_spark.operators.selection import (
            quantile_match_scores)
        rows = [(1, "solo", 99.0), (2, "big", 5.0), (3, "big", 7.0)]
        df = spark.createDataFrame(rows, "doc_id bigint, source string, score double")
        out = {r["doc_id"]: r for r in quantile_match_scores(df).collect()}
        # pct of a 1-row group is 0 -> global rank 1 -> global min
        assert out[1]["pct"] == 0.0
        assert out[1]["calibrated"] == 5.0


def test_nan_scores_and_zero_span_group_match_single_window_rank(spark):
    """Both selection rankers share evaluation's range buckets: a NaN
    score (above every double) sits in the top bucket and a
    constant-score group is one bucket, and both still equal a
    single-window row_number()."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from parlerproject_spark.operators.selection import (
        quantile_band_filter, quantile_match_scores)
    nan = float("nan")
    rows = [(1, "a", 1.0), (2, "a", nan), (3, "a", 3.0), (4, "a", 1.0),
            (5, "a", 2.5), (6, "a", nan), (7, "b", 4.0), (8, "b", nan),
            (9, "b", 4.0), (10, "z", 5.0), (11, "z", 5.0), (12, "z", 5.0)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, score double")
    g = Window.partitionBy("source").orderBy("score", "doc_id")
    ref = df.select("doc_id", "score",
                    F.row_number().over(g).alias("rank"),
                    F.percent_rank().over(g).alias("pct"),
                    F.row_number().over(Window.orderBy("score", "doc_id"))
                    .alias("grank")).collect()

    band = quantile_band_filter(df, group_col="source", score_col="score",
                                id_col="doc_id", lo=0.0, hi=1.0).collect()
    assert {r["doc_id"]: r["rank"] for r in band} == \
        {r["doc_id"]: r["rank"] for r in ref}

    by_grank = {r["grank"]: r["score"] for r in ref}
    key = lambda v: "nan" if math.isnan(v) else v  # noqa: E731
    want = {r["doc_id"]: key(by_grank[math.floor(r["pct"] * (len(rows) - 1)) + 1])
            for r in ref}
    got = {r["doc_id"]: key(r["calibrated"])
           for r in quantile_match_scores(df).collect()}
    assert got == want
