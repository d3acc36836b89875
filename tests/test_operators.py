"""Relational + text-analysis operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from parlerproject_spark.catalog import load_table
from parlerproject_spark.operators import relational, text_analysis


def test_anti_join_resume_is_idempotent(spark):
    """The J2 contract (htmlConverter.py:52-54): second resume pass
    processes zero rows."""
    work = spark.createDataFrame([(i,) for i in range(10)], ["k"])
    done = spark.createDataFrame([(i,) for i in range(6)], ["k"])
    remaining = relational.anti_join(work, done, "k")
    assert remaining.count() == 4
    # simulate completing the remaining work, then resuming again
    done2 = done.unionByName(remaining.select("k"))
    assert relational.anti_join(work, done2, "k").count() == 0


def test_semi_join_keeps_only_members(spark):
    big = spark.createDataFrame([(i, f"v{i}") for i in range(10)], ["k", "v"])
    keys = spark.createDataFrame([(2,), (5,), (99,)], ["k"])
    got = sorted(r["k"] for r in relational.semi_join(big, keys, "k").collect())
    assert got == [2, 5]


def test_semi_join_broadcasts(spark):
    big = spark.createDataFrame([(i,) for i in range(10)], ["k"])
    keys = spark.createDataFrame([(2,)], ["k"])
    plan = relational.semi_join(big, keys, "k")._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_union_by_name_pads_missing_columns(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "a"])
    b = spark.createDataFrame([(2, "y")], ["id", "b"])
    out = relational.union_by_name([a, b]).orderBy("id").collect()
    assert out[0]["a"] == "x" and out[0]["b"] is None
    assert out[1]["a"] is None and out[1]["b"] == "y"


def test_share_of_total_sums_to_100(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir)
    total = (relational.share_of_total(ev, "event_type")
             .agg(F.sum("pct").alias("s")).collect()[0]["s"])
    assert abs(total - 100.0) < 1e-4


def test_top_k_deterministic(spark):
    df = spark.createDataFrame([(1, 5.0), (2, 5.0), (3, 1.0)], ["id", "w"])
    got = [r["id"] for r in relational.top_k(
        df, [F.col("w").desc(), F.col("id").asc()], 2).collect()]
    assert got == [1, 2]


def test_doc_frequency_floor_and_cap(spark):
    docs = spark.createDataFrame(
        [(1, "apple banana"), (2, "apple cherry"), (3, "apple banana date")],
        ["doc_id", "text"])
    out = {r["term"]: r["df"] for r in
           text_analysis.doc_frequency(docs, min_df=2, vocab_size=10).collect()}
    assert out == {"apple": 3, "banana": 2}


def test_language_id_marks_english(spark):
    docs = spark.createDataFrame(
        [(1, "the cat and the dog is here"), (2, "zzz qqq")], ["doc_id", "text"])
    got = {r["doc_id"]: r["lang_pred"]
           for r in text_analysis.language_id(docs).collect()}
    assert got[1] == "en"
    assert got[2] == "und"


def test_language_id_script_aware_cjk(spark):
    """VERDICT r2 task 5: genuine CJK text tokenizes to nothing under
    [^a-z0-9]+, so marker voting alone returns 'und'; the script gate
    must route it to zh/ja/ko. Latin text must be unaffected, and the
    romanized-pinyin false-positive path must be gone."""
    docs = spark.createDataFrame([
        (1, "这是一个中文测试文本没有别的"),          # Han only -> zh
        (2, "これは日本語のテストです"),              # kana present -> ja
        (3, "안녕하세요 이것은 한국어 테스트입니다"),  # hangul -> ko
        (4, "the cat and the dog is here"),           # latin -> en
        (5, "zzz qqq"),                               # no signal -> und
        # mixed: a couple of Han chars in mostly-latin text stay
        # under the gate -> marker voting wins
        (6, "the launch 中文 event and the demo is live"),
    ], ["doc_id", "text"])
    got = {r["doc_id"]: r["lang_pred"]
           for r in text_analysis.language_id(
               docs, script_aware=True).collect()}
    assert got[1] == "zh"
    assert got[2] == "ja"
    assert got[3] == "ko"
    assert got[4] == "en"
    assert got[5] == "und"
    assert got[6] == "en"


def test_language_id_script_aware_drops_pinyin_markers(spark):
    """'de'/'le' marker collisions: romanized zh markers overlap
    German/French function words; script-aware voting excludes the
    zh row so Latin text can never be labeled zh."""
    docs = spark.createDataFrame(
        [(1, "le chat est sur le toit des voisins")], ["doc_id", "text"])
    got = text_analysis.language_id(docs, script_aware=True).collect()
    assert got[0]["lang_pred"] == "fr"


def test_topic_terms_shape(spark, sf_dir):
    d = load_table(spark, "documents", sf_dir)
    e = (load_table(spark, "embeddings", sf_dir)
         .select(F.col("vec_id").alias("doc_id"), "label"))
    out = text_analysis.topic_terms(d.join(e, "doc_id"), topic_col="label", top_n=5)
    rows = out.collect()
    per_topic = {}
    for r in rows:
        per_topic.setdefault(r["label"], []).append(r["rn"])
    for label, rns in per_topic.items():
        assert sorted(rns) == list(range(1, len(rns) + 1))
        assert len(rns) <= 5


def test_winnow_shared_substring_guarantee(spark):
    from parlerproject_spark.operators import text_analysis
    # winnowing guarantee: docs sharing a substring of length
    # >= k + window - 1 (= 11) share at least one fingerprint
    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, "AAAA " + shared + " BBBB"),
         (2, "CCCCCC " + shared + " DDD"),
         (3, "zzzz yyyy xxxx wwww vvvv uuuu")],
        ["doc_id", "text"])
    fps = text_analysis.winnow_fingerprints(docs, k=8, window=4)
    sets = {r["doc_id"]: set() for r in docs.collect()}
    for r in fps.collect():
        sets[r["doc_id"]].add(r["fp"])
    assert sets[1] & sets[2]
    assert not (sets[1] & sets[3])


def test_winnow_identical_docs_identical_fingerprints(spark):
    from parlerproject_spark.operators import text_analysis
    docs = spark.createDataFrame(
        [(1, "Some   Document\twith MESSY whitespace"),
         (2, "some document with messy whitespace")],
        ["doc_id", "text"])
    fps = text_analysis.winnow_fingerprints(docs, k=8, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # normalization makes them byte-identical -> same fingerprint set
    assert by_doc[1] == by_doc[2]


def test_fingerprint_overlap_flags_containment(spark):
    from parlerproject_spark.operators import text_analysis
    body = "one two three four five six seven eight nine ten " * 3
    docs = spark.createDataFrame(
        [(1, body), (2, body + " extra tail words"), (3, "totally different content here")],
        ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"]) for r in
             text_analysis.fingerprint_overlap(docs, threshold=0.8).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_winnow_norm_vertical_tab_engine_independent(spark):
    """\x0B regression: Java \\s includes vertical tab, RE2 \\s does
    not — the explicit whitespace class must make both engines turn
    \x0B into a word boundary (space), never glue adjacent words."""
    import duckdb
    from parlerproject_spark.operators import text_analysis as ta

    raw = "alpha\x0bbeta gamma\tdelta"
    docs = spark.createDataFrame([(1, raw)], ["doc_id", "text"])
    got = docs.select(ta._winnow_norm("text").alias("t")).collect()[0]["t"]
    oracle = duckdb.sql(
        "SELECT lower(trim(regexp_replace(regexp_replace(regexp_replace($t,"
        " '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), '[^ -~]', '', 'g'),"
        " ' +', ' ', 'g'))) AS t", params={"t": raw}).fetchone()[0]
    assert got == oracle == "alpha beta gamma delta"


def test_scene_cuts_window_contract(spark):
    from parlerproject_spark.operators.multimodal import scene_cuts
    vids = spark.createDataFrame(
        [(1, 35), (2, 5)], "doc_id long, n_frames long")
    rows = {(r["doc_id"], r["frame_no"]): r
            for r in scene_cuts(vids, every=10).collect()}
    # video 1 samples frames 0,10,20,30; video 2 only frame 0
    assert set(rows) == {(1, 0), (1, 10), (1, 20), (1, 30), (2, 0)}
    first = rows[(1, 0)]
    assert first["prev_frame"] is None and first["hamming"] is None
    assert first["is_cut"] is False
    mid = rows[(1, 20)]
    assert mid["prev_frame"] == 10 and 0 <= mid["hamming"] <= 60
    # deterministic across runs
    again = {(r["doc_id"], r["frame_no"]): r["hamming"]
             for r in scene_cuts(vids, every=10).collect()}
    assert again == {k: v["hamming"] for k, v in rows.items()}
