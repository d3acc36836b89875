"""M1 HTML extraction, M2 embeddings, M3 topics, multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from parlerproject_spark.catalog import load_table
from parlerproject_spark.functions.embed import batch_tier, embed_documents
from parlerproject_spark.functions.html import extract_post_text, extract_post_text_py
from parlerproject_spark.operators import multimodal, topics


# ---- M1: HTML extraction (FIXTURES.md §4 cases) -------------------------

WRAPPED = """
<html><body>
<div class="post--card--wrapper">
  <p>Hello   world</p>
  <script>var x = "SHOULD NOT APPEAR";</script>
  <style>.c { color: red }</style>
  <img alt="Impressions" src="i.png"/> <span>42</span>
  <img alt="decorative" src="d.png"/>
  <div class="inner"><p>nested  text</p></div>
</div>
<div class="other">outside wrapper</div>
<div class="post--card--wrapper"><p>second post</p></div>
</body></html>
"""


def test_extract_post_text_reference_semantics():
    out = extract_post_text_py(WRAPPED)
    assert "SHOULD NOT APPEAR" not in out
    assert "color" not in out
    assert "[Impressions]: 42" in out
    assert "decorative" not in out
    assert "outside wrapper" not in out
    assert "nested text" in out  # whitespace collapsed
    assert out.endswith("second post")


def test_extract_post_text_no_wrapper_yields_empty():
    assert extract_post_text_py("<html><body><p>hi</p></body></html>") == ""
    assert extract_post_text_py(None) == ""


def test_extract_post_text_udf(spark):
    df = spark.createDataFrame([(1, WRAPPED), (2, "<p>naked</p>")], ["doc_id", "html"])
    got = {r["doc_id"]: r["text"] for r in
           df.select("doc_id", extract_post_text("html").alias("text")).collect()}
    assert "[Impressions]: 42" in got[1]
    assert got[2] == ""


# ---- M2: embeddings ------------------------------------------------------

def test_batch_tiers_match_reference():
    # the reference's literal get_optimal_batch_size table
    # (code/embeddings.py:47-58), including its non-monotonic middle
    assert batch_tier(100) == 100       # < 1k
    assert batch_tier(5_000) == 500     # < 10k
    assert batch_tier(50_000) == 100    # < 100k
    assert batch_tier(100_000) == 32    # 100k+ boundary
    assert batch_tier(2_000_000) == 32  # "1M+ documents"


def test_arrow_batch_conf_wires_tier_into_arrow():
    from parlerproject_spark.functions.embed import arrow_batch_conf
    key, val = arrow_batch_conf(2_000_000)
    assert key == "spark.sql.execution.arrow.maxRecordsPerBatch"
    assert val == "32"
    assert arrow_batch_conf(5_000)[1] == "500"


def test_embed_documents_contract(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir).limit(50)
    out = embed_documents(docs, dim=64)
    rows = out.select("doc_id", "embedding").collect()
    assert len(rows) == 50
    for r in rows[:5]:
        v = r["embedding"]
        assert len(v) == 64
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-5
    # determinism: same text → same vector across runs
    again = {r["doc_id"]: r["embedding"]
             for r in embed_documents(docs, dim=64).select("doc_id", "embedding").collect()}
    first = {r["doc_id"]: r["embedding"] for r in rows}
    assert again == first


def test_embed_real_backend_is_gated(spark):
    docs = spark.createDataFrame([(1, "hi")], ["doc_id", "text"])
    with pytest.raises(Exception):  # ImportError surfaced through the UDF
        embed_documents(docs, backend="st").collect()


# ---- M3: topics ----------------------------------------------------------

def _clustered_vectors(spark):
    """Two obvious clusters around orthogonal axes."""
    rows = []
    for i in range(10):
        rows.append((i, [1.0, 0.01 * i, 0.0, 0.0]))
    for i in range(10, 20):
        rows.append((i, [0.0, 0.0, 1.0, 0.01 * i]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_kmeans_separates_clusters(spark):
    out = topics.kmeans_topics(_clustered_vectors(spark), k=2, max_iter=4)
    got = {r["vec_id"]: r["topic"] for r in out.collect()}
    a = {got[i] for i in range(10)}
    b = {got[i] for i in range(10, 20)}
    assert len(a) == 1 and len(b) == 1 and a != b


def test_outlier_threshold_marks_dispersed_vectors(spark):
    # 2 tight clusters seed the centroids; two stray vectors near an
    # axis orthogonal to both must land in topic -1 under a cosine
    # threshold, and a zero vector is always an outlier
    rows = ([(i, [1.0, 0.01 * i, 0.0, 0.0]) for i in range(10)]
            + [(10 + i, [0.0, 0.0, 1.0, 0.01 * i]) for i in range(10)]
            + [(90, [0.0, 1.0, 0.0, 0.05]), (91, [0.05, 1.0, 0.0, 0.0]),
               (92, [0.0, 0.0, 0.0, 0.0])])
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = topics.lloyd_centroids(vecs, k=2, max_iter=4)
    out = topics._assign(vecs, cents, id_col="vec_id",
                         vec_col="embedding", outlier_threshold=0.8)
    got = {r["vec_id"]: r["topic"] for r in out.collect()}
    assert got[90] == -1 and got[91] == -1 and got[92] == -1
    assert all(got[i] != -1 for i in range(20))
    # reduce_outliers maps every -1 back to its nearest topic
    reduced = {r["vec_id"]: r["topic"]
               for r in topics.reduce_outliers(
                   out.select("vec_id", "topic"), vecs, cents).collect()}
    assert all(t != -1 for t in reduced.values())
    assert all(reduced[i] == got[i] for i in range(20))  # non-outliers keep


def test_outlier_threshold_zero_share_on_tight_clusters(spark):
    vecs = _clustered_vectors(spark)
    out = topics.kmeans_topics(vecs, k=2, max_iter=4, outlier_threshold=0.9)
    assert out.filter(F.col("topic") == -1).count() == 0


def test_fit_topics_outlier_share_reported(spark):
    # fit_topics' topic_info must carry the -1 row (the reference's
    # outlier-share report line, bertopicTest.py:107)
    rows = ([(i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(10)]
            + [(10 + i, [0.0, 0.0, 1.0, 0.001 * i]) for i in range(10)]
            + [(90, [0.0, 1.0, 0.0, 0.0])])
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    docs = spark.createDataFrame(
        [(i, f"doc {i} text") for i, _ in rows], ["doc_id", "text"])
    _, topic_info, _ = topics.fit_topics(
        docs, vecs, k=2, max_iter=3, top_n=3,
        doc_id_col="doc_id", vec_id_col="vec_id", outlier_threshold=0.8)
    info = {r["topic"]: r["Count"] for r in topic_info.collect()}
    assert info.get(-1) == 1


def test_fit_topics_surface(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir).limit(200)
    vecs = (load_table(spark, "embeddings", sf_dir).limit(200)
            .select(F.col("vec_id"), "embedding"))
    doc_topics, topic_info, topic_words = topics.fit_topics(
        docs, vecs, k=4, max_iter=2, top_n=5)
    dt = doc_topics.collect()
    assert len(dt) == 200
    assert {r["topic"] for r in dt} <= set(range(4))
    share = topic_info.agg(F.round(F.sum("share_pct"), 2).alias("s")).collect()[0]["s"]
    assert abs(share - 100.0) < 0.1
    assert topic_words.groupBy("topic").count().agg(F.max("count")).collect()[0][0] <= 5


# ---- multimodal ----------------------------------------------------------

def test_multimodal_roundtrip(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir).limit(30)
    assets = multimodal.synth_media(docs)
    feats = multimodal.decode_features(assets)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert r["decode_status"] == "success"
        assert r["width"] >= 16 and r["height"] >= 16
        assert r["n_bytes"] == 12 + 128  # header + 4×32-char md5 payload
        assert abs(r["aspect"] - r["width"] / r["height"]) < 1e-9


def test_multimodal_decode_error_status(spark):
    df = spark.createDataFrame([(1, b"not an image")], ["doc_id", "content"])
    r = multimodal.decode_features(df).collect()[0]
    assert r["decode_status"] == "decode_error"


def test_multimodal_real_backend_is_stubbed(spark):
    df = spark.createDataFrame([(1, b"x")], ["doc_id", "content"])
    with pytest.raises(Exception):  # NotImplementedError through the task
        multimodal.decode_features(df, backend="real").collect()


def test_frame_sample(spark):
    vids = spark.createDataFrame([(1, 35), (2, 5)], ["doc_id", "n_frames"])
    got = sorted((r["doc_id"], r["frame_no"])
                 for r in multimodal.frame_sample(vids, every=10).collect())
    assert got == [(1, 0), (1, 10), (1, 20), (1, 30), (2, 0)]


def test_resize_media_preserves_aspect(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir).limit(30)
    assets = multimodal.synth_media(docs)
    out = multimodal.resize_media(assets, target_width=256).collect()
    assert len(out) == 30
    for r in out:
        assert r["resize_status"] == "success"
        assert r["new_width"] == 256
        # aspect preserved within integer rounding
        assert abs(r["new_height"] - r["height"] * 256 / r["width"]) <= 0.5
        w, h, status = multimodal._decode_fake(bytes(r["content"]))
        assert (w, h, status) == (256, r["new_height"], "success")


def test_resize_media_error_taxonomy(spark):
    bad = spark.createDataFrame([(1, bytearray(b"nope"))], "doc_id long, content binary")
    out = multimodal.resize_media(bad).collect()
    assert out[0]["resize_status"] == "resize_error"
    assert out[0]["content"] is None


def test_multimodal_string_ids_keep_their_type(spark):
    """ADVICE r2: the output asset_id type derives from the input id
    column — string doc ids must survive decode_features and
    resize_media unchanged, not fail a hardcoded long cast."""
    docs = spark.createDataFrame(
        [("doc-a", "alpha text"), ("doc-b", "beta text")],
        "doc_id string, text string")
    assets = multimodal.synth_media(docs)
    feats = multimodal.decode_features(assets)
    assert feats.schema["asset_id"].dataType.simpleString() == "string"
    assert {r["asset_id"] for r in feats.collect()} == {"doc-a", "doc-b"}
    resized = multimodal.resize_media(assets)
    assert resized.schema["asset_id"].dataType.simpleString() == "string"
    assert {r["asset_id"] for r in resized.collect()} == {"doc-a", "doc-b"}


def test_audio_chunks_reassemble_exactly(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir).limit(20)
    audio = multimodal.synth_audio(docs)
    chunks = multimodal.audio_chunks(audio, chunk_samples=64)
    # pure Column algebra — zero Python stages in the plan
    assert "mapInPandas" not in chunks._jdf.queryExecution().executedPlan().toString()
    got = chunks.orderBy("doc_id", "chunk_no").collect()
    by_id: dict = {}
    for r in got:
        by_id.setdefault(r["doc_id"], []).append(bytes(r["chunk"]))
        assert r["start_sample"] % 64 == 0
    originals = {r["doc_id"]: bytes(r["content"])[8:]
                 for r in audio.select("doc_id", "content").collect()}
    for doc_id, parts in by_id.items():
        assert b"".join(parts) == originals[doc_id]  # lossless cover
        assert all(len(p) == 64 for p in parts[:-1])  # fixed-size except tail


def test_zlib_ratio_matches_inprocess_reference(spark):
    import zlib
    from parlerproject_spark.functions.py_udfs import zlib_ratio
    texts = ["aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",       # template -> low
             "the quick brown fox jumps over it",    # natural
             "", None]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    zr = zlib_ratio()
    got = {r["doc_id"]: r["ratio"] for r in
           df.select("doc_id", zr("text").alias("ratio")).collect()}
    for i, t in enumerate(texts):
        if not t:
            assert got[i] is None
        else:
            raw = t.encode()
            assert got[i] == pytest.approx(
                len(zlib.compress(raw, 6)) / len(raw), abs=1e-12)
    # repetitive text compresses far better than natural text
    assert got[0] < got[1]
