"""Property-based invariants (hypothesis) over the corpus operators.

The fixture corpora elsewhere are hand-crafted; these throw random
word-soup documents at the lossless-by-contract operators and assert
the algebraic invariants that must hold for EVERY input — the
SURVEY §5 strategy's missing leg. Example counts are small (each
example runs Spark jobs); the value is the adversarial shapes
hypothesis finds (empty docs, single tokens, all-duplicates), not
volume.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_WORDS = ["alpha", "beta", "gamma", "delta", "x1", "y2", "the", "of"]
_doc = st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12)
_corpus = st.lists(_doc, min_size=1, max_size=6)

_SETTINGS = dict(max_examples=8, deadline=None,
                 suppress_health_check=[HealthCheck.too_slow])


def _df(spark, corpus):
    return spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(corpus)],
        "doc_id long, text string")


@given(corpus=_corpus)
@settings(**_SETTINGS)
def test_chunking_with_stride_eq_size_is_lossless(spark, corpus):
    """chunk_size == stride ⇒ chunks tile the token stream exactly:
    rejoining every doc's chunks in order reproduces its tokens."""
    from parlerproject_spark.operators.text_analysis import chunk_documents
    out = chunk_documents(_df(spark, corpus), chunk_size=4, stride=4)
    got = {}
    for r in sorted(out.collect(), key=lambda r: (r["doc_id"],
                                                  r["chunk_no"])):
        got.setdefault(r["doc_id"], []).extend(r["chunk_text"].split())
    for i, words in enumerate(corpus):
        toks = [w for w in words if w]
        if toks:
            assert got[i] == toks, (i, got.get(i), toks)
        else:
            assert i not in got


@given(corpus=_corpus)
@settings(**_SETTINGS)
def test_bpe_encoding_is_lossless_spelling(spark, corpus):
    """BPE pieces concatenate back to the original tokens (merges
    change segmentation, never spelling)."""
    from parlerproject_spark.operators.tokenizer import (apply_bpe,
                                                         train_bpe)
    d = _df(spark, corpus)
    merges = train_bpe(d, n_merges=6)
    for r in apply_bpe(d, merges).collect():
        toks = [t for t in re.split(r"[^a-z0-9]+",
                                    " ".join(corpus[r["doc_id"]]).lower())
                if t]
        assert "".join(r["pieces"]) == "".join(toks)
        assert r["n_words"] == len(toks)


@given(corpus=_corpus)
@settings(**_SETTINGS)
def test_line_dedup_is_idempotent(spark, corpus):
    """Deduping already-deduped output changes nothing."""
    from parlerproject_spark.operators.text_analysis import line_dedup
    once = line_dedup(_df(spark, corpus), max_line_df=1)
    twice = line_dedup(
        once.select("doc_id", F.col("clean_text").alias("text")),
        max_line_df=1)
    a = {(r["doc_id"], r["clean_text"]) for r in once.collect()}
    b = {(r["doc_id"], r["clean_text"]) for r in twice.collect()}
    assert a == b


@given(urls=st.lists(st.sampled_from([
    "HTTP://Example.COM/a?utm_source=x&id=1#frag",
    "https://www.site.org/Path/?fbclid=zz",
    "http://host.net/p?b=2&a=1",
    "https://example.com",
]), min_size=1, max_size=4))
@settings(**_SETTINGS)
def test_normalize_url_is_idempotent(spark, urls):
    from parlerproject_spark.functions.text import normalize_url
    d = spark.createDataFrame([(u,) for u in urls], "url string")
    once = d.select(normalize_url("url").alias("u"))
    twice = once.select(normalize_url("u").alias("u"))
    assert [r["u"] for r in once.collect()] == \
           [r["u"] for r in twice.collect()]


@given(log=st.lists(st.tuples(st.integers(1, 3), st.integers(0, 50),
                              st.sampled_from(["a", "b", "c"])),
                    min_size=1, max_size=12, unique_by=lambda t: (t[0], t[1])))
@settings(**_SETTINGS)
def test_scd2_intervals_partition_each_keys_timeline(spark, log):
    """Per key: versions are contiguous 1..n, intervals chain
    (valid_to == next valid_from), exactly one open interval."""
    from parlerproject_spark.operators.cdc import scd2_history
    d = spark.createDataFrame(log, "k long, ts long, attr string")
    by_key = {}
    for r in scd2_history(d, key_cols=["k"], ts_col="ts",
                          attr_cols=["attr"]).collect():
        by_key.setdefault(r["k"], []).append(r)
    for k, rows in by_key.items():
        rows.sort(key=lambda r: r["version"])
        assert [r["version"] for r in rows] == list(range(1, len(rows) + 1))
        for prev, nxt in zip(rows, rows[1:]):
            assert prev["valid_to"] == nxt["valid_from"]
            assert prev["attr"] != nxt["attr"]  # runs collapsed
        assert rows[-1]["valid_to"] is None and rows[-1]["is_current"]
        assert all(not r["is_current"] for r in rows[:-1])


@given(edges=st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)),
                      min_size=0, max_size=20))
@settings(**_SETTINGS)
def test_duplicate_clusters_matches_union_find(spark, edges):
    """CC property (r8 rewrite: self-loop fused neighbor-min, double
    pointer jump, sum-based fixed point): on arbitrary small graphs
    the result equals a classic driver-side union-find."""
    from parlerproject_spark.operators.dedup import duplicate_clusters

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {v: find(v) for v in parent}
    # min-label: re-resolve every vertex to its root's minimum member
    comp: dict[int, list[int]] = {}
    for v in parent:
        comp.setdefault(find(v), []).append(v)
    expected = {v: min(members) for root, members in comp.items()
                for v in members}

    df = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)],
        "id_a long, id_b long")
    if not edges:
        df = df.limit(0)
    got = {r["doc_id"]: r["cluster_id"]
           for r in duplicate_clusters(df, max_iter=8).collect()}
    assert got == expected


@given(docs=st.lists(st.text(alphabet="ab ", min_size=0, max_size=14),
                     min_size=1, max_size=5),
       dict_=st.lists(st.sampled_from(["a", "b", "ab", "ba", "aba",
                                       "a b", "bb"]),
                      min_size=1, max_size=4, unique=True))
@settings(**_SETTINGS)
def test_dictionary_tag_arrow_always_matches_expr(spark, docs, dict_):
    """The Aho-Corasick one-pass path reproduces the replace-count
    contract on adversarial inputs (self-overlapping phrases,
    phrases containing spaces, empty docs)."""
    from parlerproject_spark.operators.lexicon import dictionary_tag
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id long, text string")
    a = sorted((r["doc_id"], r["phrase"], r["n"])
               for r in dictionary_tag(df, dict_, impl="expr").collect())
    b = sorted((r["doc_id"], r["phrase"], r["n"])
               for r in dictionary_tag(df, dict_, impl="arrow").collect())
    assert a == b


@given(digits=st.lists(st.text(alphabet="0123456789", min_size=1,
                               max_size=19), min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_luhn_check_matches_python_reference(spark, digits):
    from parlerproject_spark.operators.privacy import luhn_check

    def py_luhn(s):
        tot = 0
        for i, ch in enumerate(reversed(s)):
            d = int(ch)
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            tot += d
        return tot % 10 == 0

    df = spark.createDataFrame([(s,) for s in digits], "n string")
    got = {r["n"]: r["v"] for r in
           df.select("n", luhn_check("n").alias("v")).collect()}
    for s in digits:
        assert got[s] == py_luhn(s), s


@given(caps=st.lists(st.integers(0, 1000), min_size=1, max_size=8),
       frac=st.floats(0.0, 1.5))
@settings(**_SETTINGS)
def test_unimax_allocation_conserves_budget(spark, caps, frac):
    """Σ alloc == min(budget, Σ caps) and no source exceeds its cap —
    the water-fill conservation law, for EVERY cap profile."""
    from parlerproject_spark.operators.sampling import unimax_allocation
    cnt = spark.createDataFrame(
        [(f"s{i}", int(c)) for i, c in enumerate(caps)],
        "source string, n_tokens bigint")
    budget = frac * sum(caps)
    out = unimax_allocation(cnt, budget=budget, max_epochs=1.0).collect()
    total = sum(r["alloc"] for r in out)
    want = min(budget, float(sum(caps)))
    assert abs(total - want) < 1e-4 * max(1.0, want), (total, want)
    for r in out:
        assert r["alloc"] <= r["cap"] + 1e-9


@given(rows=st.lists(st.tuples(st.sampled_from(["g1", "g2", "g3"]),
                               st.integers(-50, 50)),
                     min_size=2, max_size=16))
@settings(**_SETTINGS)
def test_quantile_match_output_is_permutation_of_global_scores(
        spark, rows):
    """Calibrated values are always REAL data values drawn from the
    global score multiset (order statistics, never synthesized), and
    within-group order is preserved."""
    from parlerproject_spark.operators.selection import (
        quantile_match_scores)
    df = spark.createDataFrame(
        [(i, g, float(v)) for i, (g, v) in enumerate(rows)],
        "doc_id bigint, source string, score double")
    out = quantile_match_scores(df).collect()
    assert len(out) == len(rows)
    scores = sorted(float(v) for _, v in rows)
    for r in out:
        assert r["calibrated"] in scores
    by_g = {}
    for r in out:
        by_g.setdefault(r["source"], []).append(r)
    for rs in by_g.values():
        rs.sort(key=lambda r: (r["score"], r["doc_id"]))
        cal = [r["calibrated"] for r in rs]
        assert cal == sorted(cal)
