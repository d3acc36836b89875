"""Distributed text-analysis operators (SURVEY §2.5 A5/A6, M4, plus
the engine-added language-ID and token-count ops).

These are the Spark-native versions of the reference's
BERTopic-adjacent surface: CountVectorizer vocabulary building
(code/bertopicTest.py:42-50) and c-TF-IDF per-topic term relevance
(code/bertopicTest.py:53-54,94-100) — re-expressed as
explode → groupBy pipelines so they scale by partitioning instead of
by a single sklearn process.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parlerproject_spark.caching import literal
from parlerproject_spark.functions.text import tokenize
from parlerproject_spark.operators.stats import _top_k

# Marker words per language for the n-gram-heuristic language ID.
# Deterministic and tiny by design: language ID over 100 TB must stay
# JVM-side, so the heuristic is pure Column arithmetic, not a model.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is"],
    "es": ["el", "la", "los", "que"],
    "de": ["der", "die", "und", "ist"],
    "fr": ["le", "les", "des", "est"],
    "zh": ["de", "shi", "le", "zai"],
}


def doc_frequency(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
                  min_df: int = 2, vocab_size: int = 5000) -> DataFrame:
    """Vocabulary with document frequency.

    Reference: CountVectorizer(min_df=2, max_features=5000)
    (code/bertopicTest.py:45-50). explode → per-term distinct-doc
    count (map-side partial agg applies) → floor filter → top-k by
    (df desc, term asc) so the cut is deterministic.
    Columns: term, df.
    """
    terms = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokenize(text_col))).alias("term"),
    )
    counts = terms.groupBy("term").agg(F.count("doc_id").alias("df"))
    return (counts.filter(F.col("df") >= min_df)
            .orderBy(F.col("df").desc(), F.col("term").asc())
            .limit(vocab_size))


def term_counts(docs: DataFrame, *, group_col: str, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Per-(group, term) token occurrence counts — the contingency
    table both c-TF-IDF and per-topic word lists are built from.
    Columns: <group_col>, term, tf."""
    return (docs.select(F.col(group_col), F.explode(tokenize(text_col)).alias("term"))
            .groupBy(group_col, "term")
            .agg(F.count("*").alias("tf")))


def topic_terms(docs: DataFrame, *, topic_col: str, id_col: str = "doc_id",
                text_col: str = "text", top_n: int = 10) -> DataFrame:
    """c-TF-IDF per-topic term relevance (reference:
    code/bertopicTest.py:94-100 surfaces (word, score) per topic).

    score(t, topic) = tf_topic(t) * ln(1 + A / df_all(t)) where A is
    the mean topic token mass — the class-based TF-IDF formulation
    BERTopic uses, computed as two hash aggregations plus a window
    top-n. Columns: <topic_col>, term, score, rn.

    The (topic, term, tf) table feeds THREE consumers (df totals,
    mean topic mass, the scored join) — without a stage boundary the
    whole tokenize cascade re-runs per consumer (r14 plan audit: 12
    scans / 12 exchanges at sf0.1). It is the c-TF-IDF model table
    (topics × vocab — corpus-reduced by construction), so it is
    materialized once behind a lazy localCheckpoint (the
    rag_pipeline_docs stage-boundary idiom; guide §5) and every
    consumer reads the materialized rows. All downstream aggregates
    are exact integer sums until the final round(·, 6), so the
    boundary cannot move a value.
    """
    tf = term_counts(docs, group_col=topic_col, id_col=id_col,
                     text_col=text_col).localCheckpoint(eager=False)
    df_all = tf.groupBy("term").agg(F.sum("tf").alias("term_total"))
    avg_mass = tf.groupBy(topic_col).agg(F.sum("tf").alias("topic_mass")) \
                 .agg(F.avg("topic_mass").alias("a")).select("a")
    scored = (tf.join(df_all, "term")
                .crossJoin(F.broadcast(avg_mass))
                .withColumn("score", F.round(F.col("tf") * F.log(F.lit(1.0) + F.col("a") / F.col("term_total")), 6)))
    w = Window.partitionBy(topic_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (scored.withColumn("rn", F.row_number().over(w).cast("long"))
            .filter(F.col("rn") <= top_n)
            .select(topic_col, "term", "score", "rn"))


#: Unicode script classes for the script-aware gate. Literal BMP
#: ranges (not \p{script=...}) so the same pattern string runs in
#: Java regex (Spark) and RE2 (DuckDB oracle) unchanged.
_HAN = "[一-鿿]"
_KANA = "[぀-ヿ]"
_HANGUL = "[가-힣]"

#: share of CJK-script characters above which marker voting is
#: skipped — CJK text tokenizes to nothing under [^a-z0-9]+ and
#: would otherwise collapse to 'und'.
CJK_GATE = 0.15


def language_id(docs: DataFrame, *, text_col: str = "text",
                script_aware: bool = False) -> DataFrame:
    """Heuristic language ID → adds `lang_pred`. Pure Column
    arithmetic either way — language ID over 100 TB must stay
    JVM-side, embarrassingly parallel, zero shuffle.

    Marker voting: per-language marker hit counts via array_intersect
    on the token set, argmax via greatest + chained when; 'und' when
    no marker hits.

    script_aware=True adds a script-class gate BEFORE voting: the
    tokenizer splits on [^a-z0-9]+, so genuine CJK text produces no
    tokens and marker voting alone returns 'und' (and the romanized
    'zh' pinyin markers can false-positive Romance/Germanic text).
    The gate counts Han / Kana / Hangul code points via
    length-minus-stripped-length; when their share exceeds CJK_GATE
    the prediction is 'ja' (any kana), 'ko' (hangul > han), else
    'zh', and marker voting — now restricted to Latin-script
    languages — only runs below the gate.
    """
    voting_langs = (
        {k: v for k, v in _LANG_MARKERS.items() if k != "zh"}
        if script_aware else _LANG_MARKERS)
    toks = F.array_distinct(tokenize(text_col))
    scores = {lang: F.size(F.array_intersect(
                  toks, literal(markers, "array<string>")))
              for lang, markers in voting_langs.items()}
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # Deterministic priority: iterate in fixed key order; first max wins.
    for lang in reversed(list(voting_langs)):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best <= 0, F.lit("und")).otherwise(pred)
    if script_aware:
        t = F.col(text_col)
        def n_class(cls: str):
            return F.length(t) - F.length(F.regexp_replace(t, cls, ""))
        n_han, n_kana, n_hangul = n_class(_HAN), n_class(_KANA), n_class(_HANGUL)
        cjk_pred = (F.when(n_kana > 0, F.lit("ja"))
                    .when(n_hangul > n_han, F.lit("ko"))
                    .otherwise(F.lit("zh")))
        share = (n_han + n_kana + n_hangul) / F.greatest(F.length(t), F.lit(1))
        pred = F.when(share >= CJK_GATE, cjk_pred).otherwise(pred)
    return docs.withColumn("lang_pred", pred)


def repetition_ratio(docs: DataFrame, *, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document trigram repetition ratio — the standard
    boilerplate/spam signal in training-data quality filters
    (1 - distinct_trigrams/total_trigrams; 0 = no repetition).

    Pure array expressions inside the scan stage: no explode, no
    shuffle, embarrassingly parallel at any scale.
    Columns: doc_id, rep_ratio.
    """
    toked = docs.select(F.col(id_col).alias("doc_id"),
                        tokenize(text_col).alias("toks"))
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 3),
        lambda i: F.array_join(F.slice(F.col("toks"), i + 1, 3), " "))
    g = toked.filter(F.size("toks") >= 3).select("doc_id", grams.alias("g"))
    rep = F.round(1.0 - F.size(F.array_distinct("g")) / F.size("g"), 6)
    return g.select("doc_id", rep.alias("rep_ratio"))


def type_token_ratio(docs: DataFrame, *, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document lexical diversity (distinct tokens / tokens) —
    low TTR flags repetitive machine-generated text. Zero-shuffle
    array expressions. Columns: doc_id, ttr."""
    toked = docs.select(F.col(id_col).alias("doc_id"),
                        tokenize(text_col).alias("toks"))
    ttr = F.round(F.size(F.array_distinct("toks")) / F.size("toks"), 6)
    return toked.filter(F.size("toks") > 0).select("doc_id", ttr.alias("ttr"))


def token_entropy(docs: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document unigram token entropy — the information-density
    quality signal complementing TTR and repetition_ratio: a doc of
    n tokens with per-type counts c has H = Σ (c/n)·ln(n/c); near-0
    entropy flags the pathological repeats (keyword stuffing, log
    spew, one-token floods) that slip past band filters, while
    natural prose sits near ln(distinct types). Deterministic and
    engine-exact in ordering terms: the sum is over DISTINCT types
    in first-occurrence order on both engines, and each term is a
    ratio of within-doc INTEGER counts, so cross-engine float drift
    is one rounding away (round 6).

    Zero-shuffle array algebra inside the scan stage (the
    repetition_ratio pattern): array_distinct for the types, one
    transform counting occurrences per type (O(types·n) per row —
    the right trade while types·n ≪ shuffle cost; an exploded
    groupBy shape takes over for book-length docs), one aggregate
    fold. Embarrassingly parallel at any scale.
    Columns: doc_id, n_toks, entropy (round 6).
    """
    toked = docs.select(F.col(id_col).alias("doc_id"),
                        tokenize(text_col).alias("toks"))
    toked = toked.filter(F.size("toks") > 0)
    n = F.size("toks").cast("double")
    counts = F.transform(
        F.array_distinct("toks"),
        lambda t: F.size(F.filter(F.col("toks"), lambda x: x == t))
        .cast("double"))
    h = F.aggregate(counts, F.lit(0.0),
                    lambda acc, c: acc + (c / n) * F.log(n / c))
    return toked.select("doc_id",
                        F.size("toks").cast("long").alias("n_toks"),
                        F.round(h, 6).alias("entropy"))


def line_dedup(docs: DataFrame, *, id_col: str = "doc_id",
               text_col: str = "text",
               max_line_df: int = 2) -> DataFrame:
    """Line-level corpus dedup (the RefinedWeb/Falcon boilerplate
    pass): a LINE that appears in more than `max_line_df` documents
    is template mass (nav bars, footers, subscribe prompts) and is
    dropped from every document; unique/rare lines survive in their
    original order.

    Plan shape: split+posexplode is a narrow map; line document-
    frequency is a window over ONE exchange on the line hash (md5,
    so the oracle replays it — and at 100 TB hashing bounds shuffle
    width to 32 bytes/line instead of full line text... the line
    itself still rides the row for reassembly); reassembly is a
    groupBy on the id — a second exchange. Two shuffles total,
    both keyed well. Columns: <id_col>, clean_text, n_lines_kept.
    """
    lines = (docs.select(F.col(id_col).alias("doc_id"),
                         F.posexplode(F.split(F.col(text_col), "\n"))
                         .alias("pos", "line"))
             .filter(F.length(F.trim("line")) > 0))
    keyed = lines.repartition(F.md5("line"))
    # distinct docs per line, as a window over the one exchange —
    # count(distinct) isn't a window function, so: max 1-per-doc flag
    # via dense_rank over doc_id within the line
    df_w = Window.partitionBy(F.md5("line"))
    per_doc = (keyed
               .withColumn("__docrank", F.dense_rank().over(
                   Window.partitionBy(F.md5("line")).orderBy("doc_id")))
               .withColumn("__line_df", F.max("__docrank").over(df_w)))
    kept = per_doc.filter(F.col("__line_df") <= max_line_df)
    return (kept.groupBy("doc_id")
            .agg(F.array_join(
                    F.transform(F.array_sort(F.collect_list(
                        F.struct("pos", "line"))), lambda s: s["line"]),
                    "\n").alias("clean_text"),
                 F.count("*").cast("long").alias("n_lines_kept"))
            .withColumnRenamed("doc_id", id_col))


# Rolling-hash fingerprinting (winnowing) ---------------------------------

#: modulus for the polynomial rolling hash — 2^31-1, matches
#: functions.text.stable_hash31 so fingerprints fit an int domain the
#: DuckDB oracle reproduces exactly.
WINNOW_MOD = 2147483647


def ngram_novelty(docs: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the share of a document's
    DISTINCT n-gram shingles that occur in no other document — the
    memorization/boilerplate axis pipelines rank on (novelty → 0
    means the text is assembled from corpus-common phrases; → 1
    means genuinely fresh content). The complement of the near-dup
    signal: n-gram Jaccard asks "which pair shares grams", this asks
    "how much of THIS doc is shared at all".

    Shape: dedup.shingles (distinct gram hashes per doc), one
    exchange on the gram key where a window counts the gram's
    DISTINCT-document frequency in place (the capped_shingles
    pattern — a groupBy+join-back would re-run the tokenize cascade
    per branch), then one doc-keyed aggregate. Novel = document
    frequency exactly 1. Docs with fewer than n tokens have no
    shingles and are absent by definition.

    Columns: <id_col>, n_grams, n_novel, novel_share (round 6).
    """
    from parlerproject_spark.operators.dedup import shingles

    sh = (shingles(docs, id_col=id_col, text_col=text_col, n=n)
          .repartition("sh"))
    df_w = F.count("*").over(Window.partitionBy("sh"))
    return (sh.withColumn("df", df_w)
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_grams"),
                 F.sum((F.col("df") == 1).cast("long")).alias("n_novel"))
            .select(F.col("doc_id").alias(id_col), "n_grams", "n_novel",
                    F.round(F.col("n_novel") / F.col("n_grams"), 6)
                    .alias("novel_share")))


def _winnow_norm(text_col: str):
    """ASCII-printable, whitespace-collapsed, lowercased text — the
    canonical form both engines hash (non-ASCII stripped so Spark's
    ascii() and DuckDB's ord() agree). Whitespace collapses BEFORE
    the printable filter (tabs/newlines must become spaces, not
    vanish and glue words), then spaces re-collapse. The whitespace
    class is EXPLICIT ([ \\t\\n\\x0B\\f\\r]) rather than \\s: Java
    regex counts vertical tab as \\s while DuckDB's RE2 does not, so
    the shorthand makes fingerprints engine-dependent for texts
    containing \\x0B."""
    c = F.regexp_replace(F.col(text_col), "[ \t\n\x0B\f\r]+", " ")
    c = F.regexp_replace(c, "[^ -~]", "")
    return F.lower(F.trim(F.regexp_replace(c, " +", " ")))


def winnow_fingerprints(docs: DataFrame, *, k: int = 8, window: int = 4,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03) — the rolling-hash fingerprinting op of the
    training-data pipeline surface.

    Per document: polynomial hash (base 31 mod 2^31-1) of every
    char k-gram, then keep the minimum hash of each window of
    `window` consecutive k-grams; the distinct minima are the
    fingerprint set. Guarantee: any shared substring of length
    >= k + window - 1 yields at least one shared fingerprint.

    Plan shape: ZERO shuffles. A document's grams all live in its
    own row, so the algorithm is a pure map — scan → project →
    mapInPandas, no exchange anywhere, embarrassingly parallel at
    any scale. The per-doc step is numpy: the hash is an int64
    convolution (max code 127 × 31^7 × 8 ≈ 2.3e17 < 2^63, one mod
    at the end, congruent to the per-step-mod recurrence) and the
    window-min a stride-trick sliding view — measured 3.2× faster
    than nested array expressions at sf0.1 (per-character work is
    exactly where interpreted higher-order-function lambdas lose to
    vectorized Arrow batches). Hash-verified against the DuckDB
    oracle (rolling_fingerprints_docs).
    Columns: doc_id, fp.
    """
    import numpy as np
    import pandas as pd

    base = docs.select(F.col(id_col).alias("doc_id"),
                       _winnow_norm(text_col).alias("t")) \
        .filter(F.length("t") >= k + window - 1)
    id_type = base.schema["doc_id"].dataType.simpleString()
    pw = [31 ** (k - 1 - j) for j in range(k)]

    def per_doc(it):
        w_rev = np.array(pw[::-1], dtype=np.int64)
        for pdf in it:
            ids: list = []
            fps: list = []
            for doc_id, t in zip(pdf["doc_id"], pdf["t"]):
                codes = np.frombuffer(t.encode("ascii"),
                                      dtype=np.uint8).astype(np.int64)
                if len(codes) - k + 1 < window:
                    continue
                h = np.convolve(codes, w_rev, mode="valid") % WINNOW_MOD
                mins = np.lib.stride_tricks.sliding_window_view(
                    h, window).min(axis=1)
                u = np.unique(mins)
                ids.extend([doc_id] * len(u))
                fps.append(u)
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype),
                "fp": np.concatenate(fps) if fps
                      else np.array([], dtype=np.int64)})

    return base.mapInPandas(per_doc, f"doc_id {id_type}, fp long")


def fingerprint_overlap(docs: DataFrame, *, k: int = 8, window: int = 4,
                        threshold: float = 0.8, max_df: int = 128,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Near-dup pairs by winnowing-fingerprint containment
    (MOSS-style): |fp_a ∩ fp_b| / min(|fp_a|, |fp_b|) >= threshold,
    computed over fingerprints retained by the `max_df` hub cap.

    Inverted-index pair generation (never a cross join) — but an
    inverted index is only as good as its hub suppression: a
    boilerplate fingerprint shared by d documents contributes d²
    candidate pairs (measured: one hub fp in 77% of docs → 213M
    pairs at sf0.1). Fingerprints with document frequency > max_df
    carry no near-dup signal (they're template/common-phrase mass),
    so they are dropped BEFORE pair generation, exactly as
    production near-dup systems do; at 100 TB, set max_df relative
    to corpus size. This bounds candidate output to max_df × |fps|.

    The fingerprint index is repartitioned on fp BEFORE the df cap:
    winnowing itself is zero-shuffle, so without a barrier every
    consumer would recompute the whole hash cascade. The df cap is a
    WINDOW over that exchange, and dedup._persisted_pairs'
    posting-list groupBy(fp) rides the SAME fp distribution — the full
    posting table crosses exactly TWO full-width exchanges (spread +
    fp), where the r5 ride-along formulation ping-ponged it fp →
    doc_id → fp (three) just to carry each doc's fingerprint count on
    every pair row. The persisted lists (see _persisted_pairs for
    their lifetime) were measured 1.5× faster at sf0.1; at 100 TB the
    persist is what guarantees the scan + hash cascade runs once.
    Columns: id_a, id_b, containment.
    """
    from parlerproject_spark.operators.dedup import _persisted_pairs
    from parlerproject_spark.operators.layout import spread_input

    # The per-doc hash cascade is compute-bound: spread a
    # few-split scan across the cluster first (no-op at scale).
    raw = winnow_fingerprints(spread_input(docs), k=k, window=window,
                              id_col=id_col, text_col=text_col).repartition("fp")
    capped = (raw.withColumn("df", F.count("*").over(Window.partitionBy("fp")))
              .filter(F.col("df") <= max_df))
    cont = F.round(F.col("n_common") / F.least("n_a", "n_b"), 6)
    return (_persisted_pairs(capped, "fp")
            .withColumn("containment", cont)
            .filter(F.col("containment") >= threshold)
            .select("id_a", "id_b", "containment"))


# Bigram language-model quality scoring -----------------------------------

def lm_score(docs: DataFrame, *, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Corpus-trained bigram LM score per document — the perplexity
    quality filter (CCNet/Gopher-style, with the corpus itself as
    the LM training set instead of an external KenLM): score =
    mean over the doc's bigrams of ln P(w2|w1), with add-one
    smoothing P = (c(w1,w2)+1) / (c(w1)+V).  Low scores flag
    unnatural token sequences (boilerplate, spam, mojibake).

    Plan shape: tokenization and n-gram construction are narrow maps
    (`transform` over the token array — no Python); the model is ONE
    count aggregate over a fused unigram+bigram key stream (unigrams
    ride as (w, NULL) rows — token values are never null, so NULL is
    a free order marker), materialized once and consumed by the
    unigram table, the bigram table, AND the vocabulary scalar — the
    whole TRAIN side touches the corpus exactly once; the bigram
    count table is the model itself, so materializing it is the
    train artifact a 100 TB run writes anyway (the logreg/pipeline
    lineage-truncation contract, not the §7 small-table persist).
    Scoring joins the doc's bigrams to the model on the
    bigram/unigram keys — shuffle joins keyed on the token, NOT
    broadcasts, because at 100 TB the model tables are corpus-scale.
    V rides in as a one-row broadcast scalar. Docs with < 2 tokens
    have no bigrams and are excluded (no P(w2|w1) is defined).
    Columns: <id_col>, n_bigrams, lm_logp (round 6).
    """
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       tokenize(text_col).alias("ts"))
    # one training pass: unigram keys as (w, NULL), bigram keys as
    # (w1, w2), exploded from the same array projection —
    # slice(.., greatest(size-1, 0)) keeps <2-token docs alive as
    # unigram-only rows without a CASE over the struct type
    grams = F.explode(F.concat(
        F.expr("transform(ts, t -> "
               "struct(t AS w1, CAST(NULL AS STRING) AS w2))"),
        F.expr("transform(slice(ts, 1, greatest(size(ts) - 1, 0)), "
               "(w, i) -> struct(w AS w1, ts[i + 1] AS w2))")))
    model = (toks.select(grams.alias("g"))
             .select("g.w1", "g.w2")
             .groupBy("w1", "w2").agg(F.count("*").alias("c"))
             .persist())
    uni = (model.filter(F.col("w2").isNull())
           .select(F.col("w1").alias("w"), F.col("c").alias("c1")))
    bgc = (model.filter(F.col("w2").isNotNull())
           .select("w1", "w2", F.col("c").alias("c2")))
    vocab = uni.agg(F.count("*").cast("double").alias("V"))
    big = (toks.filter(F.size("ts") >= 2)
           .select("doc_id",
                   F.explode(F.expr(
                       "transform(slice(ts, 1, size(ts) - 1), "
                       "(w, i) -> struct(w AS w1, ts[i + 1] AS w2))"))
                   .alias("bg"))
           .select("doc_id", "bg.w1", "bg.w2"))
    scored = (big
              .join(bgc, ["w1", "w2"])
              .join(uni.withColumnRenamed("w", "w1"), "w1")
              .crossJoin(F.broadcast(vocab))
              .select("doc_id",
                      F.log((F.col("c2") + 1.0) /
                            (F.col("c1") + F.col("V"))).alias("lp")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_bigrams"),
                 F.round(F.avg("lp"), 6).alias("lm_logp"))
            .withColumnRenamed("doc_id", id_col))


def vocab_coverage(docs: DataFrame, *, text_col: str = "text",
                   top_k: int = 200) -> DataFrame:
    """Top-k vocabulary with cumulative corpus coverage — the
    tokenizer-training precursor: how much of the token stream the
    k most frequent types explain. Token counts are one exploded
    groupBy (map-side combine); the total is a broadcast scalar; the
    top-k cut is TakeOrdered (never a global sort); the cumulative
    share is a window over ONLY the k surviving rows, so the single-
    partition window is bounded by k, not the corpus.
    Columns: term, tf, rank, cum_share (round 6).
    """
    tf = (docs.select(F.explode(tokenize(text_col)).alias("term"))
          .groupBy("term").agg(F.count("*").alias("tf")))
    total = tf.agg(F.sum("tf").cast("double").alias("total"))
    top = _top_k(tf, [F.col("tf").desc(), F.col("term").asc()], top_k)
    w = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)
    return (top.crossJoin(F.broadcast(total))
            .select("term", "tf", "rank",
                    F.round(F.sum("tf").over(w) / F.col("total"), 6)
                    .alias("cum_share")))


def chunk_documents(docs: DataFrame, *, id_col: str = "doc_id",
                    text_col: str = "text", chunk_size: int = 64,
                    stride: int = 48) -> DataFrame:
    """Overlapping fixed-size token chunking — the RAG-indexing /
    pretraining-example construction step: whitespace tokens are cut
    into windows of `chunk_size` starting every `stride` tokens
    (overlap = chunk_size - stride). Tail chunks may be short; a
    chunk starts only while its first token exists, so a doc with n
    tokens yields ceil(max(n - overlap, 1) / stride) chunks.

    Pure narrow map — split, sequence, explode, slice — zero
    shuffles, zero Python; chunking 100 TB is embarrassingly
    parallel and this plan keeps it that way.
    Columns: <id_col>, chunk_no, n_toks, chunk_text.
    """
    ws = F.filter(F.split(F.col(text_col), r"\s+"),
                  lambda t: F.length(t) > 0)
    toked = (docs.select(F.col(id_col).alias("doc_id"), ws.alias("ts"))
             .filter(F.size("ts") > 0))
    starts = F.sequence(F.lit(0), F.size("ts") - 1, F.lit(stride))
    chunk = F.slice("ts", F.col("start") + 1, chunk_size)
    return (toked
            .select("doc_id", F.explode(starts).alias("start"), "ts")
            .select(F.col("doc_id").alias(id_col),
                    (F.col("start") / stride).cast("long").alias("chunk_no"),
                    F.size(chunk).cast("long").alias("n_toks"),
                    F.array_join(chunk, " ").alias("chunk_text")))


def corpus_zipf_stats(docs: DataFrame, *,
                      text_col: str = "text") -> DataFrame:
    """One-row corpus health diagnostic: Zipf slope + unigram
    entropy + vocabulary mass.

    Natural-language corpora follow Zipf's law (log-frequency ≈
    slope · log-rank + c with slope ≈ -1); machine-generated or
    template-heavy corpora bend it, so the fitted slope is a cheap
    corpus-level quality gate (used exactly this way in pretraining
    data audits). Unigram entropy is the companion diversity signal
    — boilerplate corpora have low entropy for their size.

    Plan: ONE exploded token count (map-side partial agg), a top-k
    cut (TakeOrdered, never a global sort) for the slope fit — the
    fit uses the top-1000 head because Zipf linearity holds in
    the head while the low-frequency tail is a ties staircase — and
    a single-row regr_slope/entropy aggregate over bounded (k) and
    corpus-vocab-sized inputs respectively. Everything downstream of
    the token count operates on vocabulary-scale tables (≪ corpus
    scale at 100 TB).

    Columns: vocab_size, total_tokens, zipf_slope (round 6),
    unigram_entropy (round 6).
    """
    from parlerproject_spark.functions.text import tokenize

    tf = (docs.select(F.explode(tokenize(text_col)).alias("term"))
          .groupBy("term").agg(F.count("*").alias("tf"))
          .localCheckpoint(eager=True))
    totals = tf.agg(F.count("*").cast("long").alias("vocab_size"),
                    F.sum("tf").cast("long").alias("total_tokens"))
    head = _top_k(tf, [F.col("tf").desc(), F.col("term").asc()], 1000)
    slope = head.agg(F.round(
        F.regr_slope(F.log("tf"), F.log("rank")), 6).alias("zipf_slope"))
    ent = (tf.crossJoin(F.broadcast(
        totals.select(F.col("total_tokens").cast("double").alias("tt"))))
        .select((F.col("tf") / F.col("tt")).alias("p"))
        .agg(F.round(-F.sum(F.col("p") * F.log("p")), 6)
             .alias("unigram_entropy")))
    return (totals.crossJoin(F.broadcast(slope))
            .crossJoin(F.broadcast(ent)))


def stupid_backoff_score(docs: DataFrame, train: DataFrame, *,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Trigram stupid-backoff LM score per document, trained on a
    separate corpus split (Brants et al. 2007 — the LM Google used
    at web scale precisely BECAUSE it's count-based and
    embarrassingly distributable; no discounting normalization, so
    the "probabilities" are scores S, not a distribution):

        S(w3|w1w2) = c(w1w2w3)/c(w1w2)        if trigram seen
                   = α · c(w2w3)/c(w2)         elif bigram seen (α = 0.4)
                   = α² · (c(w3)+1)/(N+V)      else (add-one floor so
                                                unseen words stay
                                                finite — documented
                                                divergence from the
                                                paper's c(w3)/N)

    Because the model trains on a DIFFERENT split than it scores,
    the backoff paths actually execute (training-on-self makes every
    trigram seen, hiding the join logic). All three count tables
    (plus the N/V scalar) derive from ONE keyed aggregation over a
    fused uni+bi+trigram key stream (lower orders ride with NULL
    tail keys — token values are never null, so NULL is a free order
    marker), so the TRAIN split is scanned exactly once and the
    materialized count table is the model artifact itself (the
    lineage-truncation contract, as in lm_score). Scoring is left
    joins from the doc trigram stream to the count tables — shuffle
    joins keyed on the n-gram (model tables are corpus-scale at
    100 TB, never broadcast); N and V ride one broadcast scalar row.

    Columns: <id_col>, n_trigrams, sb_logp (round 6).
    """
    from parlerproject_spark.functions.text import tokenize

    tr_toks = train.select(tokenize(text_col).alias("ts"))
    grams = F.explode(F.concat(
        F.expr("transform(ts, t -> struct(t AS w1, "
               "CAST(NULL AS STRING) AS w2, CAST(NULL AS STRING) AS w3))"),
        F.expr("transform(slice(ts, 1, greatest(size(ts) - 1, 0)), "
               "(w, i) -> struct(w AS w1, ts[i + 1] AS w2, "
               "CAST(NULL AS STRING) AS w3))"),
        F.expr("transform(slice(ts, 1, greatest(size(ts) - 2, 0)), "
               "(w, i) -> struct(w AS w1, ts[i + 1] AS w2, "
               "ts[i + 2] AS w3))")))
    model = (tr_toks.select(grams.alias("g"))
             .select("g.w1", "g.w2", "g.w3")
             .groupBy("w1", "w2", "w3").agg(F.count("*").alias("c"))
             .persist())
    uni = (model.filter(F.col("w2").isNull())
           .select(F.col("w1").alias("w"), F.col("c").alias("c1")))
    big = (model.filter(F.col("w2").isNotNull() & F.col("w3").isNull())
           .select("w1", "w2", F.col("c").alias("c2")))
    tri = (model.filter(F.col("w3").isNotNull())
           .select("w1", "w2", "w3", F.col("c").alias("c3")))
    scal = uni.agg(F.sum("c1").cast("double").alias("N"),
                   F.count("*").cast("double").alias("V"))

    dt = (docs.select(F.col(id_col).alias("doc_id"),
                      tokenize(text_col).alias("ts"))
          .filter(F.size("ts") >= 3)
          .select("doc_id", F.explode(F.expr(
              "transform(slice(ts, 1, size(ts) - 2), "
              "(w, i) -> struct(w AS w1, ts[i + 1] AS w2, "
              "ts[i + 2] AS w3))")).alias("g"))
          .select("doc_id", "g.w1", "g.w2", "g.w3"))
    scored = (dt
              .join(tri, ["w1", "w2", "w3"], "left")
              .join(big, ["w1", "w2"], "left")
              .join(big.select(F.col("w1").alias("w2"),
                               F.col("w2").alias("w3"),
                               F.col("c2").alias("c23")),
                    ["w2", "w3"], "left")
              .join(uni.select(F.col("w").alias("w2"),
                               F.col("c1").alias("c1w2")), ["w2"], "left")
              .join(uni.select(F.col("w").alias("w3"),
                               F.col("c1").alias("c1w3")), ["w3"], "left")
              .crossJoin(F.broadcast(scal))
              .select("doc_id", F.log(
                  F.when(F.col("c3").isNotNull(),
                         F.col("c3") / F.col("c2"))
                  .when(F.col("c23").isNotNull(),
                        0.4 * F.col("c23") / F.col("c1w2"))
                  .otherwise(0.4 * 0.4
                             * (F.coalesce(F.col("c1w3"), F.lit(0)) + 1.0)
                             / (F.col("N") + F.col("V")))).alias("lp")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_trigrams"),
                 F.round(F.avg("lp"), 6).alias("sb_logp"))
            .withColumnRenamed("doc_id", id_col))


def cooccurrence_edges(docs: DataFrame, *, text_col: str = "text",
                       window: int = 2, min_count: int = 2) -> DataFrame:
    """Undirected word co-occurrence graph: an edge (a, b, w) for
    every unordered token pair appearing within `window` positions
    in a document, weighted by corpus-wide co-occurrence count.

    Pair generation is a narrow in-array expression (one transform
    per offset 1..window, the trigram-slice pattern — no self-join
    on position), so the only exchange is the final (a, b) count
    aggregation with map-side partial combine. Tokens shorter than
    3 characters are dropped BEFORE pairing (the cheap deterministic
    stop-word surrogate) and edges rarer than `min_count` are cut —
    both bound the graph: vocabulary-scale nodes, co-occurrence-
    support edges, regardless of corpus size.
    Columns: a, b, w.
    """
    from parlerproject_spark.functions.text import tokenize

    toks = docs.select(
        F.filter(tokenize(text_col),
                 lambda t: F.length(t) >= 3).alias("ts"))
    pair_cols = []
    for off in range(1, window + 1):
        pair_cols.append(F.expr(
            f"transform(slice(ts, 1, greatest(size(ts) - {off}, 0)), "
            f"(t, i) -> struct(least(t, ts[i + {off}]) AS a, "
            f"greatest(t, ts[i + {off}]) AS b))"))
    pairs = (toks.select(F.explode(F.flatten(F.array(*pair_cols)))
                         .alias("p"))
             .select("p.a", "p.b")
             .filter(F.col("a") != F.col("b")))
    return (pairs.groupBy("a", "b").agg(F.count("*").alias("w"))
            .filter(F.col("w") >= min_count))


def textrank_keywords(docs: DataFrame, *, text_col: str = "text",
                      window: int = 2, min_count: int = 2,
                      top_k: int = 25) -> DataFrame:
    """Corpus-level TextRank keywords (Mihalcea & Tarau 2004):
    weighted PageRank over the word co-occurrence graph, top-k terms
    by rank.

    Composition, not new machinery: cooccurrence_edges builds the
    bounded word graph, graph.pagerank(weight_col="w") runs the
    fixed-iteration weighted rank (3 iterations, damping 0.85; each
    undirected edge enters both directions, so the random walk is
    symmetric), and the cut is a
    TakeOrdered top-k with (rank, term) tie-break. Everything
    downstream of the token count is vocabulary-scale.
    Columns: term, rank (round 6).
    """
    from parlerproject_spark.operators.graph import pagerank

    und = cooccurrence_edges(docs, text_col=text_col, window=window,
                             min_count=min_count)
    sym = (und.select(F.col("a").alias("src"), F.col("b").alias("dst"),
                      "w")
           .unionAll(und.select(F.col("b").alias("src"),
                                F.col("a").alias("dst"), "w")))
    pr = pagerank(sym, weight_col="w")
    return (pr.select(F.col("node").alias("term"), "rank")
            .orderBy(F.col("rank").desc(), F.col("term").asc())
            .limit(top_k))


def fim_transform(docs: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Fill-in-the-middle transformation (Bavarian et al. 2022) in
    PSM order: split each document at two deterministic positions
    into (prefix, middle, suffix) and emit
    `<PRE>prefix<SUF>suffix<MID>middle` — the data-side transform
    that teaches a causal LM to infill. Split points are md5-derived
    from ('fim-v1', id) — reruns and the SQL oracle produce the identical
    corpus, the same determinism contract as every sampling op here.

    Pure Column algebra (two hash mods + three substrings + concat)
    inside the scan stage — zero shuffle, embarrassingly parallel at
    any scale. Columns: <id_col>, n_chars, cut_a, cut_b, fim_text.
    """
    L = F.length(F.col(text_col))
    h = F.md5(F.concat_ws(":", F.lit("fim-v1"),
                          F.col(id_col).cast("string")))
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint")
    a, b = h1 % (L + 1), h2 % (L + 1)
    lo, hi = F.least(a, b), F.greatest(a, b)
    # substring needs column start/len -> expr over aliased cut columns
    out = (docs
           .withColumn("__lo", lo.cast("int"))
           .withColumn("__hi", hi.cast("int")))
    prefix = F.expr(f"substring({text_col}, 1, __lo)")
    middle = F.expr(f"substring({text_col}, __lo + 1, __hi - __lo)")
    suffix = F.expr(f"substring({text_col}, __hi + 1, "
                    f"length({text_col}) - __hi)")
    return out.select(
        F.col(id_col), L.alias("n_chars"),
        F.col("__lo").cast("long").alias("cut_a"),
        F.col("__hi").cast("long").alias("cut_b"),
        F.concat(F.lit("<PRE>"), prefix, F.lit("<SUF>"), suffix,
                 F.lit("<MID>"), middle).alias("fim_text"))


def token_js_divergence(docs: DataFrame, *, group_col: str = "source",
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Per-group Jensen-Shannon divergence between each group's
    unigram token distribution and the corpus-wide distribution —
    the mixture diagnostic that tells a training pipeline which
    sources are lexically off-distribution (the readout behind
    mixture re-weighting and contamination triage; bounded in
    [0, ln 2], higher = further from the corpus).

    The KL(Q||M) half needs a sum over the ENTIRE vocabulary — but
    tokens absent from a group contribute q·ln(q / (q/2)) = q·ln 2
    each, so the out-of-group mass collapses to the closed form
    ln 2 · (1 − Σ_{t∈group} q_t). That turns the computation into ONE
    (group, token) count aggregation joined to the token-total table
    on the token key (a keyed shuffle join — the vocabulary is
    corpus-scale, never broadcast) plus one per-group aggregation:
    no full-outer join against the vocabulary, no per-group rescan.

    Columns: <group_col>, n_tokens, js_divergence (round 6).
    """
    from parlerproject_spark.functions.text import tokenize

    tok = docs.select(F.col(group_col).alias("g"),
                      F.explode(tokenize(text_col)).alias("t"))
    gt = tok.groupBy("g", "t").agg(F.count(F.lit(1)).alias("c_g"))
    tot_t = gt.groupBy("t").agg(F.sum("c_g").alias("c"))
    tot_g = gt.groupBy("g").agg(F.sum("c_g").alias("n_g"))
    n = tot_t.agg(F.sum("c").alias("n"))
    j = (gt.join(tot_t, "t")
         .join(tot_g, "g")
         .crossJoin(F.broadcast(n)))
    p = F.col("c_g") / F.col("n_g")          # in-group prob
    q = F.col("c") / F.col("n")              # corpus prob
    m = (p + q) / 2.0
    contrib = 0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)
    per_g = (j.groupBy("g")
             .agg(F.sum(contrib).alias("__in"),
                  F.sum(q).alias("__qmass"),
                  F.first("n_g").alias("n_tokens")))
    ln2 = 0.6931471805599453
    return per_g.select(
        F.col("g").alias(group_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.col("__in") + 0.5 * ln2 * (1.0 - F.col("__qmass")), 6)
        .alias("js_divergence"))


def group_oov_rates(docs: DataFrame, *, vocab_size: int = 1000,
                    group_col: str = "source",
                    text_col: str = "text") -> DataFrame:
    """Per-group vocabulary coverage vs the corpus's top-V token
    vocabulary — the tokenizer-QA report: how much of each source
    would a V-word vocab leave out-of-vocabulary, by occurrence mass
    and by distinct types.

    The vocabulary is the top `vocab_size` corpus tokens by count
    (token-asc tiebreak, fully deterministic). Top-V rides
    orderBy+limit → TakeOrderedAndProject (parallel partial top-k,
    no global sort materialized), then broadcasts into the
    (group, token) count table — the corpus shuffles once for the
    token counts and once for the (group, token) counts, both
    map-side combined; nothing corpus-scale ever joins or sorts
    globally.

    Columns: <group_col>, n_tokens, n_types, oov_token_rate,
    oov_type_rate (round 6; rate of occurrences / distinct tokens
    NOT covered by the vocab).
    """
    tok = docs.select(F.col(group_col).alias("g"),
                      F.explode(tokenize(text_col)).alias("t"))
    vocab = (tok.groupBy("t").agg(F.count("*").alias("__c"))
             .orderBy(F.col("__c").desc(), F.col("t").asc())
             .limit(vocab_size)
             .select("t", F.lit(1).alias("__in_v")))
    gt = tok.groupBy("g", "t").agg(F.count("*").alias("c"))
    cov = gt.join(F.broadcast(vocab), "t", "left")
    in_v = F.col("__in_v").isNotNull().cast("long")
    return (cov.groupBy("g")
            .agg(F.sum("c").cast("long").alias("n_tokens"),
                 F.count("*").cast("long").alias("n_types"),
                 F.round(1.0 - F.sum(F.col("c") * in_v) / F.sum("c"), 6)
                 .alias("oov_token_rate"),
                 F.round(1.0 - F.sum(in_v) / F.count("*"), 6)
                 .alias("oov_type_rate"))
            .withColumnRenamed("g", group_col))


def distinct_ngram_diversity(docs: DataFrame, *,
                             group_col: str = "source",
                             text_col: str = "text",
                             max_n: int = 2) -> DataFrame:
    """Distinct-n diversity (Li et al. 2016's distinct-1/distinct-2):
    per group, the ratio of UNIQUE n-grams to total n-grams — the
    standard degeneration/mode-collapse readout for generated or
    scraped text (a source whose distinct-2 craters is templated
    boilerplate even when its docs pass length gates).

    One token explode (spread first) feeding a (group, n, gram)
    count → two group-keyed aggregations. Columns: <group_col>,
    n (gram order), n_total, n_unique, distinct_ratio (round 6).
    """
    from parlerproject_spark.operators.layout import spread_input

    ws = F.filter(F.split(F.col(text_col), r"\s+"),
                  lambda t: F.length(t) > 0)
    base = spread_input(
        docs.select(F.col(group_col).alias("__g"), ws.alias("__ws")))
    from parlerproject_spark.functions.text import word_ngrams

    parts = []
    for n in range(1, max_n + 1):
        parts.append(base.select(
            "__g", F.lit(n).alias("__n"),
            F.explode(word_ngrams(F.col("__ws"), n)).alias("__gr")))
    allg = parts[0]
    for p in parts[1:]:
        allg = allg.unionByName(p)
    cnt = (allg.groupBy("__g", "__n", "__gr")
           .agg(F.count(F.lit(1)).alias("__c")))
    return (cnt.groupBy("__g", "__n")
            .agg(F.sum("__c").cast("long").alias("n_total"),
                 F.count(F.lit(1)).cast("long").alias("n_unique"))
            .select(F.col("__g").alias(group_col),
                    F.col("__n").cast("long").alias("n"),
                    "n_total", "n_unique",
                    F.round(F.col("n_unique") / F.col("n_total"), 6)
                    .alias("distinct_ratio")))


def heaps_law_fit(docs: DataFrame, *, group_col: str = "source",
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Heaps'-law vocabulary-growth fit per group: V(N) ≈ K·N^β,
    estimated by OLS on (ln N_i, ln V_i) over the group's doc-order
    growth curve — the corpus-health statistic next to Zipf: natural
    text grows vocabulary at β ≈ 0.4–0.6; β → 1 means unbounded
    novelty (noise/mojibake), β → 0 means templated text that has
    stopped contributing new types.

    Shape: per-doc distinct tokens → first-seen doc per (group,
    token) (one keyed min) → per-doc new-type counts → cumulative
    (V, N) under a group-PARTITIONED window ordered by doc id →
    one regr_* aggregation per group. Every window is partitioned;
    every join keyed. Docs with zero tokens contribute N only.

    Columns: <group_col>, n_points (curve points = docs with a
    positive cumulative token count), n_tokens, vocab, beta,
    k_factor (round 6; groups with <2 points fit no line → nulls).
    """
    from parlerproject_spark.operators.layout import spread_input

    ws = F.filter(F.split(F.col(text_col), r"\s+"),
                  lambda t: F.length(t) > 0)
    base = spread_input(docs.select(F.col(group_col).alias("__g"),
                                    F.col(id_col).alias("__d"),
                                    ws.alias("__ws")))
    toks = base.select("__g", "__d", F.size("__ws").alias("__nt"))
    tok = (base.select("__g", "__d", F.explode_outer("__ws").alias("__t"))
           .filter(F.col("__t").isNotNull())
           .groupBy("__g", "__d", "__t").agg(F.lit(1).alias("__one")))
    first = (tok.groupBy("__g", "__t")
             .agg(F.min("__d").alias("__fd")))
    new_types = (first.groupBy("__g", F.col("__fd").alias("__d"))
                 .agg(F.count(F.lit(1)).alias("__nv")))
    per_doc = (toks.join(new_types, ["__g", "__d"], "left")
               .select("__g", "__d", "__nt",
                       F.coalesce("__nv", F.lit(0)).alias("__nv")))
    w = (Window.partitionBy("__g").orderBy("__d")
         .rowsBetween(Window.unboundedPreceding, 0))
    curve = per_doc.select(
        "__g",
        F.sum("__nt").over(w).alias("__N"),
        F.sum("__nv").over(w).alias("__V"))
    pts = curve.filter((F.col("__N") > 0) & (F.col("__V") > 0)) \
        .select("__g", F.log("__N").alias("__x"), F.log("__V").alias("__y"),
                "__N", "__V")
    return (pts.groupBy("__g")
            .agg(F.count(F.lit(1)).cast("long").alias("n_points"),
                 F.max("__N").cast("long").alias("n_tokens"),
                 F.max("__V").cast("long").alias("vocab"),
                 F.round(F.regr_slope("__y", "__x"), 6).alias("beta"),
                 F.round(F.exp(F.regr_intercept("__y", "__x")), 6)
                 .alias("k_factor"))
            .withColumnRenamed("__g", group_col))


def sentence_chunks(docs: DataFrame, *, budget_tokens: int = 64,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Sentence-boundary RAG chunking — the retrieval-side splitter
    `chunk_documents`' fixed token stride cannot give: chunks grow
    sentence by sentence and CLOSE at the first sentence whose
    cumulative token count crosses the budget, so no retrieval unit
    starts or ends mid-sentence. Contract: sentence s belongs to
    chunk floor(cum_tokens_before_s / budget_tokens) — the
    cumulative-bucket formulation, which is windowless-recursion-free
    (a pure prefix sum) and therefore both distributed-cheap and
    SQL-replayable; a chunk may overshoot the budget by at most one
    sentence, the documented price of snapping to boundaries.
    Sentence segmentation is the engine's '. ' split (the
    sentence_split_udtf contract); sentence token counts use the
    whitespace tokenizer.

    Plan: split + explode is a narrow map; the prefix sum is a
    doc-partitioned window (never global); chunk assembly is ONE
    (doc, chunk)-keyed aggregation with an order-pinned string_agg.
    Columns: <id_col>, chunk_id, n_sentences, n_tokens, chunk_text.
    """
    from pyspark.sql.window import Window

    if budget_tokens < 1:
        raise ValueError("budget_tokens must be >= 1")
    parts = F.split(F.col(text_col), r"\. ")
    s = (docs.select(F.col(id_col).alias("__id"), parts.alias("__ps"))
         .select("__id", F.posexplode("__ps").alias("__no", "__raw"))
         .select("__id", (F.col("__no") + 1).alias("__no"),
                 F.trim("__raw").alias("__s"))
         .filter(F.col("__s") != ""))
    ntok = F.size(F.filter(F.split(F.col("__s"), r"\s+"),
                           lambda t: F.length(t) > 0))
    w = (Window.partitionBy("__id").orderBy("__no")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = (s.withColumn("__nt", ntok)
           .withColumn("__before",
                       F.coalesce(F.sum("__nt").over(w), F.lit(0))))
    chunked = cum.withColumn(
        "chunk_id", F.floor(F.col("__before") / budget_tokens)
        .cast("long"))
    agg = (chunked.groupBy(F.col("__id").alias(id_col), "chunk_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_sentences"),
                F.sum("__nt").cast("long").alias("n_tokens"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("__no", "__s"))),
                        lambda x: x["__s"]), ". ").alias("chunk_text")))
    return agg


def format_signals(docs: DataFrame, *, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document structural FORMAT signals + a code/prose router
    label — the pretraining-mixture router that decides which
    tokenizer / quality ruleset / mixture bucket a document enters
    (code-heavy corpora mis-score badly under prose heuristics like
    Gopher's brace filter, which rejects code wholesale instead of
    routing it):

      - indent_ratio: share of non-empty lines starting with a
        space/tab (indentation discipline — code, config, quoted
        reply blocks),
      - line_cv: coefficient of variation of non-empty line lengths
        (prose wraps at a ragged-but-similar width → low CV; code
        and tables swing between long and near-empty lines),
      - symbol_ratio: non-alphanumeric/space/newline chars per char,
      - digit_ratio: digits per char (tables, logs, telemetry),
      - punct_code: density of the bracket/operator family
        {}();=<>[] that natural prose barely uses,
      - code_score = 2·punct_code + symbol_ratio + indent_ratio/2
        (fixed weights, documented, deterministic), label = 'code'
        iff code_score >= 0.08 else 'prose'.

    Zero-shuffle array/regex algebra inside the scan stage — every
    signal is a ratio of within-doc INTEGER counts (plus one
    sqrt/mean pair over integer line lengths folded in document
    order), so the whole router is SQL-replayable to the digit.
    Documents with no non-empty line carry no line geometry and are
    excluded. Columns: <id_col>, n_lines, indent_ratio, line_cv,
    symbol_ratio, digit_ratio, code_score (all round 6), label.
    """
    t = F.col(text_col)
    lines = F.filter(F.split(t, "\n"), lambda l: F.length(l) > 0)
    base = docs.select(
        F.col(id_col).alias("doc_id"), t.alias("__t"),
        F.length(t).cast("double").alias("__nc"),
        lines.alias("__ls")).filter(
        (F.col("__nc") > 0) & (F.size("__ls") > 0))
    nl = F.size("__ls").cast("double")
    indent = (F.size(F.filter(
        F.col("__ls"),
        lambda l: F.substring(l, 1, 1).isin(" ", "\t"))) / nl)
    lens = F.transform(F.col("__ls"),
                       lambda l: F.length(l).cast("double"))
    mean = F.aggregate(lens, F.lit(0.0), lambda a, x: a + x) / nl
    var = F.aggregate(lens, F.lit(0.0),
                      lambda a, x: a + (x - mean) * (x - mean)) / nl
    line_cv = F.when(mean > 0, F.sqrt(var) / mean).otherwise(F.lit(0.0))
    nonsym = F.length(F.regexp_replace("__t", r"[A-Za-z0-9 \n]", ""))
    digits = F.length(F.regexp_replace("__t", r"[^0-9]", ""))
    codep = F.length(F.regexp_replace("__t", r"[^{}();=<>\[\]]", ""))
    symbol_ratio = nonsym / F.col("__nc")
    digit_ratio = digits / F.col("__nc")
    punct_code = codep / F.col("__nc")
    score = 2.0 * punct_code + symbol_ratio + indent / 2.0
    return base.select(
        F.col("doc_id").alias(id_col),
        F.size("__ls").cast("long").alias("n_lines"),
        F.round(indent, 6).alias("indent_ratio"),
        F.round(line_cv, 6).alias("line_cv"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(score, 6).alias("code_score"),
        F.when(score >= 0.08, F.lit("code"))
        .otherwise(F.lit("prose")).alias("label"))


def token_gini(docs: DataFrame, *, group_col: str = "source",
               id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Gini coefficient of per-document token mass within each group
    (round 13) — the corpus-balance readout mixture design needs
    beside raw token totals: two sources with equal token mass are
    NOT equal training data if one spreads it over a million docs
    and the other packs it into a thousand giants (dedup, packing,
    and per-doc quality gates all behave differently under
    concentration). G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n over the
    ascending per-group rank i (ties broken by id — Gini is
    order-invariant among equal values, so the tie-break only fixes
    determinism, not the statistic).

    Shape: one scan → one group-keyed exchange (rank window, the
    calibrate_scores contract: keyed sort, spill-safe, never
    global) → per-group aggregation. The rank·mass product takes
    the rank as DOUBLE first — at corpus scale i·x overflows int64
    (the r10 WordPiece bug class), and the oracle casts the same
    operand. Columns: <group_col>, n_docs, total_tokens, gini
    (round 6; null for an all-empty group).
    """
    from parlerproject_spark.functions.text import token_count
    base = docs.select(F.col(group_col).alias("g"),
                       F.col(id_col).alias("i"),
                       token_count(text_col).alias("x"))
    w = Window.partitionBy("g").orderBy("x", "i")
    ranked = base.withColumn(
        "ix", F.row_number().over(w).cast("double") * F.col("x"))
    return (ranked.groupBy("g")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("x").cast("long").alias("total_tokens"),
                 F.sum("ix").alias("__six"))
            .select(F.col("g").alias(group_col), "n_docs",
                    "total_tokens",
                    F.round(F.when(
                        F.col("total_tokens") > 0,
                        2.0 * F.col("__six")
                        / (F.col("n_docs") * F.col("total_tokens"))
                        - (F.col("n_docs") + 1.0) / F.col("n_docs")),
                        6).alias("gini")))
