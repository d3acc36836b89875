"""Ranked text retrieval and collocation mining.

Engine-added operators the reference's corpus tooling stops short
of: the reference builds per-topic term relevance with c-TF-IDF
(code/bertopicTest.py:53-54) but has no way to *query* the corpus.
`bm25_scores` is the standard Okapi BM25 ranked-retrieval pass over
the same explode → groupBy inverted index; `pmi_collocations` is the
classic PMI bigram-association miner (the phrase-vocabulary
precursor for tokenizer training).

Plan shapes are corpus-scale by construction: the inverted index is
one exploded aggregation with map-side combine; corpus statistics
(N, avgdl) ride as one-row broadcast scalars; the query-term cut is
a literal isin filter pushed below the aggregation; top-k results
are TakeOrderedAndProject, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parlerproject_spark.caching import literal_frame
from parlerproject_spark.functions.text import stable_hash31, tokenize
from parlerproject_spark.operators.stats import _top_k


# Okapi BM25 term-saturation and length-normalization constants.
_K1, _B = 1.2, 0.75


def _bm25_top_k(postings: DataFrame, stats: DataFrame,
                top_k: int) -> DataFrame:
    """Score, cut and rank — the one BM25 kernel behind bm25_scores
    and probe_text_index. `postings` carries the query terms' rows
    (doc_id, tf, dl, df); `stats` is the one-row (n_docs, avgdl)
    frame, broadcast. score(d) = Σ_t idf(t)·tf·(k1+1) /
    (tf + k1·(1−b+b·|d|/avgdl)), idf(t) = ln((N − df + 0.5)/(df + 0.5)
    + 1) (the Lucene form — always positive); the top-k cut is
    TakeOrderedAndProject, and the rank window runs over ≤top_k rows.
    Columns: doc_id, score (round 6), rank.
    """
    scored = (postings
              .crossJoin(F.broadcast(stats))
              .select("doc_id",
                      (F.log((F.col("n_docs") - F.col("df") + 0.5)
                             / (F.col("df") + 0.5) + 1.0)
                       * (F.col("tf") * (_K1 + 1.0))
                       / (F.col("tf") + _K1 * (1.0 - _B + _B * F.col("dl")
                                               / F.col("avgdl"))))
                      .alias("s")))
    return _top_k(scored.groupBy("doc_id")
                  .agg(F.round(F.sum("s"), 6).alias("score")),
                  [F.col("score").desc(), F.col("doc_id").asc()], top_k)


def _bm25_index(docs: DataFrame, terms: list[str] | None, *, id_col: str,
                text_col: str) -> tuple[DataFrame, DataFrame]:
    """The BM25 index — built the same way for bm25_scores and
    build_text_index: postings (doc_id, term, tf, dl) from ONE
    tokenize → explode → groupBy(doc_id, term) pass (map-side
    combine), and the one-row corpus stats (n_docs, avgdl). With
    `terms`, a literal isin filter sits below the postings aggregate,
    so only those terms' (doc, term) pairs are ever shuffled."""
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       tokenize(text_col).alias("ts"))
    stats = (toks.select(F.size("ts").alias("dl"))
             .agg(F.count("*").cast("double").alias("n_docs"),
                  F.avg("dl").alias("avgdl")))
    ex = toks.select("doc_id", F.size("ts").alias("dl"),
                     F.explode("ts").alias("term"))
    if terms is not None:
        ex = ex.filter(F.col("term").isin(terms))
    postings = (ex.groupBy("doc_id", "term")
                .agg(F.count("*").cast("double").alias("tf"),
                     F.first("dl").alias("dl")))
    return postings, stats


def bm25_scores(docs: DataFrame, query_terms: list[str], *,
                id_col: str = "doc_id", text_col: str = "text",
                top_k: int = 20) -> DataFrame:
    """Okapi BM25 ranked retrieval (k1 = 1.2, b = 0.75; see
    _bm25_top_k for the scoring formula) over the query terms' slice
    of the index `build_text_index` persists (`_bm25_index`).

    Plan: only the query terms' postings are ever aggregated; N and
    avgdl are one-row broadcast scalars; per-term df rides the
    postings via a window over the term key (bounded: at most
    len(query_terms) distinct keys after the cut); the final cut is
    TakeOrderedAndProject. At 100 TB the scan is still corpus-wide
    (tf requires it) but the shuffle carries only matching
    (doc, term) pairs.

    Columns: <id_col>, score (round 6), rank.
    """
    postings, stats = _bm25_index(docs, [t.lower() for t in query_terms],
                                  id_col=id_col, text_col=text_col)
    df_w = Window.partitionBy("term")
    return (_bm25_top_k(
                postings.withColumn(
                    "df", F.count("*").over(df_w).cast("double")),
                stats, top_k)
            .withColumnRenamed("doc_id", id_col))


def pmi_collocations(docs: DataFrame, *, text_col: str = "text",
                     min_count: int = 5, top_k: int = 50) -> DataFrame:
    """Pointwise-mutual-information bigram collocations:
    pmi(w1,w2) = ln( (c12/B) / ((c1/U) * (c2/U)) ) over corpus
    bigram/unigram counts, keeping pairs seen >= min_count — the
    phrase-mining pass that seeds multi-word vocabulary entries for
    tokenizer training.

    Plan: bigrams are a zero-Python array transform (same cascade as
    text_analysis.lm_score); the model is two count aggregates; the
    unigram joins are keyed shuffle joins on the token (corpus-scale
    tables — never broadcast); U and B are one-row broadcast
    scalars; the min_count filter cuts before the joins so only
    frequent pairs shuffle; the top-k cut is TakeOrderedAndProject.

    Columns: w1, w2, n_pair, pmi (round 6), rank.
    """
    toks = docs.select(tokenize(text_col).alias("ts"))
    big = (toks.filter(F.size("ts") >= 2)
           .select(F.explode(F.expr(
               "transform(slice(ts, 1, size(ts) - 1), "
               "(w, i) -> struct(w AS w1, ts[i + 1] AS w2))")).alias("bg"))
           .select("bg.w1", "bg.w2"))
    uni = (toks.select(F.explode("ts").alias("w"))
           .groupBy("w").agg(F.count("*").cast("double").alias("c")))
    totals = (uni.agg(F.sum("c").alias("n_uni"))
              .crossJoin(big.agg(F.count("*").cast("double").alias("n_big"))))
    pairs = (big.groupBy("w1", "w2")
             .agg(F.count("*").cast("double").alias("c12"))
             .filter(F.col("c12") >= float(min_count)))
    scored = (pairs
              .join(uni.select(F.col("w").alias("w1"),
                               F.col("c").alias("c1")), "w1")
              .join(uni.select(F.col("w").alias("w2"),
                               F.col("c").alias("c2")), "w2")
              .crossJoin(F.broadcast(totals))
              .select("w1", "w2",
                      F.col("c12").cast("long").alias("n_pair"),
                      F.round(F.log((F.col("c12") / F.col("n_big"))
                                    / ((F.col("c1") / F.col("n_uni"))
                                       * (F.col("c2") / F.col("n_uni")))),
                              6).alias("pmi")))
    return _top_k(scored, [F.col("pmi").desc(), F.col("w1").asc(),
                           F.col("w2").asc()], top_k)


# Persisted inverted index -------------------------------------------------

#: term-bucket fanout for the persisted index layout: terms hash into
#: this many directories, so a q-term probe reads <= q buckets.
INDEX_BUCKETS = 256


def _term_bucket(term: F.Column) -> F.Column:
    return (F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("long")
            % F.lit(INDEX_BUCKETS))


def _term_buckets(terms: list[str]) -> list[int]:
    """`_term_bucket` of each query term, driver-side (md5 of a handful
    of strings): a literal `bucket IN (...)` prunes at planning time."""
    import hashlib

    return sorted({int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
                   % INDEX_BUCKETS for t in terms})


def build_text_index(docs: DataFrame, path: str, *,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> None:
    """Write `bm25_scores`' index (`_bm25_index`, every term):
    postings (doc, term, tf, dl) as Parquet PARTITIONED BY term bucket
    (md5(term) % 256 directories), plus per-term df and the corpus
    stats (N, avgdl) as sidecar tables under the same root. A probe
    reads only the buckets its query terms hash into and never
    rebuilds corpus statistics: the one corpus-wide tokenize+aggregate
    pass happens at build time, probes touch q/256 of the files.
    """
    post, stats = _bm25_index(docs, None, id_col=id_col, text_col=text_col)
    (post.withColumn("bucket", _term_bucket(F.col("term")))
         .write.mode("overwrite").partitionBy("bucket")
         .parquet(f"{path}/postings"))
    (post.groupBy("term").agg(F.count("*").cast("double").alias("df"))
         .withColumn("bucket", _term_bucket(F.col("term")))
         .write.mode("overwrite").partitionBy("bucket")
         .parquet(f"{path}/df"))
    stats.write.mode("overwrite").parquet(f"{path}/stats")


def probe_text_index(spark, path: str, query_terms: list[str], *,
                     top_k: int = 20) -> DataFrame:
    """BM25 top-k against a persisted index: the postings/df scans
    carry the query terms' literal `bucket IN (...)` partition filter
    (`_term_buckets`), so only those directories' files are read.
    Scoring is bm25_scores' own kernel (_bm25_top_k). Columns: doc_id,
    score, rank.
    """
    qt = sorted({t.lower() for t in query_terms})
    buckets = _term_buckets(qt)
    post = (spark.read.parquet(f"{path}/postings")
            .filter(F.col("bucket").isin(buckets)
                    & F.col("term").isin(qt)))
    dfs = (spark.read.parquet(f"{path}/df")
           .filter(F.col("bucket").isin(buckets)
                   & F.col("term").isin(qt))
           .select("term", "df"))
    stats = spark.read.parquet(f"{path}/stats")
    return _bm25_top_k(post.join(F.broadcast(dfs), "term"), stats, top_k)


# Phrase search --------------------------------------------------------------

def phrase_count(docs: DataFrame, phrase: str, *,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Exact-phrase occurrence count per document — the quoted-query
    ("hash join") retrieval primitive BM25's bag-of-words scoring
    cannot express.

    Single-scan, zero-shuffle shape: normalize the text to the token
    stream IN PLACE (lowercase, collapse non-alphanumeric runs to
    single spaces — byte-identical to joining tokenize()'s output
    with spaces) and count occurrences with ONE codegen'd
    regexp_count whose pattern is a zero-width lookahead over the
    space-delimited phrase. Zero-width means the scan advances one
    character per attempt, so occurrences overlapping at token
    boundaries (a repeated-word phrase like "hash join hash") are
    all counted — identical semantics to probing every token start
    offset, without the per-offset higher-order-function lambda that
    the array formulation pays (interpreted per element: measured
    12 s vs <2 s at sf0.1). Per-doc work is one regex pass; at
    100 TB this is a pure map stage that scales with input splits.

    Columns: <id_col>, n_matches (only docs with >= 1 match).
    """
    import re as _re
    terms = [t for t in phrase.lower().split() if t]
    assert terms, "phrase must contain at least one token"
    stream = F.concat(F.lit(" "),
                      F.regexp_replace(F.lower(F.col(text_col)),
                                       r"[^a-z0-9]+", " "),
                      F.lit(" "))
    pat = "(?= " + " ".join(_re.escape(t) for t in terms) + " )"
    n = F.regexp_count(stream, F.lit(pat))
    return (docs.select(F.col(id_col), n.cast("long").alias("n_matches"))
            .filter(F.col("n_matches") > 0))


def build_positional_index(docs: DataFrame, path: str, *,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> None:
    """Materialize POSITIONAL postings (doc_id, term, pos) Parquet-
    partitioned by md5(term) % 256 — the index `build_text_index`
    builds minus the tf collapse: keeping every position is exactly
    what turns a bag-of-words index into a phrase index. Build cost
    is one tokenize + posexplode pass; no aggregation at all (the
    posting IS the exploded row), so the write is a pure map stage.
    """
    (docs.select(F.col(id_col).alias("doc_id"),
                 F.posexplode(tokenize(text_col)).alias("pos", "term"))
         .withColumn("bucket", _term_bucket(F.col("term")))
         .write.mode("overwrite").partitionBy("bucket")
         .parquet(f"{path}/postings"))


def probe_phrase_index(spark, path: str, phrase: str) -> DataFrame:
    """Exact-phrase counts against a persisted positional index,
    WITHOUT touching document text.

    The classic formulation joins one postings scan per phrase term
    on (doc, pos - i) — m joins for an m-word phrase. This probe is
    ONE shuffle for any m: broadcast the tiny (term, offset) phrase
    table against the bucket-pruned postings scan (planning-time
    partition filter, same contract as probe_text_index), map each
    hit to its implied phrase START (pos - offset), then count
    DISTINCT offsets per (doc, start) — a start where all m offsets
    appear is a phrase occurrence. Repeated phrase words are handled
    for free: each (term, offset) pair is a distinct probe row.

    Columns: doc_id, n_matches (docs with ≥ 1 match).
    """
    terms = [t for t in phrase.lower().split() if t]
    m = len(terms)
    assert m >= 1, "phrase must contain at least one token"
    buckets = _term_buckets(terms)
    probe = literal_frame(spark, [(t, i) for i, t in enumerate(terms)],
                          "term string, off int")
    post = (spark.read.parquet(f"{path}/postings")
            .filter(F.col("bucket").isin(buckets)
                    & F.col("term").isin(sorted(set(terms)))))
    hits = (post.join(F.broadcast(probe), "term")
            .select("doc_id", (F.col("pos") - F.col("off")).alias("start"),
                    "off")
            .filter(F.col("start") >= 0))
    return (hits.groupBy("doc_id", "start")
            .agg(F.count_distinct("off").alias("__k"))
            .filter(F.col("__k") == m)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_matches")))


def search_snippets(docs: DataFrame, query_terms: list[str], *,
                    id_col: str = "doc_id", text_col: str = "text",
                    half_window: int = 60) -> DataFrame:
    """Result snippets (Lucene-style first-occurrence fragmenter):
    for every document containing a query term, the character window
    around the EARLIEST term occurrence in the normalized token
    stream, plus the total term-hit count — the display layer of the
    BM25/phrase retrieval stack.

    Zero-shuffle scalar pipeline: the token stream is rebuilt
    in-place (lower + delimiter collapse, byte-identical to joining
    tokenize() with spaces), the first position is min over literal
    `instr` probes of ' term ' (plain substring search — codegen,
    no regex), hits are one token-boundary regexp_count, the snippet
    one substring. Docs without any term are filtered out before
    anything else computes.

    Columns: <id_col>, first_pos (1-based char offset in the padded
    stream), n_hits, snippet.
    """
    import re as _re
    terms = sorted({t.lower() for t in query_terms if t})
    assert terms, "need at least one query term"
    stream = F.concat(F.lit(" "),
                      F.regexp_replace(F.lower(F.col(text_col)),
                                       r"[^a-z0-9]+", " "),
                      F.lit(" "))
    d = docs.select(F.col(id_col), stream.alias("__s"))
    pos = F.least(*[
        F.nullif(F.instr("__s", f" {t} "), F.lit(0)) for t in terms]) \
        if len(terms) > 1 else \
        F.nullif(F.instr("__s", f" {terms[0]} "), F.lit(0))
    alt = "|".join(_re.escape(t) for t in terms)
    hits = F.regexp_count("__s", F.lit(f"(?<= )(?:{alt})(?= )"))
    start = F.greatest(F.col("first_pos") - half_window, F.lit(1))
    return (d.withColumn("first_pos", pos)
            .filter(F.col("first_pos").isNotNull())
            .withColumn("n_hits", hits.cast("long"))
            .select(id_col, F.col("first_pos").cast("long"), "n_hits",
                    F.trim(F.substring("__s", start,
                                       2 * half_window)).alias("snippet")))


def hybrid_rerank(docs: DataFrame, query_terms: list[str], *,
                  k_candidates: int = 50, top_k: int = 10,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Two-stage retrieval: BM25 recall pass (k_candidates) then a
    bounded rerank by 0.5·coverage + 0.5·normalized-BM25, where
    coverage is the share of DISTINCT query terms the document
    contains — the cheap lexical stand-in for a cross-encoder in the
    standard retrieve→rerank serving stack (the rerank stage is the
    seam where a model scorer drops in; everything around it is the
    production shape: candidates bounded, corpus touched only by the
    recall pass).

    The coverage computation semi-joins the corpus to the BROADCAST
    candidate id set before tokenizing, so stage 2 re-reads
    k_candidates documents, never the corpus.

    Columns: <id_col>, score (BM25), coverage, rerank_score, rank.
    """
    terms = sorted({t.lower() for t in query_terms if t})
    cand = bm25_scores(docs, terms, id_col=id_col, text_col=text_col,
                       top_k=k_candidates).drop("rank")
    cid = cand.select(F.col("doc_id").alias("__cid"))
    cdocs = docs.join(F.broadcast(cid),
                      docs[id_col] == F.col("__cid"), "left_semi")
    cov = (cdocs.select(F.col(id_col).alias("doc_id"),
                        F.explode(tokenize(text_col)).alias("t"))
           .filter(F.col("t").isin(terms))
           .groupBy("doc_id")
           .agg(F.round(F.count_distinct("t") / F.lit(float(len(terms))),
                        6).alias("coverage")))
    mx = cand.agg(F.max("score").alias("__mx"))
    scored = (cand.join(cov, "doc_id")
              .crossJoin(F.broadcast(mx))
              .select("doc_id", "score", "coverage",
                      F.round(0.5 * F.col("coverage")
                              + 0.5 * F.col("score") / F.col("__mx"), 6)
                      .alias("rerank_score")))
    return _top_k(scored, [F.col("rerank_score").desc(),
                           F.col("doc_id").asc()], top_k)


def hashed_embedding(docs: DataFrame, *, dim: int = 16,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Hashing-trick bag-of-words embedding — the feature-hashing /
    HashingVectorizer construction (Weinberger et al. 2009): vector
    component j counts the tokens whose `stable_hash31` bucket
    (md5-based, % dim) is j. Stateless (no vocabulary to fit or
    broadcast — the property that makes the hashing trick the
    streaming/distributed featurizer of choice) and, unlike the
    model-backed `embed_documents` fake, EXACTLY replayable in SQL,
    so dense-retrieval pipelines built on it can be hash-oracled end
    to end. Collisions are the documented price (two tokens sharing
    a bucket add their counts); cosine over these count vectors is a
    lexical similarity, the dense leg for hybrid fusion when no
    model embedding exists.

    Plan: a pure narrow map (zero shuffle) — tokenize, bucket each
    token, then one `transform` over 0..dim-1 counting bucket hits;
    O(tokens · dim) work per row via JVM HOFs, the right trade at
    small dim. For dim beyond ~64, prefer the explode →
    (id, bucket) groupBy shape (one corpus exchange, O(tokens)).
    NULL text has no tokens, like the empty string: its embedding is
    the zero vector (the hashed_bow_docs oracle's coalesce-to-0.0
    replay gives the same), never a NULL array.
    Columns: <id_col>, embedding (array<double>, length dim).
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    # One aggregate fold over the bucket array instead of a
    # per-component size(filter(...)): with the bucket expression
    # embedded in the per-component lambda, the tokenize→md5 cascade
    # re-evaluates once PER COMPONENT (dim× the hashing work per
    # row; projecting it to its own column first does not survive
    # CollapseProject, which inlines single-use aliases back into
    # the lambda — guide §4.4's duplicated-expression trap, HOF
    # edition). aggregate() evaluates its input array exactly once
    # per row, then each token increments its bucket's slot — the
    # hashing is O(tokens), the fold O(tokens·dim) integer adds.
    # Counts are sums of exact 1.0s, so values are unchanged.
    buckets = F.transform(tokenize(F.coalesce(F.col(text_col), F.lit(""))),
                          lambda t: stable_hash31(t) % dim)
    vec = F.aggregate(
        buckets,
        F.array_repeat(F.lit(0.0), dim),
        lambda acc, b: F.transform(
            acc, lambda x, i: x + F.when(i.cast("long") == b, F.lit(1.0))
            .otherwise(F.lit(0.0))))
    return docs.select(F.col(id_col), vec.alias("embedding"))


def hashed_query_vector(query: str, *, dim: int = 16) -> list[float]:
    """Driver-side twin of `hashed_embedding` for the query string:
    same tokenizer regex, same md5 bucket hash, python floats —
    microseconds of work, so the query never needs a Spark job."""
    import hashlib
    import re

    toks = [t for t in re.split(r"[^a-z0-9]+", query.lower()) if t]
    v = [0.0] * dim
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        v[(h % 2147483647) % dim] += 1.0
    return v


def rrf_fuse(rankings: DataFrame, *, k: int = 60,
             id_col: str = "doc_id", system_col: str = "system",
             rank_col: str = "rank", top_k: int) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) — the standard
    hybrid-search combiner: given ranked lists from several
    retrieval systems (lexical BM25, dense ANN, ...) as one long
    (system, id, rank) frame, score every candidate
    RRF(d) = Σ_systems 1 / (k + rank_s(d)) and re-rank. Rank-based
    fusion needs no score calibration across systems — the reason
    production hybrid search (Elasticsearch/Vespa/Weaviate) defaults
    to it over score mixing; `hybrid_rerank` above is the
    within-system score-fusion counterpart.

    Shape: ONE keyed aggregation over the (already top-k-bounded)
    ranked lists — input size is systems × k rows, never the corpus
    — then `stats._top_k`: the TakeOrdered cut, and the rank window
    over its ≤ top_k rows. The 1/(k+r)
    sum over ≤ |systems| values is order-independent in IEEE
    addition for the 2-system case and rounded at 6 dp before the
    deterministic (score desc, id asc) tie-break.

    Columns: <id_col>, n_systems, rrf_score, rank.
    """
    agg = (rankings
           .select(F.col(id_col).alias("doc_id"),
                   (1.0 / (F.lit(float(k)) + F.col(rank_col).cast("double")))
                   .alias("__r"))
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_systems"),
                F.round(F.sum("__r"), 6).alias("rrf_score")))
    return _top_k(agg, [F.col("rrf_score").desc(), F.col("doc_id").asc()],
                  top_k)
