"""Benchmark decontamination — drop training documents that overlap a
held-out evaluation set by shared word n-grams. Standard practice for
LLM training corpora (the n-gram-overlap rule popularized by the
GPT-3/PaLM data cards): any training doc sharing an n-gram with a
benchmark doc is flagged and removed.

Design for 100 TB: the benchmark side is small by construction
(eval suites are KBs–MBs), so its distinct n-gram set BROADCASTS;
the corpus side stays a zero-shuffle map (per-doc n-grams never
leave their partition) until the per-doc hit aggregation, whose
output is bounded by the number of CONTAMINATED docs — cost tracks
contamination density, never corpus size. The final removal is a
broadcast anti-join on ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parlerproject_spark.caching import literal_frame
from parlerproject_spark.functions.text import tokenize


def _doc_ngrams(docs: DataFrame, *, n: int, id_col: str,
                text_col: str) -> DataFrame:
    """(id, gram) pairs — distinct word n-grams per document, built
    with array expressions inside the scan stage (no shuffle)."""
    grams = F.transform(F.sequence(F.lit(1), F.size("__t") - n + 1),
                        lambda i: F.array_join(F.slice("__t", i, n), " "))
    return (docs.select(F.col(id_col).alias("doc_id"),
                        tokenize(text_col).alias("__t"))
            .filter(F.size("__t") >= n)
            .select("doc_id",
                    F.explode(F.array_distinct(grams)).alias("gram")))


def contamination_hits(corpus: DataFrame, benchmark: DataFrame, *,
                       n: int = 8, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Per-corpus-doc count of distinct n-grams shared with ANY
    benchmark document. Returns only contaminated docs.
    Columns: doc_id, n_hits."""
    bench_grams = (_doc_ngrams(benchmark, n=n, id_col=id_col,
                               text_col=text_col)
                   .select("gram").distinct())
    corpus_grams = _doc_ngrams(corpus, n=n, id_col=id_col, text_col=text_col)
    return (corpus_grams.join(F.broadcast(bench_grams), "gram")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hits")))


def decontaminate(corpus: DataFrame, benchmark: DataFrame, *,
                  n: int = 8, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """The clean corpus: every document sharing at least one n-gram
    with the benchmark set removed (broadcast anti-join on the
    contaminated id set — the corpus never shuffles)."""
    flagged = contamination_hits(corpus, benchmark, n=n, id_col=id_col,
                                 text_col=text_col) \
        .select(F.col("doc_id").alias(id_col))
    return corpus.join(F.broadcast(flagged), on=id_col, how="left_anti")


def semantic_contamination_hits(corpus_emb: DataFrame, eval_emb: DataFrame,
                                *, threshold: float = 0.9,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding") -> DataFrame:
    """Per-corpus-doc EMBEDDING-space contamination: how many eval
    vectors each corpus vector matches at cosine >= threshold, and
    the best match. The semantic companion of contamination_hits —
    n-gram overlap misses paraphrases; cosine over the embedding
    column catches near-semantic leakage (the eval-dedup step of
    modern data cards, e.g. the phi/FineWeb-Edu decontamination
    passes).

    Scale shape mirrors the n-gram pass: the eval side is small by
    construction, so its matrix is collected once (the same
    model-sized-collect contract as the topic seeds) and each Arrow
    corpus batch is matmul'd against it at threshold − 1e-6 — a map
    stage, the corpus never shuffles. Only the surviving (doc, eval)
    candidates — bounded by contamination density — are re-scored
    with the JVM cosine fold (eval side broadcast) that decides the
    rounded `sim >= threshold` comparison the oracle replays. matmul
    vs sequential fold differ ≲1e-13 ≪ the margin, so the candidate
    set provably contains every true hit. The one keyed aggregation
    sees only the hits. An empty eval set flags nothing.
    Columns: doc_id, n_hits, max_sim (round 6).
    """
    import numpy as np
    import pandas as pd

    from parlerproject_spark.functions.vectors import cosine

    id_type = corpus_emb.schema[id_col].dataType.simpleString()
    eid_type = eval_emb.schema[id_col].dataType.simpleString()
    ev = eval_emb.select(F.col(id_col).alias("__eid"),
                         F.col(vec_col).alias("__ev"))
    ev_rows = ev.collect()          # eval suite: small by construction
    if not ev_rows:
        return literal_frame(corpus_emb.sparkSession, [], f"doc_id {id_type}, "
                             "n_hits bigint, max_sim double")
    E = np.array([list(r["__ev"]) for r in ev_rows], dtype=np.float64)
    eids = np.array([r["__eid"] for r in ev_rows])
    en = np.linalg.norm(E, axis=1)
    thr = threshold - 1e-6

    def prefilter(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["__v"].tolist(), dtype=np.float64)
            xn = np.linalg.norm(X, axis=1)
            with np.errstate(invalid="ignore", divide="ignore"):
                S = (X @ E.T) / np.outer(xn, en)
            ci, ei = np.nonzero(S >= thr)
            if len(ci):
                yield pd.DataFrame({
                    "doc_id": pdf["doc_id"].to_numpy()[ci],
                    "__eid": eids[ei]})

    cand = (corpus_emb.select(F.col(id_col).alias("doc_id"),
                              F.col(vec_col).alias("__v"))
            .mapInPandas(prefilter,
                         schema=f"doc_id {id_type}, __eid {eid_type}")
            # duplicate corpus ids: d dup rows each flag the pair, and
            # the re-score join fans back out by d — distinct() makes
            # that fan-out count each dup row exactly once, as the
            # oracle's all-pairs join does (the re-score still judges
            # every dup row on its own vector)
            .distinct())
    sim = F.round(cosine("__cv", "__ev"), 6)
    return (cand
            .join(corpus_emb.select(F.col(id_col).alias("doc_id"),
                                    F.col(vec_col).alias("__cv")),
                  "doc_id")
            .join(F.broadcast(ev), "__eid")
            .select("doc_id", sim.alias("sim"))
            .filter(F.col("sim") >= threshold)
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hits"),
                 F.max("sim").alias("max_sim")))


def semantic_decontaminate(corpus_emb: DataFrame, eval_emb: DataFrame,
                           *, threshold: float = 0.9,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """The clean corpus: every vector within `threshold` cosine of
    ANY eval vector removed (broadcast anti-join on the flagged id
    set — the corpus never shuffles)."""
    flagged = semantic_contamination_hits(
        corpus_emb, eval_emb, threshold=threshold,
        id_col=id_col, vec_col=vec_col) \
        .select(F.col("doc_id").alias(id_col))
    return corpus_emb.join(F.broadcast(flagged), on=id_col,
                           how="left_anti")
