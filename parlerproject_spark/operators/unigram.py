"""Distributed unigram-LM tokenizer (SentencePiece-style).

The second of the two standard subword trainers (next to
tokenizer.train_bpe): model each piece with a unigram probability,
segment by Viterbi (max Σ log p(piece)), re-estimate by EM, prune to
a vocab budget. This is Kudo (2018)'s algorithm with the standard
engineering simplifications: seed = top frequent substrings scored
freq·len, hard-EM (Viterbi counts, not full forward–backward
expectations), prune = keep the count-ranked top pieces (single
chars always survive so every string stays segmentable).

Scale shape mirrors train_bpe: ONE tokenize+groupBy pass builds the
vocabulary-sized (word, freq) table; every EM round is one
mapInPandas Viterbi pass over that table (the piece table rides in
as a broadcast closure — a few kB) plus one keyed count aggregation;
only piece-count rows (≤ vocab size) ever reach the driver. Encoding
runs Viterbi over DISTINCT words once and joins back — corpus text
is never re-tokenized per piece.

Determinism: every ranking ties on the piece string; Viterbi ties
prefer (higher score, then fewer pieces, then lexicographically
smaller sequence). A pure-Python reference implementation in tests
pins the whole pipeline; the driver records rows-only (iterative,
not SQL-expressible).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parlerproject_spark.functions.py_udfs import round_half_up
from parlerproject_spark.operators.tokenizer import word_freq_table


def _viterbi(word: str, logp: dict[str, float],
             max_len: int) -> list[str] | None:
    """Best segmentation of `word` under the piece log-probs.
    Returns None only if some character is out of vocabulary."""
    n = len(word)
    # best[i] = (score, n_pieces, seq) for word[:i]
    best: list[tuple[float, int, tuple[str, ...]] | None] = \
        [None] * (n + 1)
    best[0] = (0.0, 0, ())
    for i in range(1, n + 1):
        cand = None
        for j in range(max(0, i - max_len), i):
            prev = best[j]
            if prev is None:
                continue
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                continue
            c = (prev[0] + lp, prev[1] + 1, prev[2] + (piece,))
            if cand is None:
                cand = c
            else:
                # higher score, then fewer pieces, then lex-smaller seq
                if (c[0] > cand[0]
                        or (c[0] == cand[0]
                            and (c[1] < cand[1]
                                 or (c[1] == cand[1]
                                     and c[2] < cand[2])))):
                    cand = c
        best[i] = cand
    return list(best[n][2]) if best[n] is not None else None


def seed_pieces(words: DataFrame, *, max_piece_len: int = 6) -> DataFrame:
    """Candidate piece table from the (word, freq) table: every
    substring up to max_piece_len, scored Σ freq·len over all its
    occurrences. Chars are marked so pruning can never drop them;
    the caller keeps the top-scoring multi-char pieces.
    Columns: piece, score (bigint), is_char."""
    subs = F.expr(f"""
      flatten(transform(sequence(1, length(word)),
        s -> transform(sequence(s, least(length(word), s + {max_piece_len - 1})),
          e -> substring(word, s, e - s + 1))))""")
    ex = words.select(F.col("n"), F.explode(subs).alias("piece"))
    return (ex.groupBy("piece")
            .agg(F.sum(F.col("n") * F.length("piece")).alias("score"))
            .withColumn("is_char", F.length("piece") == 1))


def _em_counts(words: DataFrame, vocab: dict[str, float],
               max_piece_len: int) -> list[tuple[str, int]]:
    """One hard-EM E-step: Viterbi-segment every distinct word,
    aggregate freq-weighted piece counts. Returns the bounded
    (piece, count) list."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            counts: dict[str, int] = {}
            for w, f in zip(pdf["word"], pdf["n"]):
                seq = _viterbi(w, vocab, max_piece_len)
                if seq is None:
                    continue
                for p in seq:
                    counts[p] = counts.get(p, 0) + int(f)
            if counts:
                yield pd.DataFrame({"piece": list(counts),
                                    "cnt": list(counts.values())})

    rows = (words.mapInPandas(gen, "piece string, cnt long")
            .groupBy("piece").agg(F.sum("cnt").alias("cnt"))
            .collect())
    return [(r["piece"], r["cnt"]) for r in rows]


def train_unigram(docs: DataFrame, *, vocab_size: int = 120,
                  n_iters: int = 3, max_piece_len: int = 6,
                  n_seed: int = 300,
                  text_col: str = "text") -> list[tuple[str, float]]:
    """Train the unigram LM; returns [(piece, logp)] sorted by piece.
    Only piece tables (≤ n_seed + alphabet rows) cross the driver.

    Determinism contract (round 9): log-probs re-round to 6
    decimals at seeding and after every M-step — the lloyd/PQ
    re-sync contract. Viterbi then compares sums of identical
    rounded doubles, so an independent engine replaying the same
    unrolled DP (fixed EM rounds, fixed position unroll) reproduces
    the vocab bit-for-bit; the hash oracle of unigram_vocab_docs
    rides on this."""
    wf = word_freq_table(docs, text_col=text_col).persist()
    try:
        seeds = seed_pieces(wf, max_piece_len=max_piece_len)
        chars = seeds.filter("is_char")
        multi = (seeds.filter(~F.col("is_char"))
                 .orderBy(F.col("score").desc(), F.col("piece").asc())
                 .limit(n_seed))
        pool = chars.unionByName(multi).collect()
        total0 = sum(r["score"] for r in pool)
        vocab = {r["piece"]: round_half_up(math.log(r["score"] / total0), 6)
                 for r in pool}

        for _ in range(n_iters):
            counts = dict(_em_counts(wf, vocab, max_piece_len))
            # chars survive with a floor count so the model always
            # segments; multi-char pieces live on observed counts only
            kept = [(p, c) for p, c in counts.items() if len(p) > 1]
            kept.sort(key=lambda pc: (-pc[1], pc[0]))
            n_chars = sum(1 for p in vocab if len(p) == 1)
            kept = kept[:max(0, vocab_size - n_chars)]
            new = {p: c for p, c in kept}
            for p in vocab:
                if len(p) == 1:
                    new[p] = max(counts.get(p, 0), 1)
            total = sum(new.values())
            vocab = {p: round_half_up(math.log(c / total), 6)
                     for p, c in new.items()}
        return sorted(vocab.items())
    finally:
        wf.unpersist()


def segment_unigram(docs: DataFrame, vocab: list[tuple[str, float]], *,
                    id_col: str = "doc_id", text_col: str = "text",
                    max_piece_len: int = 6) -> DataFrame:
    """Viterbi-encode documents with a trained vocab: tokenize, run
    Viterbi once per DISTINCT word, join the piece sequences back,
    aggregate per document. Columns: <id_col>, n_words, n_pieces."""
    import pandas as pd

    from parlerproject_spark.functions.text import tokenize
    logp = dict(vocab)
    toks = docs.select(F.col(id_col), F.explode(tokenize(text_col))
                       .alias("word"))
    distinct = toks.select("word").distinct()

    def gen(it):
        for pdf in it:
            out_w, out_n = [], []
            for w in pdf["word"]:
                seq = _viterbi(w, logp, max_piece_len)
                out_w.append(w)
                out_n.append(len(seq) if seq is not None else -1)
            yield pd.DataFrame({"word": out_w, "n_pieces_w": out_n})

    pieced = distinct.mapInPandas(gen, "word string, n_pieces_w int")
    return (toks.join(pieced, "word")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("n_pieces_w").cast("long").alias("n_pieces")))
