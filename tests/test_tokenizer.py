"""BPE trainer/encoder vs a pure-Python reference implementation.

train_bpe is iterative and driver-looped (no SQL oracle possible),
so the equivalence proof lives here: an independent in-memory BPE
(the standard Sennrich et al. algorithm with the same tie-breaks)
must produce the IDENTICAL merge sequence and the identical
segmentation on the same corpus.
"""

from __future__ import annotations

import re
from collections import Counter

from parlerproject_spark.operators.tokenizer import (EOW, apply_bpe,
                                                     train_bpe)


def _py_tokenize(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _py_train_bpe(texts: list[str], n_merges: int):
    vocab = Counter()
    for t in texts:
        vocab.update(_py_tokenize(t))
    symtab = {w: list(w) + [EOW] for w in vocab}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for w, n in vocab.items():
            syms = symtab[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        # max count, ties lexicographic on (a, b) — same as the op
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        (a, b) = best[0]
        merges.append((a, b))
        for w in symtab:
            out = []
            for s in symtab[w]:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            symtab[w] = out
    return merges


def _py_apply(text: str, merges) -> list[str]:
    pieces = []
    for w in _py_tokenize(text):
        syms = list(w) + [EOW]
        for a, b in merges:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms = out
        pieces.extend(p for p in (s.replace(EOW, "") for s in syms) if p)
    return pieces


_CORPUS = [
    "low lower lowest low low",
    "new newer newest new",
    "low new low new wide wider widest",
    "the newest lowest wide low",
]


def test_train_bpe_matches_reference_merge_sequence(spark):
    d = spark.createDataFrame(list(enumerate(_CORPUS)),
                              "doc_id long, text string")
    got = train_bpe(d, n_merges=12)
    want = _py_train_bpe(_CORPUS, 12)
    assert got == want


def test_apply_bpe_matches_reference_segmentation(spark):
    d = spark.createDataFrame(list(enumerate(_CORPUS)),
                              "doc_id long, text string")
    merges = train_bpe(d, n_merges=10)
    out = {r["doc_id"]: r for r in
           apply_bpe(d, merges).collect()}
    for i, text in enumerate(_CORPUS):
        want = _py_apply(text, merges)
        assert list(out[i]["pieces"]) == want, (i, out[i]["pieces"], want)
        assert out[i]["n_pieces"] == len(want)
        assert out[i]["n_words"] == len(_py_tokenize(text))


def test_batched_bpe_is_exact_and_saves_jobs(spark):
    # a larger, more varied corpus: batching must (a) produce the
    # IDENTICAL merge sequence to the sequential reference and
    # (b) run strictly fewer pair-count rounds than merges learned
    corpus = _CORPUS + [
        "internationalization localization internationalization",
        "token tokens tokenized tokenizing tokenization",
        "lower lowered lowering lowly low lows",
        "wide widely widen widens widening",
        "newer newly renew renewed renewable new",
    ]
    d = spark.createDataFrame(list(enumerate(corpus)),
                              "doc_id long, text string")
    stats: dict = {}
    got = train_bpe(d, n_merges=24, batch=8, stats=stats)
    want = _py_train_bpe(corpus, 24)
    assert got == want
    assert len(got) == 24
    assert stats["rounds"] < 24  # batching actually amortized jobs


def test_batched_bpe_exact_across_batch_sizes(spark):
    d = spark.createDataFrame(list(enumerate(_CORPUS)),
                              "doc_id long, text string")
    want = _py_train_bpe(_CORPUS, 12)
    for b in (1, 2, 5, 32):
        assert train_bpe(d, n_merges=12, batch=b) == want, b


def test_bpe_early_stops_when_nothing_repeats(spark):
    d = spark.createDataFrame([(1, "ab cd ef")], "doc_id long, text string")
    # every pair occurs once -> no merge reaches count 2
    assert train_bpe(d, n_merges=5) == []


def test_bpe_compresses_repetitive_corpus(spark):
    d = spark.createDataFrame(
        [(i, "tokenization tokenization tokenizer token")
         for i in range(3)], "doc_id long, text string")
    merges = train_bpe(d, n_merges=15)
    out = apply_bpe(d, merges).collect()
    for r in out:
        # merged pieces are strictly fewer than raw characters
        assert r["n_pieces"] < sum(len(w) for w in
                                   "tokenization tokenization tokenizer token"
                                   .split())
        assert r["n_pieces"] >= r["n_words"] * 1  # at least one piece/word


# ---------------------------------------------------------------------------
# WordPiece: likelihood-scored trainer + greedy longest-match encoder
# vs a pure-Python reference with the same tie-breaks.

def _py_train_wordpiece(texts: list[str], n_merges: int,
                        min_pair: int = 2):
    vocab = Counter()
    for t in texts:
        vocab.update(_py_tokenize(t))
    symtab = {w: [w[0]] + ["##" + c for c in w[1:]] for w in vocab}
    merges = []
    for _ in range(n_merges):
        pairs, singles = Counter(), Counter()
        for w, n in vocab.items():
            syms = symtab[w]
            for s in syms:
                singles[s] += n
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        cand = [(cnt / (singles[a] * singles[b]), (a, b), cnt)
                for (a, b), cnt in pairs.items() if cnt >= min_pair]
        if not cand:
            break
        score, (a, b), cnt = min(
            cand, key=lambda kv: (-kv[0], kv[1]))
        merged = a + (b[2:] if b.startswith("##") else b)
        merges.append((a, b, merged, cnt, singles[a], singles[b]))
        for w in symtab:
            out = []
            for s in symtab[w]:
                if out and out[-1] == a and s == b:
                    out[-1] = merged
                else:
                    out.append(s)
            symtab[w] = out
    return merges


def _py_wordpiece(word: str, pieces: set, max_chars: int = 16):
    """HF WordpieceTokenizer: (n_pieces, is_unk)."""
    if len(word) > max_chars:
        return 1, 1
    pos, np = 0, 0
    while pos < len(word):
        end = len(word)
        hit = -1
        while end > pos:
            sub = word[pos:end]
            if pos > 0:
                sub = "##" + sub
            if sub in pieces:
                hit = end
                break
            end -= 1
        if hit < 0:
            return 1, 1
        np += 1
        pos = hit
    return np, 0


def test_train_wordpiece_matches_reference(spark):
    from parlerproject_spark.operators.tokenizer import train_wordpiece
    d = spark.createDataFrame(list(enumerate(_CORPUS)),
                              "doc_id long, text string")
    got = train_wordpiece(d, n_merges=10)
    want = _py_train_wordpiece(_CORPUS, 10)
    assert got == want


def test_wordpiece_merge_convention(spark):
    from parlerproject_spark.operators.tokenizer import _wp_merged
    assert _wp_merged("a", "##b") == "ab"
    assert _wp_merged("##a", "##b") == "##ab"


def test_wordpiece_encode_hand_case(spark):
    from parlerproject_spark.operators.tokenizer import wordpiece_encode
    vocab = {"un", "##aff", "##able", "a", "##f", "##l", "##b", "##e",
             "u", "##n", "##a"}
    d = spark.createDataFrame([(1, "unaffable")],
                              "doc_id long, text string")
    r = wordpiece_encode(d, vocab).collect()[0]
    # greedy: un + ##aff + ##able = 3 pieces, no unk
    assert r["n_words"] == 1 and r["n_pieces"] == 3 and r["n_unk"] == 0


def test_wordpiece_encode_unk_paths(spark):
    from parlerproject_spark.operators.tokenizer import wordpiece_encode
    vocab = {"a", "##a"}
    d = spark.createDataFrame(
        [(1, "aaa xyz " + "a" * 20)], "doc_id long, text string")
    r = wordpiece_encode(d, vocab, max_word_chars=16).collect()[0]
    # aaa -> 3 pieces; xyz -> UNK (no 'x'); 20*a -> UNK (too long)
    assert r["n_words"] == 3
    assert r["n_pieces"] == 3 + 1 + 1
    assert r["n_unk"] == 2


def test_wordpiece_encode_matches_reference_on_corpus(spark):
    from parlerproject_spark.operators.tokenizer import (
        corpus_char_pieces, train_wordpiece, wordpiece_encode)
    d = spark.createDataFrame(list(enumerate(_CORPUS)),
                              "doc_id long, text string")
    merges = train_wordpiece(d, n_merges=8)
    vocab = set(corpus_char_pieces(d)) | {m[2] for m in merges}
    out = {r["doc_id"]: r for r in wordpiece_encode(d, vocab).collect()}
    for i, text in enumerate(_CORPUS):
        words = _py_tokenize(text)
        want = [_py_wordpiece(w, vocab) for w in words]
        assert out[i]["n_words"] == len(words)
        assert out[i]["n_pieces"] == sum(p for p, _ in want)
        assert out[i]["n_unk"] == sum(u for _, u in want)


def test_apply_merges_arrow_equals_chained_jvm_folds(spark):
    """The round-13 batched Arrow apply must compose merges exactly
    like the sequential JVM fold chain it replaced — including the
    in-batch cascade corner where merge i creates the adjacency a
    LATER merge of the same batch then consumes ('c'+'ab' exists
    only after ('a','b') fused), and the non-corner where an EARLIER
    merge would have consumed it (already-applied merges never
    re-run)."""
    from parlerproject_spark.operators.tokenizer import (
        _apply_merge_to, _apply_merges_arrow)
    rows = [
        ("caba", 1, ["c", "a", "b", "a"]),
        ("aab", 2, ["a", "a", "b"]),
        ("abab", 3, ["a", "b", "a", "b"]),
        ("cab", 4, ["c", "a", "b"]),
        ("bc", 5, ["b", "c"]),
    ]
    st = spark.createDataFrame(rows, "word string, n long, syms array<string>")
    batches = [
        [("a", "b"), ("c", "ab")],   # cascade: 2nd consumes 1st's output
        [("c", "ab"), ("a", "b")],   # reversed: no cascade possible
        [("a", "b"), ("b", "c")],
    ]
    for batch in batches:
        want = st
        for a, b in batch:
            want = _apply_merge_to(want, a, b, a + b)
        got = _apply_merges_arrow(st, [(a, b, a + b) for a, b in batch])
        w = {r["word"]: list(r["syms"]) for r in want.collect()}
        g = {r["word"]: list(r["syms"]) for r in got.collect()}
        assert g == w, (batch, g, w)
