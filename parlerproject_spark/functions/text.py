"""Text scalar functions.

Re-expresses the reference's string handling as Column expressions:
whitespace normalization (" ".join(text.split()),
code/htmlConverter.py:38), trim + non-empty filters
(code/embeddings.py:19-27), plus the text-analysis operators a
training-data pipeline needs (token counting, quality scoring,
fingerprinting). All JVM-side built-ins — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Parler metadata terms the reference strips before topic modeling
# (code/bertopicTest.py:30-38) plus a minimal English stop list — kept
# as an engine constant so tokenize() matches the reference's
# CountVectorizer(stop_words=...) semantics.
PARLER_STOP_WORDS = [
    "impressions", "echoes", "upvotes", "comments", "post", "posts",
    "parler", "image", "video", "href", "http", "https", "www",
]
BASIC_ENGLISH_STOP_WORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "be", "this", "that",
]


def normalize_ws(col: Column | str) -> Column:
    """Collapse all whitespace runs to single spaces and trim.

    Exact semantics of ``" ".join(text.split())`` in
    code/htmlConverter.py:38 (python str.split() splits on any
    whitespace run and drops leading/trailing).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def tokenize(col: Column | str) -> Column:
    """Lowercasing whitespace/punctuation tokenizer → array<string>.

    Splits the lowercased text on any non-alphanumeric run (the
    BPE-ish regex boundary), drops empties. Mirrors the reference's
    CountVectorizer default token pattern (code/bertopicTest.py:42-50)
    closely enough for vocabulary/DF parity.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"[^a-z0-9]+"),
                    lambda t: F.length(t) > 0)


def token_count(col: Column | str) -> Column:
    """Whitespace token count (long)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.filter(F.split(c, r"\s+"), lambda t: F.length(t) > 0)).cast("long")


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: length score x alpha
    ratio x (1 - stopword excess). Deterministic, all built-ins, so
    it is oracle-expressible in plain SQL."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c).cast("double")
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z ]", "")).cast("double")
    length_score = F.least(n / F.lit(500.0), F.lit(1.0))
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    return F.round(length_score * alpha_ratio, 6)


def fingerprint_md5(col: Column | str) -> Column:
    """Content fingerprint: md5 of the whitespace-normalized,
    lowercased text. The exact-dedup key (SURVEY north-star dedup
    operator); md5 so the DuckDB oracle can reproduce it exactly."""
    return F.md5(F.lower(normalize_ws(col)))


def stable_hash31(col: Column | str) -> Column:
    """Deterministic 31-bit integer hash of a string, identical in
    Spark and DuckDB: first 15 hex digits of md5 → bigint → mod
    2^31-1. Used as the base hash for MinHash permutations and
    SimHash bit votes — NOT Spark's ``hash()`` (xxhash), which the
    oracle cannot reproduce."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint") % F.lit(2147483647))


def stable_hash60(col: Column | str) -> Column:
    """Deterministic 60-bit integer hash: first 15 hex digits of md5
    as a bigint, NO modulus — the full-width base hash for SimHash
    when all 60 vote bits should carry signal (stable_hash31's
    mod-2^31-1 zeroes bits 31+, wasting half a 64-bit fingerprint).
    DuckDB replay: ('0x' || substr(md5(x), 1, 15))::BIGINT."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")

#: query parameters that carry tracking state, not content identity —
#: stripped by normalize_url so syntactic variants of the same page
#: dedup together.
_TRACKING_RE = r"^(utm_[a-z]+|fbclid|gclid|ref_src)="


def normalize_url(col: Column | str) -> Column:
    """Canonical URL for dedup-by-URL: lowercase the scheme and host
    (path/query stay case-sensitive per RFC 3986), drop the
    fragment, strip tracking query params (utm_*, fbclid, gclid,
    ref_src), drop an empty leftover '?', and trim one trailing
    slash from a non-root path. Pure regexp/array Column algebra —
    zero-shuffle, and every step is plain-SQL-expressible so the
    DuckDB oracle replays it bit-for-bit."""
    c = F.col(col) if isinstance(col, str) else col
    no_frag = F.regexp_replace(c, r"#.*$", "")
    raw_head = F.regexp_extract(
        no_frag, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1)
    head = F.lower(raw_head)
    tail = F.substring(no_frag, F.length(raw_head) + 1,
                       F.length(no_frag))
    qpos = F.instr(tail, "?")
    path = F.when(qpos > 0, F.substring(tail, F.lit(1), qpos - 1)) \
            .otherwise(tail)
    query = F.when(qpos > 0,
                   F.substring(tail, qpos + 1, F.length(tail))) \
             .otherwise(F.lit(""))
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0) & ~p.rlike(_TRACKING_RE))
    newq = F.array_join(kept, "&")
    path_norm = F.when(path == "/", path) \
                 .otherwise(F.regexp_replace(path, r"/$", ""))
    return F.concat(
        head, path_norm,
        F.when(newq != "", F.concat(F.lit("?"), newq)).otherwise(F.lit("")))


def word_ngrams(arr: Column | str, n: int) -> Column:
    """Space-joined word n-grams from a token array — the shared
    builder behind bleu_pairs, intra_doc_repeated_spans and
    distinct_ngram_diversity. Order matches token order (gram i
    starts at 1-based token i). Spark's `sequence(1, 0)` generates a
    DESCENDING ramp, so sub-n docs are guarded to an empty array
    explicitly. n=1 returns the tokens themselves.

    CALLER CONTRACT: `arr` must be a MATERIALIZED column — i.e. the
    token array must cross an exchange (spread_input) or other
    barrier before this call. A bare projection is not enough:
    Catalyst collapses it and re-substitutes the tokenizer expression
    into every element_at inside the lambda, re-running the regex
    split once per gram (O(tokens²) per doc — cost groundedness 38 s
    at sf0.1 until its r8 fix; every in-repo caller follows the
    spread-then-gram shape)."""
    c = F.col(arr) if isinstance(arr, str) else arr
    if n == 1:
        return c
    return F.when(F.size(c) >= n, F.transform(
        F.sequence(F.lit(1), F.size(c) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(c, i + off) for off in range(n)]))
    ).otherwise(F.array().cast("array<string>"))


# UTF-8 text that was decoded as cp1252 somewhere upstream (the
# classic double-encoding accident: "Café" -> "CafÃ©"). The repair
# table is GENERATED, not hand-typed: for each target character,
# its mojibake form is utf8-bytes-read-as-cp1252; characters whose
# UTF-8 bytes hit cp1252's five undefined code points (81 8D 8F 90
# 9D) are skipped — they cannot round-trip and never appear in this
# corruption class. Reference tie: the charset-decode fallback of
# sources/files.py (SURVEY S7) handles BYTES that fail to decode;
# this handles text that decoded "successfully" but wrongly.
_MOJIBAKE_TARGETS = (
    "éèêëàâäöôû"
    "üïîçñßÉÈ"
    "’‘“–—…€° "
)


def mojibake_pairs() -> list[tuple[str, str]]:
    """(mojibake, repaired) pairs, longest mojibake first — the
    deterministic application order shared by the Spark expression
    and any SQL replay."""
    pairs = []
    for ch in _MOJIBAKE_TARGETS:
        try:
            moji = ch.encode("utf-8").decode("cp1252")
        except UnicodeDecodeError:
            continue
        pairs.append((moji, ch))
    pairs.sort(key=lambda p: (-len(p[0]), p[0]))
    return pairs


def repair_mojibake(col: Column | str) -> Column:
    """Undo UTF-8-read-as-cp1252 mojibake for the common Latin /
    punctuation repertoire: a chain of LITERAL replaces (JVM
    codegen, no regex, no Python) applied longest-sequence-first so
    three-byte sequences never get half-eaten by two-byte ones.
    ftfy's most common fix, reduced to an expression. Clean text is
    a fixed point (the replace chain finds nothing)."""
    c = F.col(col) if isinstance(col, str) else col
    for moji, ch in mojibake_pairs():
        c = F.replace(c, F.lit(moji), F.lit(ch))
    return c
