"""Named corpus-cleaning rule sets: Gopher quality rules and C4
line filters.

The two rule families every web-scale pretraining pipeline starts
from, re-expressed as zero-shuffle Column algebra (the reference's
quality surface stops at heuristic scores — functions/text.py
quality_score; these are the published, named filters):

- `gopher_quality_flags` — the Rae et al. 2021 (Gopher §A1.1)
  document-level rules: word-count band, mean-word-length band,
  symbol-to-word ratio, bullet/ellipsis line shares, alphabetic-word
  share, minimum stop-word hits.
- `c4_line_filter` — the Raffel et al. 2020 (C4) line rules:
  terminal punctuation, minimum words per line, no brace/lorem/
  javascript contamination, minimum surviving lines per doc.

Both are pure narrow maps (split → array algebra → aggregate over
the array, never over rows), so filtering 100 TB is embarrassingly
parallel: no shuffle, no UDF, WholeStageCodegen end-to-end — and
every rule is exactly replayable by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Gopher's required stop words (§A1.1): a document must contain at
#: least 2 of these to pass the stop-word rule.
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(docs: DataFrame, *, id_col: str = "doc_id",
                         text_col: str = "text",
                         min_words: int = 50, max_words: int = 100_000,
                         min_mean_len: float = 3.0,
                         max_mean_len: float = 10.0,
                         max_symbol_ratio: float = 0.1,
                         max_bullet_share: float = 0.9,
                         max_ellipsis_share: float = 0.3,
                         min_alpha_share: float = 0.8,
                         min_stop_hits: int = 2) -> DataFrame:
    """Per-document Gopher rule evaluation. Emits one boolean per
    rule plus the conjunction, and the measured statistics — the
    shape downstream mixing wants (filter OR reweight by flag).

    Columns: <id_col>, n_words, mean_word_len (round 4),
    symbol_ratio (round 6), bullet_share, ellipsis_share,
    alpha_share (round 6), stop_hits, pass_words, pass_mean_len,
    pass_symbols, pass_bullets, pass_ellipsis, pass_alpha,
    pass_stops, keep.
    """
    words = F.filter(F.split(F.col(text_col), r"\s+"),
                     lambda w: F.length(w) > 0)
    lines = F.filter(F.split(F.col(text_col), r"\n"),
                     lambda l: F.length(F.trim(l)) > 0)
    d = docs.select(F.col(id_col), F.col(text_col).alias("__t"),
                    words.alias("ws"), lines.alias("ls"))
    n_words = F.size("ws").cast("long")
    sum_len = F.aggregate("ws", F.lit(0),
                          lambda acc, w: acc + F.length(w))
    mean_len = F.round(sum_len.cast("double")
                       / F.greatest(n_words, F.lit(1)), 4)
    # Count symbol OCCURRENCES ('…' and '...' each weigh 1), not
    # characters removed — Gopher's symbol-to-word ratio counts
    # symbols, and chars-removed over-weighted ASCII '...' 3× vs its
    # Unicode twin (r4 ADVICE). '\\.\\.\\.' first so a literal '...'
    # is consumed whole rather than never matched.
    n_sym = F.regexp_count("__t", F.lit(r"\.\.\.|[#…]"))
    symbol_ratio = F.round(n_sym.cast("double")
                           / F.greatest(n_words, F.lit(1)), 6)
    n_lines = F.greatest(F.size("ls"), F.lit(1))
    bullet = F.size(F.filter(
        "ls", lambda l: F.trim(l).rlike(r"^(\-|\*|•)")))
    ellipsis = F.size(F.filter(
        "ls", lambda l: F.trim(l).rlike(r"(\.\.\.|…)$")))
    bullet_share = F.round(bullet.cast("double") / n_lines, 6)
    ellipsis_share = F.round(ellipsis.cast("double") / n_lines, 6)
    alpha = F.size(F.filter("ws", lambda w: w.rlike("[a-zA-Z]")))
    alpha_share = F.round(alpha.cast("double")
                          / F.greatest(n_words, F.lit(1)), 6)
    low = F.lower(F.col("__t"))
    stop_hits = sum(
        (F.when(F.array_contains(
            F.filter(F.split(low, r"[^a-z]+"),
                     lambda t: F.length(t) > 0), s), 1).otherwise(0)
         for s in GOPHER_STOPS),
        start=F.lit(0)).cast("long")
    out = (d.select(
        id_col,
        n_words.alias("n_words"), mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_share.alias("bullet_share"),
        ellipsis_share.alias("ellipsis_share"),
        alpha_share.alias("alpha_share"), stop_hits.alias("stop_hits"))
        .withColumn("pass_words", (F.col("n_words") >= min_words)
                    & (F.col("n_words") <= max_words))
        .withColumn("pass_mean_len",
                    (F.col("mean_word_len") >= min_mean_len)
                    & (F.col("mean_word_len") <= max_mean_len))
        .withColumn("pass_symbols", F.col("symbol_ratio") <= max_symbol_ratio)
        .withColumn("pass_bullets", F.col("bullet_share") <= max_bullet_share)
        .withColumn("pass_ellipsis",
                    F.col("ellipsis_share") <= max_ellipsis_share)
        .withColumn("pass_alpha", F.col("alpha_share") >= min_alpha_share)
        .withColumn("pass_stops", F.col("stop_hits") >= min_stop_hits))
    keep = (F.col("pass_words") & F.col("pass_mean_len")
            & F.col("pass_symbols") & F.col("pass_bullets")
            & F.col("pass_ellipsis") & F.col("pass_alpha")
            & F.col("pass_stops"))
    return out.withColumn("keep", keep)


def c4_line_filter(docs: DataFrame, *, id_col: str = "doc_id",
                   text_col: str = "text", min_line_words: int = 5,
                   min_lines: int = 3) -> DataFrame:
    """C4 cleaning: keep only lines that end in terminal punctuation
    and have >= `min_line_words` words; drop any line mentioning
    javascript, "lorem ipsum", or a curly brace; then drop documents
    with fewer than `min_lines` surviving lines. Returns the cleaned
    text with per-doc counters.

    Entirely array algebra over the line split — zero shuffles.
    Columns: <id_col>, n_lines, n_kept, clean_text.
    """
    lines = F.filter(F.split(F.col(text_col), r"\n"),
                     lambda l: F.length(F.trim(l)) > 0)

    def keep_line(l):  # noqa: E741
        t = F.trim(l)
        low = F.lower(t)
        n_w = F.size(F.filter(F.split(t, r"\s+"),
                              lambda w: F.length(w) > 0))
        return (t.rlike(r'[.!?"”]$')
                & (n_w >= min_line_words)
                & ~low.contains("javascript")
                & ~low.contains("lorem ipsum")
                & ~low.contains("{"))

    kept = F.filter(lines, keep_line)
    return (docs.select(F.col(id_col), lines.alias("ls"), kept.alias("ks"))
            .select(id_col,
                    F.size("ls").cast("long").alias("n_lines"),
                    F.size("ks").cast("long").alias("n_kept"),
                    F.array_join("ks", "\n").alias("clean_text"))
            .filter(F.col("n_kept") >= min_lines))


def gopher_repetition_flags(docs: DataFrame, *, id_col: str = "doc_id",
                            text_col: str = "text",
                            max_dup_line_frac: float = 0.30,
                            max_dup_para_frac: float = 0.30,
                            max_dup_line_char_frac: float = 0.20,
                            max_dup_para_char_frac: float = 0.20,
                            max_top2_char_frac: float = 0.20,
                            max_top3_char_frac: float = 0.18,
                            max_top4_char_frac: float = 0.16) -> DataFrame:
    """The Gopher REPETITION filters (Rae et al. 2021 §A1, the
    companion of gopher_quality_flags' §A1.1 rules; the same signal
    set Dolma/RedPajama/FineWeb ship): documents dominated by
    repeated lines, paragraphs, or a single hot n-gram are
    boilerplate/spam and poison LM training.

    Signals (all round 6; denominators floored at 1):
    - dup_line_frac / dup_para_frac — fraction of lines/paragraphs
      that are repeats of an earlier one (1 - distinct/total).
    - dup_line_char_frac / dup_para_char_frac — the same, weighted
      by characters (chars in occurrences beyond the first / chars
      in all occurrences).
    - top{2,3,4}gram_char_frac — characters covered by the single
      most frequent word n-gram: count(top gram) x chars(top gram)
      / total word chars. Ties break to the lexicographically
      smallest gram (deterministic, oracle-replayable).

    Plan shape: every signal is a function of ONE document, so the
    whole computation is a ZERO-shuffle mapInPandas: a C-speed
    Counter over n-gram tuples per doc (tuple order equals
    joined-string order because ' ' sorts below every [a-z0-9]
    token char, so the lexicographic tie-break is preserved). A
    relational form pays interpreted higher-order-function lambdas
    per token to build three word-n-gram streams plus a corpus-wide
    (doc, gram) exchange and window just to find each doc's hottest
    gram; this form measured ~6x faster at sf0.1.

    Rounding matches Spark's and DuckDB's round(): HALF_UP on the
    double's shortest decimal form, Decimal(repr(x)). Python's
    built-in round() (banker's) and Decimal(x) (the exact binary
    value: 3/640 = 0.00468749999… → 0.004687) both diverge on
    7th-decimal ties.
    Columns: <id_col>, dup_line_frac, dup_para_frac,
    dup_line_char_frac, dup_para_char_frac, top2gram_char_frac,
    top3gram_char_frac, top4gram_char_frac, pass_* per signal, keep.
    """
    import re
    from collections import Counter
    from collections.abc import Iterator
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    tok = re.compile(r"[a-z0-9]+")
    para_split = re.compile(r"\n{2,}")
    id_type = docs.schema[id_col].dataType.simpleString()
    schema = (f"{id_col} {id_type}, dup_line_frac double, "
              "dup_para_frac double, dup_line_char_frac double, "
              "dup_para_char_frac double, top2gram_char_frac double, "
              "top3gram_char_frac double, top4gram_char_frac double, "
              "pass_dup_line boolean, pass_dup_para boolean, "
              "pass_dup_line_chars boolean, pass_dup_para_chars boolean, "
              "pass_top2 boolean, pass_top3 boolean, pass_top4 boolean, "
              "keep boolean")

    def r6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                               rounding=ROUND_HALF_UP))

    def dup_frac(a: list) -> float:
        t = len(a)
        return r6((t - len(set(a))) / max(t, 1))

    def dup_char_frac(a: list) -> float:
        t = sum(map(len, a))
        return r6((t - sum(map(len, set(a)))) / max(t, 1))

    def run(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                # F.trim / DuckDB trim strip SPACES only — strip(' ')
                lines = [s for s in (l.strip(" ")
                                     for l in text.split("\n")) if s]
                paras = [s for s in (p.strip(" ")
                                     for p in para_split.split(text)) if s]
                ts = tok.findall(text.lower())
                wc = sum(map(len, ts))
                fr = {}
                for n in (2, 3, 4):
                    if len(ts) < n:
                        fr[n] = 0.0
                        continue
                    c = Counter(zip(*[ts[i:] for i in range(n)]))
                    # count desc, joined-gram asc — one min() on the
                    # negated-count pair
                    neg, gram = min((-v, " ".join(k))
                                    for k, v in c.items())
                    fr[n] = r6((-neg) * (len(gram) - (n - 1))
                               / max(wc, 1))
                d = dict(dup_line_frac=dup_frac(lines),
                         dup_para_frac=dup_frac(paras),
                         dup_line_char_frac=dup_char_frac(lines),
                         dup_para_char_frac=dup_char_frac(paras))
                p2 = fr[2] <= max_top2_char_frac
                p3 = fr[3] <= max_top3_char_frac
                p4 = fr[4] <= max_top4_char_frac
                pl = d["dup_line_frac"] <= max_dup_line_frac
                pp = d["dup_para_frac"] <= max_dup_para_frac
                plc = d["dup_line_char_frac"] <= max_dup_line_char_frac
                ppc = d["dup_para_char_frac"] <= max_dup_para_char_frac
                rows.append((did, d["dup_line_frac"], d["dup_para_frac"],
                             d["dup_line_char_frac"], d["dup_para_char_frac"],
                             fr[2], fr[3], fr[4],
                             pl, pp, plc, ppc, p2, p3, p4,
                             pl and pp and plc and ppc and p2 and p3 and p4))
            yield pd.DataFrame(rows, columns=[
                id_col, "dup_line_frac", "dup_para_frac",
                "dup_line_char_frac", "dup_para_char_frac",
                "top2gram_char_frac", "top3gram_char_frac",
                "top4gram_char_frac", "pass_dup_line", "pass_dup_para",
                "pass_dup_line_chars", "pass_dup_para_chars",
                "pass_top2", "pass_top3", "pass_top4", "keep"])

    return docs.select(id_col, text_col).mapInPandas(run, schema=schema)


def blocklist_filter(docs: DataFrame, blocked: list, *,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """C4-style blocklist gate (Raffel et al. 2020 §2.2 drop docs
    containing any "bad word"): flag every document whose TOKEN
    stream contains a blocked term — token-boundary matching, so
    'assembler' does not trip 'ass'. Zero shuffle: the stream is
    rebuilt in place and each blocked term is one literal instr
    probe (codegen substring search, no regex, no explode).

    Emits flags rather than dropping: pipelines audit what the gate
    removes (the keep/flag split rides into the funnel reports).
    Columns: <id_col>, n_blocked_terms, keep.
    """
    terms = sorted({t.lower() for t in blocked if t})
    assert terms, "blocklist must be non-empty"
    stream = F.concat(F.lit(" "),
                      F.regexp_replace(F.lower(F.col(text_col)),
                                       r"[^a-z0-9]+", " "),
                      F.lit(" "))
    d = docs.select(F.col(id_col), stream.alias("__s"))
    hits = sum((F.when(F.instr("__s", f" {t} ") > 0, 1).otherwise(0)
                for t in terms), start=F.lit(0))
    return (d.select(id_col,
                     hits.cast("long").alias("n_blocked_terms"))
            .withColumn("keep", F.col("n_blocked_terms") == 0))


def readability_scores(docs: DataFrame, *, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Flesch reading-ease + Flesch–Kincaid grade per document — the
    classic readability features a quality classifier consumes
    (too-low ease flags legalese/boilerplate, impossibly-high ease
    flags word salad): ease = 206.835 − 1.015·(words/sentences)
    − 84.6·(syllables/words); grade = 0.39·(words/sentences)
    + 11.8·(syllables/words) − 15.59.

    Syllables use the standard heuristic proxy — one vowel GROUP
    ([aeiouy]+) per syllable — and sentences are [.!?]+ runs
    (min 1 so headline-like docs stay defined). Everything is a
    regexp_count EXPRESSION on the scan: zero joins, zero shuffles,
    whole-stage-codegen all the way — the cheapest possible operator
    shape at any corpus size.

    Columns: <id_col>, n_words, n_sentences, n_syllables,
    flesch_ease, fk_grade (round 6; null for zero-word docs).
    """
    t = F.lower(F.col(text_col))
    words = F.size(F.filter(F.split(t, r"\s+"),
                            lambda w: F.length(w) > 0)).cast("double")
    sents = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")),
                       F.lit(1)).cast("double")
    syll = F.regexp_count(t, F.lit(r"[aeiouy]+")).cast("double")
    wps = words / sents
    spw = F.try_divide(syll, words)
    return docs.select(
        F.col(id_col),
        words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sentences"),
        syll.cast("long").alias("n_syllables"),
        F.round(F.when(words > 0,
                       206.835 - 1.015 * wps - 84.6 * spw), 6)
        .alias("flesch_ease"),
        F.round(F.when(words > 0,
                       0.39 * wps + 11.8 * spw - 15.59), 6)
        .alias("fk_grade"))
