"""Fuzzy (edit-distance) entity matching.

Entity resolution over dirty string keys — product names, author
strings, URLs — is blocked-candidate generation plus a verify
metric, never an all-pairs scan: records meet only inside a shared
BLOCK (a cheap canonical key: a token, a prefix, a phonetic code),
and the quadratic levenshtein() runs on candidates only. Same
inverted-index shape as the n-gram/fingerprint dedup operators, so
the same 100 TB properties hold: candidate volume follows block
sizes, hub blocks should be capped upstream if the key distribution
is skewed, and everything after the block join shuffles ids only.

levenshtein() is a JVM built-in in Spark and a native function in
DuckDB with the identical classic unit-cost definition — so the
whole operator is oracle-replayable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def last_token(col: Column | str) -> Column:
    """Blocking key: the final whitespace token (for adjective–noun
    style names, the head noun)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.split(c, " "), -1)


def fuzzy_pairs(df: DataFrame, *, id_col: str, text_col: str,
                max_dist: int) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing a `last_token` block
    whose texts are within max_dist edits. Columns: id_a, id_b, dist."""
    t = df.select(F.col(id_col).alias("k"), F.col(text_col).alias("n"),
                  last_token(text_col).alias("blk"))
    a, b = t.alias("a"), t.alias("b")
    return (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                   & (F.col("a.k") < F.col("b.k")))
            .select(F.col("a.k").alias("id_a"), F.col("b.k").alias("id_b"),
                    F.levenshtein(F.col("a.n"), F.col("b.n")).alias("dist"))
            .filter(F.col("dist") <= max_dist))


def fuzzy_best_match(df: DataFrame, *, id_col: str, text_col: str,
                     max_dist: int,
                     block: Column | None = None) -> DataFrame:
    """Best fuzzy match per record (the ER resolution step): among
    same-block candidates within max_dist edits, keep the one with
    the smallest distance, ties to the lowest candidate id. Records
    with no candidate are omitted (an anti-joinable "unmatched" set).
    Columns: <id_col>, match_id, dist."""
    blk = (block if block is not None else last_token(text_col)) \
        .alias("blk")
    t = df.select(F.col(id_col).alias("k"), F.col(text_col).alias("n"), blk)
    a, b = t.alias("a"), t.alias("b")
    cand = (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                   & (F.col("a.k") != F.col("b.k")))
            .select(F.col("a.k").alias(id_col),
                    F.col("b.k").alias("match_id"),
                    F.levenshtein(F.col("a.n"), F.col("b.n")).alias("dist"))
            .filter(F.col("dist") <= max_dist))
    w = Window.partitionBy(id_col).orderBy(F.col("dist").asc(),
                                           F.col("match_id").asc())
    return (cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(id_col, "match_id", "dist"))
