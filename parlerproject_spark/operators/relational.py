"""Relational operators re-expressing the reference's membership,
resume, and enrichment patterns (SURVEY §2.4-2.8).

Scale notes (these hold at 100 TB, not just the test SFs):
- semi/anti joins against small key sets broadcast — no shuffle of
  the big side. That is exactly the reference's shape: a ~68k-row
  GPS-detected list driving extraction from a ~1M-member archive
  (analysis/preview_data.ipynb:127-129).
- top-k goes through TakeOrderedAndProject (per-partition heap, then
  k-merge on the driver) — never a global sort.
- share-of-total uses a single-pass window over the grouped result
  (tiny), not a second scan of the fact table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def semi_join(big: DataFrame, keys: DataFrame,
              on: str | Sequence[str]) -> DataFrame:
    """Membership filter: rows of `big` whose key appears in `keys`.

    Reference semantics: extract only tar members named in the
    GPS-detected list (analysis/preview_data.ipynb:127-129,312-316;
    planned in code/data_processing_scripts/create_metadata_df.py:9-12).
    Broadcast — the key list is the small side by construction.
    """
    return big.join(F.broadcast(keys), on=on, how="left_semi")


def anti_join(work: DataFrame, done: DataFrame,
              on: str | Sequence[str]) -> DataFrame:
    """Remaining-work filter: rows of `work` with no match in `done`.

    The idiomatic replacement for all three of the reference's resume
    mechanisms: skip-if-output-exists (code/htmlConverter.py:52-54),
    resume-at-listing-offset (download_image_files.py:20-23), and
    resume-by-log-row-count (ID_matching_metadata.py:25-30,78-83).
    Running it twice yields zero rows the second time — idempotent by
    construction instead of by checkpoint file. The done set is
    broadcast.
    """
    return work.join(F.broadcast(done), on=on, how="left_anti")


def lookup_join(facts: DataFrame, dim: DataFrame,
                on: str | Sequence[str]) -> DataFrame:
    """Dimension enrichment (reference: per-topic Count lookup,
    code/bertopicTest.py:93-97). Small dim → broadcast inner hash
    join, no shuffle of the fact side."""
    return facts.join(F.broadcast(dim), on=on, how="inner")


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Deterministic top-k. Callers must include a unique tie-break
    column in `order` (SURVEY §7.3 determinism note). Spark plans
    this as TakeOrderedAndProject — O(k) memory per partition."""
    return df.orderBy(*order).limit(k)


def share_of_total(df: DataFrame, group_col: str, *,
                   count_alias: str = "cnt", pct_alias: str = "pct") -> DataFrame:
    """Group count + percent-of-total (reference: per-topic share,
    code/bertopicTest.py:107-112). One aggregation, then an
    unpartitioned window over the already-tiny grouped result."""
    counts = df.groupBy(group_col).agg(F.count("*").alias(count_alias))
    total = Window.partitionBy()
    return counts.withColumn(
        pct_alias,
        F.round(F.col(count_alias) / F.sum(count_alias).over(total) * 100.0, 6),
    )


def union_by_name(parts: Sequence[DataFrame]) -> DataFrame:
    """Schema-merging union (reference: NaN-padded pd.concat loop over
    68,588 ragged frames, preview_data.ipynb:312-316). Built as one
    balanced unionByName(allowMissingColumns=True) — never an
    iterative left-deep chain, which explodes the logical plan
    (SURVEY §4 U1)."""
    if not parts:
        raise ValueError("union_by_name needs at least one DataFrame")
    frames = list(parts)
    # Balanced pairwise fold keeps the plan tree O(log n) deep.
    while len(frames) > 1:
        nxt = []
        for i in range(0, len(frames) - 1, 2):
            nxt.append(frames[i].unionByName(frames[i + 1], allowMissingColumns=True))
        if len(frames) % 2:
            nxt.append(frames[-1])
        frames = nxt
    return frames[0]


def range_join(facts: DataFrame, intervals: DataFrame, *, value_col: str,
               lo_col: str = "lo", hi_col: str = "hi") -> DataFrame:
    """Non-equi interval join: fact.value ∈ [lo, hi).

    The interval side is a handful of rows by construction (tiers,
    buckets, calendars) → broadcast nested-loop, which at any fact
    scale is a narrow map over the facts. If intervals ever grow
    large, bucketize into an equi-join on overlapping bucket ids
    instead — never BNLJ two big sides.
    """
    cond = (F.col(value_col) >= intervals[lo_col]) & (F.col(value_col) < intervals[hi_col])
    return facts.join(F.broadcast(intervals), cond, "left")


def sessionize(events: DataFrame, *, key_col: str = "user_id",
               ts_col: str = "ts", id_col: str = "event_id",
               gap_seconds: int = 1800) -> DataFrame:
    """Batch sessionization: consecutive events of a key belong to
    one session while the gap to the previous event is <= gap
    (strictly-greater gap starts a new session). The batch twin of
    Structured Streaming's session_window, kept deterministic with
    (ts, id) ordering so ties never flap.

    lag + running sum over ONE (partition, order): a single exchange
    on the key and a single sort — both window passes share the
    frame, so Catalyst plans one Window operator chain, and the
    per-key state is a sort Spark spills, never a materialized group.
    Adds `session_no` (1-based per key).
    """
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).asc(),
                                            F.col(id_col).asc())
    prev = F.lag(ts_col).over(w)
    # timestamp-minus-timestamp compared against an INTERVAL literal:
    # exact to the microsecond, works for TIMESTAMP and TIMESTAMP_NTZ
    # alike, and never routes through epoch seconds (which would
    # truncate sub-second gaps or drag session-timezone semantics in)
    gap = F.expr(f"INTERVAL {int(gap_seconds)} SECONDS")
    is_break = F.when(
        prev.isNull() | ((F.col(ts_col) - prev) > gap),
        F.lit(1)).otherwise(F.lit(0))
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.withColumn(
        "session_no", F.sum(is_break).over(running).cast("long"))


def asof_join(left: DataFrame, right: DataFrame, *, on: str,
              left_ts: str = "ts", right_ts: str = "ts",
              right_payload: Sequence[str] = ()) -> DataFrame:
    """Backward (inclusive) as-of join: for each left row, the most
    recent right row of the same key with right.ts <= left.ts.

    Implemented as UNION + WINDOW, not join-then-reduce: tag both
    streams, sort each key's timeline once, and carry the latest
    right payload forward with last(..., ignoreNulls). ONE shuffle on
    the key — the per-key timeline never materializes the left×right
    cross section, which is what makes this hold at 100 TB (a
    join-on-inequality would explode per hot key). Matches DuckDB
    ASOF JOIN semantics (ties: right row at equal ts matches).

    Output: all left columns + right_ts aliased `matched_ts` +
    `right_payload` columns (NULL when nothing precedes).
    """
    lcols = left.columns
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__is_right"),
        F.struct(F.col(right_ts).alias("matched_ts"),
                 *[F.col(c) for c in right_payload]).alias("__payload"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lcols if c != on],
    )
    l = left.select(
        F.col(on),
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__is_right"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        *[F.col(c) for c in lcols if c != on],
    )
    timeline = r.unionByName(l)
    w = (Window.partitionBy(on)
         .orderBy(F.col("__ts").asc(), F.col("__is_right").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = timeline.withColumn(
        "__match", F.last("__payload", ignorenulls=True).over(w))
    out_cols = [F.col(on)] + [F.col(c) for c in lcols if c != on] \
        + [F.col("__match.matched_ts").alias("matched_ts")] \
        + [F.col(f"__match.{c}").alias(c) for c in right_payload]
    return carried.filter(F.col("__is_right") == 0).select(*out_cols)
