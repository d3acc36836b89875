"""Incremental time-bucketed rollups + mergeable-sketch aggregation.

The 100 TB pre-aggregation pattern behind every petabyte OLAP serving
layer (the "hypertable rollup" / incremental-materialized-view
shape): keep one PARTIAL aggregate row per (time bucket, key) and
maintain it by merging deltas — a refresh touches only the buckets
the delta lands in, never the raw history. Serving reads the partial
table (days→months via re-aggregation), also never the raw events.

This works exactly when every measure is mergeable:
  count/sum      merge = sum of partials
  min/max        merge = min/max of partials
  distinct count HLL sketch        (F.hll_sketch_agg / hll_union_agg)
  set overlap    theta sketch      (F.theta_sketch_agg / theta_*)
  quantiles      KLL sketch        (F.kll_sketch_agg_* / merge)
avg derives from (sum, count) at read time; exact median does NOT
merge — that is what the KLL sketch is for.

The reference has no incremental layer (it recomputes per run); this
generalizes its per-run metrics (code/metrics, SURVEY §2.11) to the
shape a standing 100 TB corpus needs. All plans are one hash
exchange per aggregation — partial rows only, never raw data.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: partial-state measure columns produced per (bucket, keys) row
_STATE_COLS = ("n_rows", "sum_value", "min_value", "max_value")


def partial_rollup(events: DataFrame, *, bucket: F.Column,
                   key_cols: Sequence[str], value_col: str,
                   bucket_alias: str = "bucket") -> DataFrame:
    """One partial-aggregate row per (bucket, key): the mergeable
    state (count, sum, min, max) of `value_col`. One hash exchange;
    map-side partial aggregation halves the shuffle by construction.
    """
    return (events
            .groupBy(bucket.alias(bucket_alias), *key_cols)
            .agg(F.count("*").alias("n_rows"),
                 F.sum(value_col).alias("sum_value"),
                 F.min(value_col).alias("min_value"),
                 F.max(value_col).alias("max_value")))


def merge_rollups(*rollups: DataFrame) -> DataFrame:
    """Fold any number of partial tables into one — the incremental
    refresh step. Union (zero shuffle) + one re-aggregation on
    (bucket, keys); overlapping buckets merge, disjoint ones pass
    through. Associative and commutative, so deltas can land in any
    order and any batching."""
    assert rollups, "merge_rollups needs at least one input"
    out = rollups[0]
    for r in rollups[1:]:
        out = out.unionByName(r)
    group_cols = [c for c in out.columns if c not in _STATE_COLS]
    return (out.groupBy(*group_cols)
            .agg(F.sum("n_rows").alias("n_rows"),
                 F.sum("sum_value").alias("sum_value"),
                 F.min("min_value").alias("min_value"),
                 F.max("max_value").alias("max_value")))


def coarsen_rollup(rollup: DataFrame, *, bucket: F.Column,
                   key_cols: Sequence[str],
                   bucket_alias: str = "bucket") -> DataFrame:
    """Serve a coarser grain from the partial table (day rows →
    month totals): re-aggregate the PARTIALS under the coarser
    bucket expression — the raw events are never read again."""
    return (rollup
            .groupBy(bucket.alias(bucket_alias), *key_cols)
            .agg(F.sum("n_rows").alias("n_rows"),
                 F.sum("sum_value").alias("sum_value"),
                 F.min("min_value").alias("min_value"),
                 F.max("max_value").alias("max_value")))


def finalize_rollup(rollup: DataFrame) -> DataFrame:
    """Read-time derived measures: avg from (sum, count). Kept out
    of the state — avg does not merge, its components do."""
    return rollup.withColumn(
        "avg_value", F.col("sum_value") / F.col("n_rows"))


def rollup_sink(stream_events: DataFrame, path: str, *, bucket: F.Column,
                key_cols: Sequence[str], value_col: str,
                checkpoint: str, bucket_alias: str = "bucket"):
    """Maintain the partial table FROM A STREAM: each micro-batch
    aggregates to partial rows (batch-local groupBy — tiny) and lands
    them under `path`/batch=<id>. Replayed batches overwrite their own
    subdirectory, so the sink is idempotent across restarts (same
    exactly-once recipe as streaming/events.foreach_batch_sink).
    Serving merges partials at read time (`serve_rollup`); nothing
    ever rewrites history, a refresh only ADDS partial rows — the
    incremental-materialized-view maintenance loop at stream pace.
    Returns the started StreamingQuery."""
    import os

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = partial_rollup(batch_df, bucket=bucket, key_cols=key_cols,
                              value_col=value_col,
                              bucket_alias=bucket_alias)
        part.write.mode("overwrite").parquet(
            os.path.join(path, f"batch={batch_id}"))

    return (stream_events.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def serve_rollup(spark, path: str) -> DataFrame:
    """Read-side merge of every batch's partial rows → one row per
    (bucket, keys). The only full pass is over PARTIAL rows (batches
    × buckets × keys — orders of magnitude under the raw stream).
    The `batch` directory column must NOT survive into the merge
    group-by — it exists only for replay idempotency; leaving it in
    would keep per-batch rows separate instead of folding them."""
    return merge_rollups(spark.read.parquet(path).drop("batch"))


# ---------------------------------------------------------------------------
# Mergeable sketches (Apache DataSketches via Spark 4 built-ins)
# ---------------------------------------------------------------------------


def distinct_sketch_rollup(events: DataFrame, *, bucket: F.Column,
                           key_cols: Sequence[str], id_col: str,
                           bucket_alias: str = "bucket") -> DataFrame:
    """Per-(bucket, key) HLL sketch of `id_col` — the mergeable
    distinct-count state. lg_k = 12 ⇒ ~1.6 kB per sketch, ~1.6%
    relative error; the whole partial table for a year of daily
    buckets × 1k keys is ~600 MB — served from memory while the raw
    100 TB stays cold."""
    return (events
            .groupBy(bucket.alias(bucket_alias), *key_cols)
            .agg(F.hll_sketch_agg(F.col(id_col), F.lit(12))
                 .alias("hll_state")))


def merge_distinct_sketches(rollup: DataFrame, *,
                            key_cols: Sequence[str]) -> DataFrame:
    """Collapse sketch partials across buckets → one estimate per
    key. hll_union_agg merges sketch STATE (set semantics: an id
    seen in many buckets counts once) — summing per-bucket distinct
    counts would double-count movers; merging sketches cannot."""
    return (rollup.groupBy(*key_cols)
            .agg(F.hll_sketch_estimate(
                F.hll_union_agg(F.col("hll_state")))
                .alias("approx_distinct")))


def theta_segment_sketches(events: DataFrame, *, segment_col: str,
                           id_col: str) -> DataFrame:
    """One theta sketch per segment — unlike HLL, theta supports
    intersection/difference, i.e. audience-overlap algebra."""
    return (events.groupBy(segment_col)
            .agg(F.theta_sketch_agg(F.col(id_col)).alias("theta_state")))


def theta_overlap(sketches: DataFrame, *, segment_col: str,
                  seg_a: str, seg_b: str) -> DataFrame:
    """|A|, |B|, |A∩B|, |A∪B| estimates for two segments from their
    sketches alone (driver never sees ids). Two broadcast-sized
    single-row sides — the raw table is untouched."""
    a = sketches.filter(F.col(segment_col) == seg_a) \
        .select(F.col("theta_state").alias("sa"))
    b = sketches.filter(F.col(segment_col) == seg_b) \
        .select(F.col("theta_state").alias("sb"))
    both = a.crossJoin(F.broadcast(b))
    return both.select(
        F.theta_sketch_estimate(F.col("sa")).alias("n_a"),
        F.theta_sketch_estimate(F.col("sb")).alias("n_b"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("sa"), F.col("sb"))).alias("n_both"),
        F.theta_sketch_estimate(
            F.theta_union(F.col("sa"), F.col("sb"))).alias("n_either"))


def quantile_sketch_rollup(events: DataFrame, *, bucket: F.Column,
                           key_cols: Sequence[str], value_col: str,
                           bucket_alias: str = "bucket") -> DataFrame:
    """Per-(bucket, key) KLL sketch (k = 200) of a double measure — mergeable
    quantile state (exact median/p99 do NOT merge across partials;
    the sketch is the scalable substitute)."""
    return (events
            .groupBy(bucket.alias(bucket_alias), *key_cols)
            .agg(F.kll_sketch_agg_double(
                F.col(value_col).cast("double"), F.lit(200))
                .alias("kll_state")))


def merge_quantile_sketches(rollup: DataFrame, *,
                            key_cols: Sequence[str]) -> DataFrame:
    """Merge KLL partials across buckets and read out quantiles —
    columns q_50, q_95, q_99 per key.

    Spark exposes KLL merge only as the pairwise scalar
    `kll_sketch_merge_double` (no merge AGGREGATE, unlike
    hll_union_agg), so the cross-bucket fold is collect_list + a HOF
    reduce over the sketch buffers. Safe because the list length is
    the number of BUCKETS per key (e.g. 365 for a year of days) —
    bounded by construction, independent of row count."""
    merged = (rollup.groupBy(*key_cols)
              .agg(F.collect_list("kll_state").alias("states"))
              .withColumn(
                  "kll",
                  F.aggregate(
                      F.slice(F.col("states"), 2,
                              F.greatest(F.size("states") - 1, F.lit(0))),
                      F.element_at(F.col("states"), 1),
                      lambda acc, x: F.kll_sketch_merge_double(acc, x))))
    cols = [
        F.kll_sketch_get_quantile_double(F.col("kll"), F.lit(float(q)))
        .alias(f"q_{int(q * 100)}")
        for q in (0.5, 0.95, 0.99)
    ]
    return merged.select(*key_cols, *cols)


# ---------------------------------------------------------------------------
# Relational mergeable summaries: count-min (frequency) and Bloom
# (membership). Unlike the DataSketches binaries above, these are
# plain keyed tables — mergeable by sum / union, servable by join,
# and exactly replayable by the DuckDB oracle (every hash is md5).
# ---------------------------------------------------------------------------

#: count-min geometry: depth rows x width buckets. eps ~ e/width,
#: delta ~ e^-depth => width 1024 gives ~0.27% of stream length
#: overcount at 4-row confidence 98%.
CMS_DEPTH = 4
CMS_WIDTH = 1024


def _cms_bucket(key: F.Column, row: F.Column) -> F.Column:
    """Bucket index of `key` under hash-row `row`: first 8 hex chars
    of md5(row:key) mod width — engine-portable (the oracle writes
    ('0x' || substr(md5(...), 1, 8))::BIGINT % width)."""
    h = F.md5(F.concat_ws(":", row.cast("string"), key.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
            % F.lit(CMS_WIDTH))


def cms_rollup(events: DataFrame, *, bucket: F.Column, key_col: str,
               bucket_alias: str = "bucket") -> DataFrame:
    """Per-bucket count-min sketch of `key_col` as a relational
    table: one row per (bucket, row, idx) with the collision-summed
    count. The whole partial is at most depth x width rows per time
    bucket (4096 here) REGARDLESS of stream size — the heavy-hitter
    frequency state a 100 TB event stream compacts into.

    Plan: one explode (x depth) + one keyed aggregation with
    map-side combine. Columns: <bucket_alias>, row, idx, c.
    """
    rows = F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1)))
    return (events
            .select(bucket.alias(bucket_alias),
                    F.col(key_col).alias("k"))
            .withColumn("row", rows)
            .groupBy(bucket_alias, "row",
                     _cms_bucket(F.col("k"), F.col("row")).alias("idx"))
            .agg(F.count("*").alias("c")))


def merge_cms(rollup: DataFrame) -> DataFrame:
    """Collapse CMS partials across time buckets: counts are linear,
    so merge = sum per (row, idx). Columns: row, idx, c."""
    return rollup.groupBy("row", "idx").agg(F.sum("c").alias("c"))


def cms_estimate(cms: DataFrame, probes: DataFrame, *,
                 key_col: str) -> DataFrame:
    """Point-frequency estimates for `probes[key_col]` from a merged
    CMS: est(k) = min over hash rows of the bucket count (never an
    undercount; overcount bounded by collisions). The probe side
    explodes x depth and joins the 4096-row sketch — broadcast the
    SKETCH, not the probes, so any number of probes streams through.
    Columns: <key_col>, est.
    """
    rows = F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1)))
    keyed = (probes.select(F.col(key_col).alias("k"))
             .withColumn("row", rows)
             .withColumn("idx", _cms_bucket(F.col("k"), F.col("row"))))
    return (keyed.join(F.broadcast(cms), ["row", "idx"], "left")
            .groupBy("k")
            .agg(F.min(F.coalesce("c", F.lit(0))).cast("long").alias("est"))
            .withColumnRenamed("k", key_col))


#: Bloom geometry: m bits, d hashes. m=65536, d=4 => ~1.2% FPR at
#: 8k members, degrading gracefully (the verify join keeps the
#: OUTPUT exact at any FPR).
BLOOM_BITS = 65536
BLOOM_HASHES = 4


def bloom_build(seen: DataFrame, *, key_col: str) -> DataFrame:
    """Membership summary of `seen[key_col]`: the DISTINCT set-bit
    positions under d md5 hash rows — at most m rows total no matter
    how many keys went in (the "have we crawled this URL before"
    state for a 100 TB history, servable without touching it).
    Mergeable across shards/days by plain union+distinct.
    Columns: pos.
    """
    rows = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_HASHES - 1)))
    h = F.md5(F.concat_ws(":", F.col("row").cast("string"),
                          F.col("k").cast("string")))
    pos = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
           % F.lit(BLOOM_BITS))
    return (seen.select(F.col(key_col).alias("k"))
            .withColumn("row", rows)
            .select(pos.alias("pos"))
            .distinct())


def bloom_incremental_dedup(batch: DataFrame, seen: DataFrame, *,
                            key_col: str) -> DataFrame:
    """Incremental exact dedup with a Bloom pre-filter: batch keys
    whose d bit positions are not ALL set are DEFINITELY new and
    skip the expensive check; only the maybe-members anti-join the
    full history. Output == plain anti-join exactly (the Bloom can
    only false-positive, and false positives go through the exact
    check) — but at 100 TB the anti-join side shrinks from |batch|
    to |hits ∪ false positives|.

    The m-bounded bit table broadcasts; everything keyed on batch
    keys stays a shuffle join (maybe-set size is workload-dependent,
    so the broadcast decision is AQE's — the r3-verdict rule about
    candidate sets). Columns: batch's, unchanged.
    """
    bits = bloom_build(seen, key_col=key_col)
    rows = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_HASHES - 1)))
    h = F.md5(F.concat_ws(":", F.col("row").cast("string"),
                          F.col("k").cast("string")))
    pos = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
           % F.lit(BLOOM_BITS))
    # keys whose d positions are ALL set; a key with zero set
    # positions drops out at the semi join (definitely new)
    maybe_keys = (batch.select(F.col(key_col).alias("k")).distinct()
                  .withColumn("row", rows)
                  .withColumn("pos", pos)
                  .join(F.broadcast(bits), "pos", "left_semi")
                  .groupBy("k").agg(F.count("*").alias("nset"))
                  .filter(F.col("nset") == BLOOM_HASHES)
                  .select(F.col("k").alias(key_col)))
    # ONE batch pass: every seen∩batch key necessarily passes the
    # Bloom (no false negatives), so batch ANTI (seen SEMI maybe)
    # equals the old definitely_new ∪ verified_new split exactly —
    # while reading batch once instead of three times, and the
    # anti-join's right side is the maybe-shrunk history either way
    relevant = seen.select(key_col).join(maybe_keys, key_col,
                                         "left_semi")
    return batch.join(relevant, key_col, "left_anti")


def cms_sink(stream_events: DataFrame, path: str, *, key_col: str,
             checkpoint: str):
    """Maintain a count-min sketch FROM A STREAM — streaming heavy
    hitters: each micro-batch folds its keys into a batch-local CMS
    (4096-row partial) landed under `path`/batch=<id>; replayed
    batches overwrite their own subdirectory (idempotent, same
    recipe as rollup_sink). CMS counts are linear, so serving merges
    partials by plain sum — `serve_cms` — and estimates are
    available mid-stream at any time. Returns the StreamingQuery."""
    import os

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = cms_rollup(batch_df, bucket=F.lit(0), key_col=key_col)
        part.write.mode("overwrite").parquet(
            os.path.join(path, f"batch={batch_id}"))

    return (stream_events.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def serve_cms(spark, path: str) -> DataFrame:
    """Read-side merge of streamed CMS partials → one sketch. Only
    partial rows are read (batches × 4096), never the stream."""
    return merge_cms(spark.read.parquet(path).drop("batch", "bucket"))


def decayed_rollup_serve(rollup: DataFrame, *, key_cols: Sequence[str],
                         now: F.Column, half_life_days: float = 7.0,
                         bucket_col: str = "bucket") -> DataFrame:
    """Exponentially-decayed totals served FROM THE PARTIAL TABLE —
    the trending/freshness read: score(key) = sum over buckets of
    n_rows * 0.5^(age_days / half_life). A plain EWMA is not
    mergeable, but bucket-grained decay IS — the decay factor is a
    function of the bucket timestamp alone, so it applies at read
    time over partial rows and the maintenance loop (rollup_sink /
    merge_rollups) never changes. Raw history stays cold.
    Columns: <key_cols>, decayed_n (round 6), n_rows.
    """
    age_days = (now.cast("double") - F.col(bucket_col).cast("double")) \
        / 86400.0
    wgt = F.pow(F.lit(0.5), age_days / F.lit(half_life_days))
    return (rollup
            .select(*key_cols, F.col("n_rows"),
                    (F.col("n_rows") * wgt).alias("dn"))
            .groupBy(*key_cols)
            .agg(F.round(F.sum("dn"), 6).alias("decayed_n"),
                 F.sum("n_rows").alias("n_rows")))


def retractable_rollup(events: DataFrame, *, bucket: F.Column,
                       key_cols: Sequence[str], value_col: str,
                       op_col: str,
                       bucket_alias: str = "bucket") -> DataFrame:
    """Delete-aware partial rollup: rows carry +1 (upsert) / -1
    (retraction) in `op_col`, and the partial state keeps only the
    LINEAR measures (count, sum) — the ones where a retraction is
    algebraic (merge with negated partials). min/max are
    deliberately absent: they are NOT retractable (removing the
    current min needs the runner-up, i.e. raw history), which is
    exactly why production retractable views (Flink, Materialize)
    restrict to linear aggregates or keep per-group full state.

    Merging is plain merge_rollups-style summation, so a CDC stream
    of inserts and deletes maintains the rollup incrementally and
    the result equals recomputing over the surviving rows — pytest
    pins that equality. Rows: one per (bucket, keys) with n_rows,
    sum_value (groups that net to zero rows are dropped).
    """
    part = (events
            .groupBy(bucket.alias(bucket_alias), *key_cols)
            .agg(F.sum(F.col(op_col)).alias("n_rows"),
                 F.sum(F.col(op_col) * F.col(value_col))
                 .alias("sum_value")))
    return part.filter(F.col("n_rows") != 0)


def merge_retractable(*parts: DataFrame) -> DataFrame:
    """Fold retractable partials (same shape as merge_rollups, minus
    min/max): union + one re-aggregation; zero-net groups drop."""
    assert parts, "merge_retractable needs at least one input"
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    keys = [c for c in out.columns if c not in ("n_rows", "sum_value")]
    return (out.groupBy(*keys)
            .agg(F.sum("n_rows").alias("n_rows"),
                 F.sum("sum_value").alias("sum_value"))
            .filter(F.col("n_rows") != 0))
