"""Event-time operators — usable on BOTH batch and streaming frames.

Each builder takes a DataFrame (static or streaming) with an
event-time column and returns the transformed frame; the same
logical op is oracle-checked in batch (queries.py) and exercised
under `readStream` in tests (tests/test_streaming.py). That duality
is the point: Structured Streaming's incremental execution of the
identical plan replaces the reference's hand-rolled checkpoint
loops (code/embeddings.py:62-65,129-133).

Scale notes: watermarks bound state (late data beyond the horizon is
dropped, state for closed windows is evicted); session windows merge
per-key state and need the key in the groupBy to partition state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Bucket edges shared by `value_bucket_shares` (the reference) and
#: `batch_psi_gate` (the batch it is compared against).
PSI_EDGES = (10.0, 20.0, 40.0, 80.0)


def with_watermark(df: DataFrame, ts_col: str = "ts",
                   delay: str = "10 minutes") -> DataFrame:
    """Bound event-time lateness; on batch frames this is a no-op
    marker (Spark ignores watermarks in batch), so builders can be
    shared verbatim.

    Watermarks demand TIMESTAMP (not NTZ); the session is pinned UTC
    (catalog.load_table), so the cast is value-identity."""
    return (df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
            .withWatermark(ts_col, delay))


def tumbling_counts(df: DataFrame, *, ts_col: str = "ts",
                    keys: tuple[str, ...] = ("event_type",)) -> DataFrame:
    """Non-overlapping 1-hour event-time windows → count + value sum.
    Columns: window_start, *keys, cnt, total_value."""
    return (df.groupBy(F.window(ts_col, "1 hour").alias("w"), *keys)
            .agg(F.count("*").alias("cnt"),
                 F.round(F.sum("value"), 4).alias("total_value"))
            .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"), *keys, "cnt", "total_value"))


def sliding_counts(df: DataFrame, *, ts_col: str = "ts") -> DataFrame:
    """Overlapping 1-hour windows sliding by 30 minutes (each event
    lands in two windows).
    Columns: window_start, cnt."""
    return (df.groupBy(F.window(ts_col, "1 hour", "30 minutes").alias("w"))
            .agg(F.count("*").alias("cnt"))
            .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"), "cnt"))


def session_counts(df: DataFrame, *, ts_col: str = "ts", gap: str = "5 minutes",
                   key: str = "user_id") -> DataFrame:
    """Session windows: activity runs per key separated by > gap.
    Columns: <key>, session_start, cnt.

    In streaming this is merging keyed state; in batch Catalyst
    rewrites it to the same gaps-and-islands computation the oracle
    SQL spells out (queries.py session_window_events)."""
    return (df.groupBy(F.col(key), F.session_window(ts_col, gap).alias("w"))
            .agg(F.count("*").alias("cnt"))
            .select(key,
                    F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
                    .alias("session_start"), "cnt"))


def read_event_stream(spark, path: str, schema) -> DataFrame:
    """File-source stream over a directory of event files — the
    idiomatic replacement for resume-at-offset ingestion: the source
    tracks processed files in the checkpoint, so restarts are
    exactly-once without any manual bookkeeping
    (vs ID_matching_metadata.py:78-83's row-count resume)."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 16)  # I4 rate limiting, declaratively
            .parquet(path))


def to_memory_sink(df: DataFrame, name: str):
    """Test/debug sink: materialize a streaming aggregate into an
    in-memory table in complete mode. Returns the StreamingQuery."""
    return (df.writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True).start())


def dedup_events(df: DataFrame, *, key_cols: tuple[str, ...] = ("event_id",),
                 ts_col: str = "ts") -> DataFrame:
    """Exactly-once event dedup by key — at-least-once sources
    (replayed files, Kafka redeliveries) emit duplicates; this drops
    them. On a WATERMARKED stream Spark keeps per-key state only
    until the key's event time expires past the watermark
    (dropDuplicatesWithinWatermark — bounded state, the 100 TB
    requirement); on batch frames plain dropDuplicates is the same
    logical op. Key state is hash-partitioned, so dedup scales with
    the key space, not the stream length."""
    if df.isStreaming:
        return df.dropDuplicatesWithinWatermark(list(key_cols))
    return df.dropDuplicates(list(key_cols))


def foreach_batch_sink(df: DataFrame, write_fn, *, checkpoint: str):
    """Micro-batch sink: `write_fn(batch_df, batch_id)` runs once per
    micro-batch with a NORMAL batch DataFrame — the escape hatch for
    sinks Spark lacks connectors for (the reference's per-record
    status-log appends, S10/S12, map here). Exactly-once comes from
    the checkpoint: a restarted query re-offers a batch with the SAME
    batch_id, so an idempotent write_fn (write-by-batch-id path,
    upsert) never double-applies. Returns the StreamingQuery."""
    return (df.writeStream.foreachBatch(write_fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def view_to_purchase_joins(views: DataFrame, purchases: DataFrame, *,
                           ts_col: str = "ts",
                           key: str = "user_id") -> DataFrame:
    """Stream-stream inner join: purchases matched to a preceding
    view by the same user within 1 hour. On streams BOTH sides
    must carry watermarks (passed in pre-watermarked) and the join
    condition must bound event time on both ends — that bound is
    what lets Spark expire buffered state instead of holding each
    side forever; on batch frames the same expression is a plain
    range join. Columns: user_id, view_ts, purchase_ts, value.
    """
    v = views.select(F.col(key).alias("v_user"),
                     F.col(ts_col).alias("view_ts"))
    p = purchases.select(F.col(key).alias("p_user"),
                         F.col(ts_col).alias("purchase_ts"),
                         F.col("value"))
    cond = ((F.col("v_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(
                "INTERVAL 1 hour")))
    return (v.join(p, cond)
            .select(F.col("v_user").alias(key),
                    F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss")
                    .alias("view_ts"),
                    F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss")
                    .alias("purchase_ts"), "value"))


def enrich_with_dim(events: DataFrame, dim: DataFrame, *,
                    key_col: str = "user_id",
                    how: str = "left") -> DataFrame:
    """Stream-static enrichment join — the micro-batch-side lookup
    against a slowly-changing dimension (user segment, geo table,
    blocklist). On a streaming left side Spark re-plans the STATIC
    side per micro-batch, so a dim refresh (overwrite of the backing
    parquet) is picked up at the next trigger without restarting the
    query — the streaming analogue of the reference's per-run
    listing reload (download_image_files.py:15-17).

    The dim is broadcast (per-batch lookup joins must never shuffle
    the stream); works identically on batch frames, which is how the
    oracle checks it. Stateless — no watermark required, any output
    mode.
    """
    return events.join(F.broadcast(dim), key_col, how)


def _psi_bucket(value_col: str):
    """Bucket index 0..len(PSI_EDGES) of a value: the first edge it
    is below, else the last bucket."""
    v = F.col(value_col).cast("double")
    bucket = F.lit(len(PSI_EDGES))
    for i, e in reversed(list(enumerate(PSI_EDGES))):
        bucket = F.when(v < e, F.lit(i)).otherwise(bucket)
    return bucket


def batch_psi_gate(events: DataFrame, ref_shares: DataFrame, *,
                   value_col: str = "value") -> DataFrame:
    """Per-micro-batch population-stability gate: bucket the batch's
    values against the fixed PSI_EDGES, compare shares to a broadcast
    reference distribution, and emit one PSI row per trigger —
    the streaming ingest-drift alarm (run inside foreachBatch; on a
    batch frame it is the one-shot audit the oracle replays).

    PSI = Σ (p_b − q_b)·ln(p_b / q_b) over buckets, with the
    standard 1e-6 floor on both shares so empty buckets stay finite.
    One map-side-combined bucket count + a ≤|edges|+1-row broadcast
    join; nothing above bucket granularity moves. The alert fires at
    PSI > 0.2.

    `ref_shares`: (bucket, q) — one row per bucket 0..len(PSI_EDGES)
    (it is the spine the batch counts left-join onto, so it must
    cover every bucket), q summing to 1. An empty batch reports
    n=0 and alert=false (no evidence is not drift).
    Columns out: n, psi, alert.
    """
    cnt = (events.select(_psi_bucket(value_col).alias("bucket"))
           .groupBy("bucket").agg(F.count("*").alias("__c")))
    tot = cnt.agg(F.sum("__c").cast("double").alias("__t"))
    c = F.coalesce(F.col("__c"), F.lit(0))
    p = F.greatest(c / F.col("__t"), F.lit(1e-6))
    q = F.greatest(F.col("q"), F.lit(1e-6))
    return (ref_shares.join(cnt, "bucket", "left")
            .crossJoin(F.broadcast(tot))
            .select(c.alias("__n"), ((p - q) * F.log(p / q)).alias("__term"))
            .agg(F.sum("__n").cast("long").alias("n"),
                 F.round(F.sum("__term"), 6).alias("psi"))
            .withColumn("alert",
                        (F.col("n") > 0)
                        & (F.col("psi") > 0.2)))


def value_bucket_shares(df: DataFrame, *,
                        value_col: str = "value") -> DataFrame:
    """Reference-distribution builder for batch_psi_gate: bucket
    shares over the FULL spine 0..len(PSI_EDGES) (missing buckets
    zero-filled, so the gate's left-join spine requirement holds).
    Columns: bucket, q."""
    cnt = (df.select(_psi_bucket(value_col).alias("bucket"))
           .groupBy("bucket").agg(F.count("*").alias("__c")))
    tot = cnt.agg(F.sum("__c").cast("double").alias("__t"))
    spine = (df.sparkSession.range(len(PSI_EDGES) + 1)
             .select(F.col("id").cast("int").alias("bucket")))
    return (spine.join(F.broadcast(cnt), "bucket", "left")
            .crossJoin(F.broadcast(tot))
            .select("bucket",
                    (F.coalesce("__c", F.lit(0)) / F.col("__t"))
                    .alias("q")))
