"""Physical layout operators: bucketing, partitioned tables, z-order.

At 100 TB the dominant cost of repeated joins/aggs on the same key
is the shuffle. Bucketing pre-shuffles ONCE at write time: two
tables bucketed by the same key into the same bucket count join with
ZERO exchanges (tests/test_layout.py proves it on the plan). This is
the engine's answer for the reference's repeatedly-joined keys
(filename across listing/status/metadata; doc_id across
documents/embeddings/topics).

Z-ordering is the second layout lever: a single sort key that
interleaves the bits of SEVERAL filter columns, so range-partitioned
files get tight min/max bounding boxes on every interleaved column
at once — parquet row-group / file skipping then prunes multi-column
predicates the way a one-column sort only prunes its own column
(the Delta/Iceberg OPTIMIZE ZORDER pattern, built from pure Column
algebra here).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from parlerproject_spark.caching import literal


def scale_to_bits(col: Column | str, *, lo: float, hi: float,
                  bits: int = 16) -> Column:
    """Linear map of a [lo, hi] column onto [0, 2^bits): the
    REQUIRED pre-step before interleaving. A column whose natural
    range fills only the low bits (say ids 0..150 in a 16-bit slot)
    contributes nothing to the key's high rounds, and the z-curve
    degenerates to a one-column sort on whichever column does —
    exactly the layout z-order exists to beat. Clamps outliers."""
    c = F.col(col) if isinstance(col, str) else col
    top = (1 << bits) - 1
    span = (hi - lo) or 1.0
    scaled = F.floor((c.cast("double") - F.lit(float(lo)))
                     / F.lit(float(span)) * F.lit(float(top)))
    return F.greatest(F.lit(0), F.least(F.lit(top), scaled)).cast("bigint")


def equi_depth_bits(df: DataFrame, col: str, *, bits: int = 8) -> Column:
    """Equi-depth (quantile-rank) image of a column onto [0, 2^bits):
    the skew-proof pre-step for z-ordering. `scale_to_bits` is linear
    — a heavy-tailed column collapses most rows into a few low
    buckets and the curve degenerates toward a sort on the other
    column. Equi-depth gives every bucket the same ROW count (how
    Delta/Iceberg OPTIMIZE ZORDER images columns: by range-partition
    rank, not value).

    Boundaries come from one driver-side approxQuantile pass
    (relative error 0.001, the same mechanism a range partitioner
    uses); the
    mapping is then `size(filter(boundaries, b -> b <= x))` over a
    2^bits-1 literal array — no join, no window, no UDF."""
    n = 1 << bits
    cuts = df.approxQuantile(col, [i / n for i in range(1, n)], 0.001)
    arr = literal([float(c) for c in cuts], "array<double>")
    x = F.col(col).cast("double")
    return F.size(F.filter(arr, lambda b: b <= x)).cast("bigint")


def zorder_key(cols: Sequence[Column | str], *, bits: int = 16) -> Column:
    """Morton (z-curve) key: interleave the low `bits` of each
    column's non-negative integer image, first column owning the
    highest bit of each round. Pure deterministic bit algebra —
    whole-stage-codegen'd, no UDF, and exactly replayable in SQL
    (the oracle rebuilds it term by term).

    Callers map each column into [0, 2^bits) first (e.g. quantized
    measures, hashed strings, truncated ids): the key preserves
    LOCALITY only in that image; plain modulo wraps distant values
    together and should be avoided for range columns.
    """
    n = len(cols)
    assert n >= 1
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    z = F.lit(0).cast("bigint")
    for b in range(bits - 1, -1, -1):          # MSB first
        for i, c in enumerate(cs):
            bit = F.shiftright(c.cast("bigint"), b).bitwiseAND(F.lit(1))
            z = F.shiftleft(z, 1).bitwiseOR(bit)
    return z


def zorder_layout(df: DataFrame, cols: Sequence[Column | str], *,
                  key_alias: str = "__zkey") -> DataFrame:
    """Range-partition (32 ranges) + sort by the 16-bit z-key: the
    write-side layout step. Each output partition (→ file at write
    time) covers a contiguous z-range, i.e. a small hyper-rectangle
    in the interleaved column space — the property file skipping
    needs.
    One range exchange (sampled boundaries), in-partition sort only.
    """
    keyed = df.withColumn(key_alias, zorder_key(cols))
    return (keyed.repartitionByRange(32, key_alias)
            .sortWithinPartitions(key_alias))


def write_bucketed(df: DataFrame, table: str, *, by: str,
                   buckets: int = 32) -> None:
    """Persist as a bucketed, sorted managed table. Sorting within
    buckets additionally removes the sort from sort-merge joins.

    Drops any previous incarnation first — overwrite alone leaves the
    managed location behind and the next save collides on it."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    if warehouse.startswith("file:"):
        import shutil
        from urllib.parse import urlparse
        shutil.rmtree(f"{urlparse(warehouse).path}/{table.lower()}",
                      ignore_errors=True)
    df.write.mode("overwrite").bucketBy(buckets, by).sortBy(by) \
        .saveAsTable(table)


def spread_input(df: DataFrame) -> DataFrame:
    """Round-robin spread of a NARROW scan before a CPU-heavy map.

    A tokenize/hash cascade over document text is compute-bound, but
    its parallelism is inherited from the scan: a corpus that arrives
    as fewer splits than the cluster has cores (one small parquet
    file, a single row group) serializes the whole cascade on those
    few tasks. At 100 TB the scan naturally yields thousands of
    splits and this is a no-op — the repartition is inserted ONLY
    when the scan's partition count is below the session's shuffle
    parallelism, so the corpus-sized shuffle it would cost at scale
    is never paid there. (This is the DataFrame analogue of
    `sc.textFile(..., minPartitions=n)`.)
    """
    target = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def co_partitioned(left: DataFrame, right: DataFrame, on: str,
                   *, partitions: int = 32) -> tuple[DataFrame, DataFrame]:
    """Session-lifetime analogue of bucketing: repartition both sides
    on the join key once, so every subsequent join/groupBy on that
    key reuses the exchange (Spark's ReusedExchange / ENSURE_
    REQUIREMENTS elides the second shuffle)."""
    return (left.repartition(partitions, on),
            right.repartition(partitions, on))


def compact_small_files(spark: SparkSession, src: str, dst: str, *,
                        target_mb: int = 128,
                        sort_within_by: Sequence[str] = ()) -> dict:
    """Rewrite a many-small-files Parquet dataset into ~target_mb
    files — the table-maintenance pass every long-lived 100 TB lake
    needs (streaming sinks and fine-grained partition writes leave
    thousands of KB-sized files; each costs a task + a footer read
    per query, and at scale the NameNode/listing RPCs alone dominate
    scan setup).

    File count is chosen from the SOURCE byte size (driver-side
    listing via the Hadoop FS API — no data read), not guessed:
    ceil(total_bytes / target). `repartition(n)` round-robins rows
    into equal output files; an optional `sort_within_by` applies a
    per-file sortWithinPartitions so min/max footer stats stay tight
    for data-skipping after compaction (pair with zorder_layout for
    multi-column skipping). Row counts are preserved exactly — the
    rewrite is pure layout.

    Returns {files_before, files_after, bytes, target_files}.
    """
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(src)
    fs = p.getFileSystem(conf)
    it = fs.listFiles(p, True)
    total, files_before = 0, 0
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet") and not name.startswith("_"):
            total += st.getLen()
            files_before += 1
    n_out = max(1, -(-total // (target_mb * 1024 * 1024)))
    df = spark.read.parquet(src).repartition(n_out)
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    df.write.mode("overwrite").parquet(dst)
    q = jvm.org.apache.hadoop.fs.Path(dst)
    it2 = fs.listFiles(q, True)
    files_after = 0
    while it2.hasNext():
        name = it2.next().getPath().getName()
        if name.endswith(".parquet") and not name.startswith("_"):
            files_after += 1
    return {"files_before": files_before, "files_after": files_after,
            "bytes": int(total), "target_files": int(n_out)}


def overwrite_partitions(df: DataFrame, path: str, *,
                         partition_by: Sequence[str]) -> None:
    """Dynamic partition overwrite — the incremental-backfill write:
    only the partitions PRESENT IN `df` are replaced; every other
    partition directory is left byte-untouched. This is how a 100 TB
    partitioned table takes a late-data correction for one day
    without rewriting (or even listing) the other ~36,500 day
    directories, and without a read-modify-write race window on the
    untouched ones.

    Implemented with Spark's partitionOverwriteMode=dynamic, set per
    WRITE via the DataFrameWriter option (not session-wide — a
    session-level flip would silently change every other writer's
    overwrite semantics from "truncate table" to "replace touched
    partitions").
    """
    (df.write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy(*partition_by)
       .parquet(path))
