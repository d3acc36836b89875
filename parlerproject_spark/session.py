"""SparkSession factory tuned for this engine.

Defaults size the local session to `local_cores()`, but every setting
is chosen to also be correct on a 1000-executor cluster reading
~100 TB: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), broadcast threshold sized for star-schema dims,
Arrow enabled for the pandas-UDF layer, and UTC session time so
results are reproducible across engines (the DuckDB oracle runs UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cores() -> int:
    """Cores of the local session: $SPARK_GRAFT_CPUS when set, else the
    CPUs this process may run on. Read at call time, so a caller that
    sets the variable after importing the engine is still obeyed."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


# At 100 TB scale these would be set per-cluster; the values here are
# ratios, not absolutes: one shuffle partition per local core (set in
# get_spark), and maxPartitionBytes kept at 128m so scan tasks stay
# memory-bounded.
_DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size mirrors the reference's CPU embedding batch
    # tiers (code/embeddings.py:47-58): large batches for throughput,
    # bounded so a batch of wide text rows fits in executor memory.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    # The events table stores parquet timestamp[ns]; Spark has no ns
    # timestamp type, so read the raw int64 and convert in the loader
    # (catalog.load_table) with the same µs truncation DuckDB applies.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "parlerproject-spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``overrides`` are applied after defaults, so tests can e.g. drop
    the broadcast threshold to force sort-merge plans.
    """
    cpus = local_cores()
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_DEFAULT_CONF, **{"spark.sql.shuffle.partitions": str(cpus)})
    conf.update({k: str(v) for k, v in overrides.items()})
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
