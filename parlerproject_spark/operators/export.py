"""Training-corpus shard export — the deliverable end of the
pipeline: after cleaning/dedup/selection, training jobs consume the
corpus as a fixed set of similarly-sized, deterministically-composed
shards plus a manifest (the webdataset / tfrecord-shards layout).

The reference stops at a monolithic embeddings matrix + sidecar
manifest (code/embeddings.py:162-172); this generalizes that sink to
the sharded corpus shape a 1000-GPU data loader actually reads.

Scale design: shard membership is a pure HASH of the document id —
no global sort, no ranking, no driver state; the write is one
map stage + a partitioned write. Shard sizes are multinomial around
n/n_shards (tight at corpus scale); a loader that needs exact-equal
shards re-chunks locally. Within a shard, rows are ordered by the
same hash key, so shard files are byte-deterministic given (corpus,
seed, n_shards) — re-running the export reproduces identical shards,
which is what makes data ablations comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parlerproject_spark.functions.text import token_count


def shard_assignments(docs: DataFrame, *, n_shards: int,
                      seed: str = "shard-v1",
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(doc, shard, order key, token count) — the deterministic
    shard plan. shard = floor(md5(seed:id) / 2^32 * n_shards) on the
    first 8 hex digits: uniform, engine-reproducible (the DuckDB
    oracle rebuilds it verbatim), independent of row order and of
    cluster parallelism. Columns: <id_col>, shard, skey, n_tokens.
    """
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))),
        1, 8), 16, 10).cast("bigint")
    return docs.select(
        F.col(id_col),
        F.floor(h / F.lit(float(2 ** 32)) * n_shards).cast("int")
        .alias("shard"),
        h.alias("skey"),
        token_count(text_col).alias("n_tokens"))


def shard_manifest(docs: DataFrame, *, n_shards: int,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-shard accounting: doc count, token sum, and an
    order-insensitive content checksum (sum of doc-id hashes mod
    2^31-1 — mergeable, so the manifest of a union is the merge of
    manifests). One aggregation over the shard plan.
    Columns: shard, n_docs, n_tokens, checksum."""
    asg = shard_assignments(docs, n_shards=n_shards,
                            id_col=id_col, text_col=text_col)
    return (asg.groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens"),
                 (F.sum("skey") % F.lit(2147483647)).cast("long")
                 .alias("checksum")))


def write_training_shards(docs: DataFrame, path: str, *,
                          n_shards: int, id_col: str = "doc_id",
                          text_col: str = "text") -> dict:
    """Materialize the sharded corpus: Parquet PARTITIONED BY shard
    (shard=K directories — a loader maps shard dirs to workers),
    rows within each shard ordered by the hash key (deterministic
    file content), plus `_manifest/` with the per-shard accounting
    table (underscore-prefixed so corpus readers of `path` skip it). Returns {n_shards, n_docs, n_tokens} totals.
    """
    asg = shard_assignments(docs, n_shards=n_shards,
                            id_col=id_col, text_col=text_col)
    (docs.join(asg.select(id_col, "shard", "skey"), id_col)
         .repartition(n_shards, "shard")
         .sortWithinPartitions("shard", "skey")
         .drop("skey")
         .write.mode("overwrite").partitionBy("shard").parquet(path))
    man = shard_manifest(docs, n_shards=n_shards,
                         id_col=id_col, text_col=text_col)
    man.coalesce(1).write.mode("overwrite").parquet(f"{path}/_manifest")
    tot = (man.agg(F.sum("n_docs").alias("d"),
                   F.sum("n_tokens").alias("t")).first())
    return {"n_shards": n_shards, "n_docs": int(tot["d"] or 0),
            "n_tokens": int(tot["t"] or 0)}
