"""Named query registry — the driver-facing contract.

Every entry pairs a Spark DataFrame builder (spark, sf_dir) ->
DataFrame with (where SQL-expressible) a DuckDB oracle SQL string the
driver hash-compares against at sf0.01. Column names and rounding are
aligned on BOTH sides (the driver sorts columns by name and hashes
values — SURVEY §5.2).

Conventions:
- every computed column is aliased identically in Spark and SQL;
- double aggregates are round()ed on both sides (Spark and DuckDB sum
  in different orders; exact doubles differ in final ulps);
- timestamps returned to the driver are formatted to strings on both
  sides (engine-neutral representation);
- every top-k has a unique tie-break column in its ordering.
"""

from __future__ import annotations

import functools
import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parlerproject_spark.caching import literal, literal_frame
from parlerproject_spark.catalog import load_table
from parlerproject_spark.functions.geo import dms_to_decimal
from parlerproject_spark.functions.text import (
    fingerprint_md5,
    normalize_ws,
    quality_score,
    stable_hash31,
    token_count,
    tokenize,
)
from parlerproject_spark.operators import dedup, relational, similarity, text_analysis

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = Query(fn, oracle)
        return fn
    return deco


_RECORDS_DIR = Path(__file__).resolve().parent.parent


@functools.cache
def _ordered_names(records_dir: Path = _RECORDS_DIR) -> tuple[str, ...]:
    """Registry order for the driver, stalest first.

    The driver hash-checks the first ~50 names each round and writes
    the results to `CORRECTNESS_rNN.json` in the repo root. A query's
    last check is the latest round where it passed: `hash_match`, or a
    rows-only (`no_oracle`) run that returned rows. Never-passed
    queries count as round 0. Sorting by that round (stable, so ties
    keep registry order) puts the oldest tier at the head, and each
    new record file rotates the sample with no code edit. Names in
    the records that are no longer registered are ignored; with no
    records this is plain registry order.
    """
    last = dict.fromkeys(_REGISTRY, 0)
    for path in records_dir.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if not m:
            continue
        for name, rec in json.loads(path.read_text()).items():
            if name in last and (
                    rec.get("hash_match")
                    or (rec.get("err") == "no_oracle"
                        and rec.get("spark_rows") is not None)):
                last[name] = max(last[name], int(m[1]))
    return tuple(sorted(last, key=last.get))


def queries() -> dict[str, QueryFn]:
    return {name: _REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: _REGISTRY[name].oracle
        for name in _ordered_names()
        if _REGISTRY[name].oracle is not None
    }


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


# ---------------------------------------------------------------------------
# Aggregations (SURVEY A1-A5) + TPC-H-shaped relational core
# ---------------------------------------------------------------------------

@register("q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4)                                        AS sum_qty,
       round(sum(l_extendedprice), 4)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)  AS sum_charge,
       round(avg(l_quantity), 6)                                        AS avg_qty,
       round(avg(l_extendedprice), 6)                                   AS avg_price,
       round(avg(l_discount), 6)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical partial-aggregatable scan-group.
    One shuffle of (2-char key, 8 partial sums) per partition —
    map-side combine means network cost is O(groups), not O(rows)."""
    l = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (l.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
                 F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
                 F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count("*").alias("count_order")))


@register("q3_segment_revenue", """
SELECT o.o_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d')                   AS orderdate,
       o.o_orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
""")
def q3_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape. The segment-filtered customer side is small →
    broadcast into orders (no shuffle of the fact tables); lineitem
    joins orders on the already-partitioned orderkey."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (l.join(o, l.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
                 .alias("revenue"))
            .select("o_orderkey", "revenue",
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
                    "o_orderpriority")
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
            .limit(10))


@register("q5_region_revenue", """
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey   = c.c_custkey
JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""")
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (star join). region/nation/customer are dims →
    broadcast chain; only lineitem⋈orders is a shuffled join."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    dims = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
             .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
             .select("c_custkey", "n_name"))
    return (l.join(o, l.l_orderkey == o.o_orderkey)
            .join(F.broadcast(dims), o.o_custkey == dims.c_custkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
                 .alias("revenue")))


@register("global_sum_gb", """
SELECT round(sum(o_totalprice) / 1e9, 6) AS total_gb
FROM orders
""")
def global_sum_gb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/F7: the reference's `df['size'].sum()/1e9` corpus-bytes
    aggregate (analysis/preview_file_downloads.ipynb:161)."""
    return (_t(spark, sf_dir, "orders")
            .agg(F.round(F.sum("o_totalprice") / 1e9, 6).alias("total_gb")))


@register("group_count_events", """
SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type
""")
def group_count_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: value-counts (reference: Counter(topics),
    code/bertopicTest.py:107-112)."""
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(F.count("*").alias("cnt"))


@register("share_of_total_events", """
SELECT event_type, count(*) AS cnt,
       round(count(*) * 100.0 / sum(count(*)) OVER (), 6) AS pct
FROM events GROUP BY event_type
""")
def share_of_total_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/F11: group share of total (reference: per-topic percentage,
    code/bertopicTest.py:110-112)."""
    return relational.share_of_total(_t(spark, sf_dir, "events"), "event_type")


@register("distinct_customers_per_priority", """
SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers
FROM orders GROUP BY o_orderpriority
""")
def distinct_customers_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-added distinct aggregate (SURVEY §2.5 absent-set)."""
    return (_t(spark, sf_dir, "orders")
            .groupBy("o_orderpriority")
            .agg(F.countDistinct("o_custkey").alias("n_customers")))


@register("rollup_nation_counts", """
SELECT r.r_name, n.n_name, count(*) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
""")
def rollup_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-added ROLLUP (subtotal + grand-total rows)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
               .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return joined.rollup("r_name", "n_name").agg(F.count("*").alias("n_customers"))


@register("cube_status_priority", """
SELECT o_orderstatus, o_orderpriority,
       round(sum(o_totalprice), 4) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-added CUBE."""
    return (_t(spark, sf_dir, "orders")
            .cube("o_orderstatus", "o_orderpriority")
            .agg(F.round(F.sum("o_totalprice"), 4).alias("total")))


# ---------------------------------------------------------------------------
# Joins (SURVEY J1-J3) and set ops (U1 + engine-added)
# ---------------------------------------------------------------------------

@register("semi_join_building_orders", """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
""")
def semi_join_building_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: broadcast left-semi membership filter — the GPS-detected
    list driving tar extraction (preview_data.ipynb:127-129)."""
    o = _t(spark, sf_dir, "orders")
    keys = (_t(spark, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select(F.col("c_custkey").alias("o_custkey")))
    return relational.semi_join(o, keys, "o_custkey") \
        .select("o_orderkey", "o_custkey", "o_totalprice")


@register("anti_join_idle_customers", """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
""")
def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: left-anti resume/skip-done pattern
    (code/htmlConverter.py:52-54)."""
    c = _t(spark, sf_dir, "customer")
    done = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return relational.anti_join(c, done, "c_custkey").select("c_custkey", "c_name")


@register("lookup_join_nation_region", """
SELECT n.n_nationkey, n.n_name, r.r_name
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
""")
def lookup_join_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: broadcast dimension lookup (code/bertopicTest.py:93-97)."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return relational.lookup_join(n, r, n.n_regionkey == r.r_regionkey) \
        .select("n_nationkey", "n_name", "r_name")


@register("union_merge_docs", """
SELECT doc_id, lang, NULL AS source FROM documents
UNION ALL
SELECT doc_id, NULL AS lang, source FROM documents
""")
def union_merge_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: schema-merging union-by-name (the reference's NaN-padded
    pd.concat, preview_data.ipynb:312-316) — missing columns padded
    with NULL, balanced fold, never an iterative chain."""
    d = _t(spark, sf_dir, "documents")
    a = d.select("doc_id", "lang")
    b = d.select("doc_id", "source")
    return relational.union_by_name([a, b]).select("doc_id", "lang", "source")


@register("intersect_custkeys", """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""")
def intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-added INTERSECT (SURVEY §2.7 absent-set)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b)


@register("except_custkeys", """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""")
def except_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-added EXCEPT."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.subtract(b)


# ---------------------------------------------------------------------------
# Filters / projections (P2-P6) and scalar functions (F1-F15)
# ---------------------------------------------------------------------------

@register("filter_contains_docs", """
SELECT doc_id, n_chars FROM documents WHERE text LIKE '%vector%'
""")
def filter_contains_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: substring-match filter (reference:
    report.str.contains('GPS_detected'), preview_data.ipynb:127)."""
    return (_t(spark, sf_dir, "documents")
            .filter(F.col("text").contains("vector"))
            .select("doc_id", "n_chars"))


@register("filter_suffix_sources", """
SELECT doc_id, source FROM documents WHERE source LIKE '%3'
""")
def filter_suffix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: suffix filter (reference: fileName.endswith('.json'),
    ID_matching_metadata.py:72)."""
    return (_t(spark, sf_dir, "documents")
            .filter(F.col("source").endswith("3"))
            .select("doc_id", "source"))


@register("filter_nonempty_docs", """
SELECT lang, count(*) AS n_docs FROM documents
WHERE length(trim(text)) > 0 GROUP BY lang
""")
def filter_nonempty_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: non-empty text filter (code/embeddings.py:19-27)."""
    return (_t(spark, sf_dir, "documents")
            .filter(F.length(F.trim(F.col("text"))) > 0)
            .groupBy("lang").agg(F.count("*").alias("n_docs")))


@register("when_case_acctbal", """
SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
            WHEN c_acctbal < 5000 THEN 'low'
            ELSE 'high' END AS bucket,
       count(*) AS n, round(sum(c_acctbal), 4) AS total_bal
FROM customer GROUP BY 1
""")
def when_case_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: conditional branch (reference: img-alt whitelist branch,
    code/htmlConverter.py:29-34)."""
    bucket = (F.when(F.col("c_acctbal") < 0, "negative")
               .when(F.col("c_acctbal") < 5000, "low")
               .otherwise("high")).alias("bucket")
    return (_t(spark, sf_dir, "customer")
            .groupBy(bucket)
            .agg(F.count("*").alias("n"), F.round(F.sum("c_acctbal"), 4).alias("total_bal")))


@register("normalize_ws_docs", """
SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm_text
FROM documents WHERE doc_id < 50
""")
def normalize_ws_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2: whitespace normalization — exact
    `" ".join(text.split())` semantics (code/htmlConverter.py:38)."""
    return (_t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 50)
            .select("doc_id", normalize_ws("text").alias("norm_text")))


@register("concat_object_urls", """
SELECT s_suppkey, printf('s3://bucket/%s/%05d.bin', s_name, s_suppkey) AS url
FROM supplier
""")
def concat_object_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: keyed URL construction (reference: base_url + filename,
    download_image_files.py:28)."""
    return (_t(spark, sf_dir, "supplier")
            .select("s_suppkey",
                    F.format_string("s3://bucket/%s/%05d.bin",
                                    F.col("s_name"), F.col("s_suppkey")).alias("url")))


@register("exif_ts_roundtrip", """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y:%m:%d %H:%M:%S') AS exif_ts,
       strftime(strptime(strftime(o_orderdate, '%Y:%m:%d %H:%M:%S'),
                         '%Y:%m:%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS parsed_iso
FROM orders WHERE o_orderkey < 100
""")
def exif_ts_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: EXIF-style `yyyy:MM:dd HH:mm:ss` timestamp format+parse
    (the reference's CreationDate strings, preview_data.ipynb cell 8;
    SURVEY §1.2 temporal note)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    exif = F.date_format("o_orderdate", "yyyy:MM:dd HH:mm:ss").alias("exif_ts")
    parsed = F.date_format(F.to_timestamp(F.date_format("o_orderdate", "yyyy:MM:dd HH:mm:ss"),
                                          "yyyy:MM:dd HH:mm:ss"),
                           "yyyy-MM-dd HH:mm:ss").alias("parsed_iso")
    return o.select("o_orderkey", exif, parsed)


@register("json_extract_props", """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events WHERE event_id < 1000
""")
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: JSON field extraction (reference: json.loads / read_json,
    ID_matching_metadata.py:57)."""
    return (_t(spark, sf_dir, "events")
            .filter(F.col("event_id") < 1000)
            .select("event_id",
                    F.get_json_object("props", "$.k").cast("bigint").alias("k")))


@register("dms_to_decimal_parse", """
WITH dms AS (
  SELECT n_nationkey,
         printf('%d deg %d'' %.2f" %s',
                (n_nationkey * 3) % 90, (n_nationkey * 7) % 60,
                ((n_nationkey * 13) % 60) + 0.25,
                CASE WHEN n_nationkey % 2 = 0 THEN 'N' ELSE 'S' END) AS dms_str
  FROM nation)
SELECT n_nationkey, dms_str,
       round((CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE -1 END) *
             ((n_nationkey * 3) % 90 + ((n_nationkey * 7) % 60) / 60.0 +
              (((n_nationkey * 13) % 60) + 0.25) / 3600.0), 6) AS decimal_deg
FROM dms
""")
def dms_to_decimal_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15: DMS→decimal GPS parse. Input DMS strings are synthesized
    deterministically from nation keys (the testdata has no GPS
    column); Spark PARSES the string with the engine scalar while the
    oracle recomputes the value arithmetically — so the regex path is
    what's being verified. Reference GPS strings:
    `38 deg 55' 58.80" N` (preview_data.ipynb cell 8 output)."""
    n = _t(spark, sf_dir, "nation")
    dms_str = F.format_string(
        "%d deg %d' %.2f\" %s",
        (F.col("n_nationkey") * 3 % 90).cast("int"),
        (F.col("n_nationkey") * 7 % 60).cast("int"),
        (F.col("n_nationkey") * 13 % 60) + F.lit(0.25),
        F.when(F.col("n_nationkey") % 2 == 0, "N").otherwise("S"),
    ).alias("dms_str")
    return (n.select("n_nationkey", dms_str)
            .withColumn("decimal_deg", F.round(dms_to_decimal("dms_str"), 6)))


# ---------------------------------------------------------------------------
# Sorts / top-k (O1-O3)
# ---------------------------------------------------------------------------

@register("topk_orders", """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
""")
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: top-k by weight with unique tie-break →
    TakeOrderedAndProject, never a global sort."""
    return relational.top_k(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 10)


# ---------------------------------------------------------------------------
# Window functions (SURVEY §2.8, engine-added)
# ---------------------------------------------------------------------------

@register("window_rank_orders", """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders) WHERE rn <= 3
""")
def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number — the grouped-top-k
    idiom (one shuffle on the partition key)."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(),
                                                F.col("o_orderkey").asc())
    return (_t(spark, sf_dir, "orders")
            .select("o_custkey", "o_orderkey", "o_totalprice",
                    F.row_number().over(w).cast("long").alias("rn"))
            .filter(F.col("rn") <= 3))


@register("running_sum_orders", """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total
FROM orders WHERE o_custkey < 100
""")
def running_sum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate per key (SURVEY §2.8 mapping)."""
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (_t(spark, sf_dir, "orders")
            .filter(F.col("o_custkey") < 100)
            .select("o_custkey", "o_orderkey",
                    F.round(F.sum("o_totalprice").over(w), 4).alias("running_total")))


@register("lag_delta_events", """
SELECT event_id, user_id,
       round(value - lag(value) OVER (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC), 6) AS delta
FROM events WHERE user_id < 20
""")
def lag_delta_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() delta per user over event time."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (_t(spark, sf_dir, "events")
            .filter(F.col("user_id") < 20)
            .select("event_id", "user_id",
                    F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta")))


# ---------------------------------------------------------------------------
# Event-time (batch checks of the streaming ops — SURVEY §2.9)
# ---------------------------------------------------------------------------

@register("tumbling_window_events", """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS cnt, round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2
""")
def tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregate. Same window() op the
    streaming path uses (streaming/events.py) — here exercised in
    batch so the oracle can check it."""
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("total_value"))
            .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                    "event_type", "cnt", "total_value"))


# ---------------------------------------------------------------------------
# Text analysis (A5/A6, M4, engine-added text ops)
# ---------------------------------------------------------------------------

@register("doc_frequency", """
WITH toks AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
    FROM documents)
  WHERE term <> '')
SELECT term, count(*) AS df FROM toks
GROUP BY term HAVING count(*) >= 2
ORDER BY df DESC, term ASC LIMIT 100
""")
def doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: vocabulary document-frequency (CountVectorizer(min_df=2,
    max_features), code/bertopicTest.py:45-50)."""
    return text_analysis.doc_frequency(_t(spark, sf_dir, "documents"),
                                       min_df=2, vocab_size=100)


@register("token_counts_docs", """
SELECT doc_id,
       len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS n_tokens
FROM documents
""")
def token_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (engine-added text-analysis op)."""
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", token_count("text").alias("n_tokens")))


@register("quality_scores_docs", """
SELECT doc_id,
       round(least(length(text) / 500.0, 1.0) *
             (CASE WHEN length(text) > 0
                   THEN length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) * 1.0
                        / length(text)
                   ELSE 0.0 END), 6) AS quality
FROM documents
""")
def quality_scores_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (engine-added; length × alpha-ratio)."""
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", quality_score("text").alias("quality")))


@register("topic_terms_ctfidf", """
WITH docs_t AS (
  SELECT e.label, d.text FROM documents d
  JOIN embeddings e ON d.doc_id = e.vec_id),
toks AS (
  SELECT label, term FROM (
    SELECT label, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
    FROM docs_t) WHERE term <> ''),
tf AS (SELECT label, term, count(*) AS tf FROM toks GROUP BY label, term),
totals AS (SELECT term, CAST(sum(tf) AS BIGINT) AS term_total FROM tf GROUP BY term),
a AS (SELECT avg(mass) AS a FROM (SELECT CAST(sum(tf) AS BIGINT) AS mass FROM tf GROUP BY label)),
scored AS (
  SELECT tf.label, tf.term,
         round(tf.tf * ln(1 + a.a / totals.term_total), 6) AS score
  FROM tf JOIN totals USING (term) CROSS JOIN a)
SELECT * FROM (
  SELECT label, term, score,
         row_number() OVER (PARTITION BY label ORDER BY score DESC, term ASC) AS rn
  FROM scored) WHERE rn <= 10
""")
def topic_terms_ctfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: c-TF-IDF per-topic term relevance (code/bertopicTest.py:
    94-100), with embeddings.label standing in for the topic
    assignment. Two hash aggs + a broadcast + a windowed top-n."""
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("doc_id"), "label")
    docs_t = relational.lookup_join(d, e, "doc_id")
    return text_analysis.topic_terms(docs_t, topic_col="label", top_n=10)


# ---------------------------------------------------------------------------
# Deduplication (engine-added north-star ops)
# ---------------------------------------------------------------------------

@register("exact_dedup_docs", """
SELECT fp, count(*) AS dup_count, min(doc_id) AS canonical_id FROM (
  SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
  FROM documents)
GROUP BY fp HAVING count(*) > 1
""")
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via md5 content fingerprint."""
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


_NGRAM_PAIRS_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS ts
  FROM documents),
grams0 AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(gram), 1, 15))::BIGINT % 2147483647 AS sh
  FROM (
    SELECT doc_id,
           array_to_string(ts[i:i+2], ' ') AS gram
    FROM toks, unnest(range(1, len(ts) - 1)) AS t(i)
    WHERE len(ts) >= 3)),
rare AS (SELECT sh FROM grams0 GROUP BY sh HAVING count(*) <= 128),
grams AS (SELECT g.doc_id, g.sh FROM grams0 g JOIN rare USING (sh)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM grams a JOIN grams b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.5
"""


@register("ngram_jaccard_pairs", _NGRAM_PAIRS_SQL)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs via shared-shingle inverted
    index join over the hub-capped (df <= 128) shingle universe —
    never a cross join, even when a stopword gram saturates the
    corpus (dedup.capped_shingles)."""
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"),
                                     n=3, threshold=0.5, max_df=128)


@register("containment_pairs_docs", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS ts
  FROM documents),
grams0 AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(gram), 1, 15))::BIGINT % 2147483647 AS sh
  FROM (
    SELECT doc_id,
           array_to_string(ts[i:i+2], ' ') AS gram
    FROM toks, unnest(range(1, len(ts) - 1)) AS t(i)
    WHERE len(ts) >= 3)),
rare AS (SELECT sh FROM grams0 GROUP BY sh HAVING count(*) <= 128),
grams AS (SELECT g.doc_id, g.sh FROM grams0 g JOIN rare USING (sh)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM grams a JOIN grams b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(n_common * 1.0 / least(sa.n_sh, sb.n_sh), 6) AS containment,
       round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_common * 1.0 / least(sa.n_sh, sb.n_sh), 6) >= 0.6
""")
def containment_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs
    (dedup.containment_pairs): overlap coefficient
    |A∩B| / min(|A|,|B|) over the hub-capped 3-gram shingle
    universe — the sub-document duplication detector Jaccard is
    blind to (a short doc wholly embedded in a long one scores
    containment ≈ 1, jaccard ≈ |A|/|B|). Same posting-list plan as
    ngram_jaccard_pairs: one tokenize cascade, bounded in-array
    expansion, pair-row joins only."""
    return dedup.containment_pairs(_t(spark, sf_dir, "documents"),
                                   n=3, threshold=0.6, max_df=128)


_MINHASH_MINS = ",\n       ".join(
    f"min((sh * {a} + {b}) % 2147483647) AS h{i}"
    for i, (a, b) in enumerate(zip(dedup.MINHASH_A, dedup.MINHASH_B)))

@register("minhash_signatures", f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS ts
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(gram), 1, 15))::BIGINT % 2147483647 AS sh
  FROM (
    SELECT doc_id,
           array_to_string(ts[i:i+2], ' ') AS gram
    FROM toks, unnest(range(1, len(ts) - 1)) AS t(i)
    WHERE len(ts) >= 3))
SELECT doc_id,
       {_MINHASH_MINS}
FROM grams GROUP BY doc_id
""")
def minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures — fully deterministic (md5 shingle hash ×
    fixed permutation family), so the oracle reproduces every h_i
    exactly; sh*a < 2^31 * 2^20 stays inside int64."""
    return dedup.minhash_signatures(_t(spark, sf_dir, "documents"), num_hashes=12)


_MINHASH_BANDS = "\n  UNION ALL ".join(
    "SELECT doc_id, {b} AS band, {key} AS key FROM sig".format(
        b=b, key=" || ':' || ".join(f"h{b * 3 + r}::VARCHAR" for r in range(3)))
    for b in range(4))

@register("minhash_lsh_pairs", f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS ts
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(gram), 1, 15))::BIGINT % 2147483647 AS sh
  FROM (
    SELECT doc_id,
           array_to_string(ts[i:i+2], ' ') AS gram
    FROM toks, unnest(range(1, len(ts) - 1)) AS t(i)
    WHERE len(ts) >= 3)),
sig AS (
  SELECT doc_id,
       {_MINHASH_MINS}
  FROM grams GROUP BY doc_id),
buckets AS (
  {_MINHASH_BANDS}),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM buckets l JOIN buckets r
    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM grams GROUP BY doc_id),
inter AS (
  SELECT id_a, id_b, count(*) AS n_common
  FROM cand
  JOIN grams a ON a.doc_id = id_a
  JOIN grams b ON b.doc_id = id_b AND a.sh = b.sh
  GROUP BY id_a, id_b)
SELECT id_a, id_b,
       round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.5
""")
def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash LSH + exact verify — every stage (md5 shingle
    hash, fixed permutations, 4×3 banding, candidate join, exact
    Jaccard) is deterministic, so the oracle reproduces the full
    pipeline; pytest additionally asserts candidates ⊇ high-jaccard
    pairs."""
    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"),
                                   num_hashes=12, bands=4, threshold=0.5)


@register("simhash_docs", """
WITH th AS (
  SELECT doc_id,
         ('0x' || substr(md5(term), 1, 15))::BIGINT % 2147483647 AS th
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                  t -> t <> '')) AS term
        FROM documents)),
votes AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (th >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th, unnest(range(0, 32)) AS b(bit)
  GROUP BY doc_id, b.bit)
SELECT doc_id,
       cast(sum(CASE WHEN v > 0 THEN 1::BIGINT << bit ELSE 0 END) AS BIGINT)
       AS simhash
FROM votes GROUP BY doc_id
""")
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash — deterministic md5 bit votes, oracle reproduces the
    exact 32-bit fingerprint; pytest additionally checks hamming
    distance tracks similarity."""
    return dedup.simhash(_t(spark, sf_dir, "documents"))


@register("simhash_pairs_docs", """
WITH th AS (
  SELECT doc_id,
         ('0x' || substr(md5(term), 1, 15))::BIGINT AS th
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                  t -> t <> '')) AS term
        FROM documents)),
votes AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (th >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th, unnest(range(0, 60)) AS b(bit)
  GROUP BY doc_id, b.bit),
sig AS (
  SELECT doc_id,
         cast(sum(CASE WHEN v > 0 THEN 1::BIGINT << bit ELSE 0 END)
              AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id),
banded AS (
  SELECT doc_id, simhash, b.band,
         (simhash >> (band * 15)) & 32767 AS bv
  FROM sig, unnest(range(0, 4)) AS b(band)),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         l.simhash AS sig_a, r.simhash AS sig_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bv = r.bv AND l.doc_id < r.doc_id)
SELECT id_a, id_b,
       cast(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= 3
""")
def simhash_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (dedup.simhash_pairs): banded
    pigeonhole candidates (hamming <= 3 over the 60-bit full-md5-
    prefix fingerprint must share one of 4 equal 15-bit bands) +
    exact bit_count(xor) verify — the Manku web-dedup probe, same
    band-join-then-verify shape as minhash_lsh_pairs; the signature
    table persists and carries both sigs through the band join so
    verification needs no third pass. 15-bit bands (32k buckets per
    band) are the scale lever: the 8-bit-band variant measured 18×
    the candidate volume on the same corpus."""
    return dedup.simhash_pairs(_t(spark, sf_dir, "documents"),
                               bits=60, max_hamming=3, bands=4)


# ---------------------------------------------------------------------------
# Similarity search (engine-added north-star ops)
# ---------------------------------------------------------------------------

def _query_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_t(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == 0)
            .select(F.col("embedding").alias("q")))


def _lloyd_iters_sql(iters: int, round_c: int) -> str:
    """Shared Lloyd-iteration CTE block: expects CTEs `sx` (sample
    exploded to vec_id/pos/x) and `c0` (t/pos/c init) to exist;
    emits u{i} (unit-normalize), a{i} (cosine-argmax assign), m{i}
    (rounded means), c{i} (empty cell keeps old centroid)."""
    body = ""
    for i in range(1, iters + 1):
        body += f""",
u{i} AS (
  SELECT t, pos, CASE WHEN nrm > 0 THEN c / nrm ELSE c END AS cu
  FROM (SELECT t, pos, c,
               sqrt(sum(c * c) OVER (PARTITION BY t)) AS nrm
        FROM c{i - 1})),
a{i} AS (
  SELECT vec_id, t FROM (
    SELECT s.vec_id, u.t,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY sum(s.x * u.cu) DESC, u.t ASC) AS rn
    FROM sx s JOIN u{i} u USING (pos)
    GROUP BY s.vec_id, u.t) WHERE rn = 1),
m{i} AS (
  SELECT a.t, s.pos, round(avg(s.x), {round_c}) AS c
  FROM a{i} a JOIN sx s USING (vec_id) GROUP BY a.t, s.pos),
c{i} AS (
  SELECT p.t, p.pos, coalesce(m.c, p.c) AS c
  FROM c{i - 1} p LEFT JOIN m{i} m USING (t, pos))"""
    return body


def _kmeans_assign_oracle(k: int = 8, iters: int = 3, mod: int = 8,
                          round_c: int = 6,
                          outlier_threshold: float | None = None,
                          ex_sql: str | None = None) -> str:
    """Unrolled-Lloyd oracle for topic_assignments: each iteration is
    a (normalize, assign, mean, empty-keep-old) CTE block — the same
    fixed-iteration-unroll strategy as the PageRank and logreg
    oracles. Works because the engine (a) samples with the
    SQL-reproducible md5 hash and (b) rounds centroids to round_c
    decimals each update, re-synchronizing float state across
    engines (topics.lloyd_centroids round_c contract).

    `ex_sql` swaps the feature source: any SQL body producing
    (vec_id, pos, x) replaces the raw-embedding unnest — the
    landmark-projection variant composes its anchor-similarity CTE
    in here and reuses the whole Lloyd unroll unchanged."""
    ex_body = ex_sql or """
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings"""
    head = f"""
WITH ex AS ({ex_body}),
s0 AS (
  SELECT vec_id FROM embeddings
  WHERE ('0x' || substr(md5(cast(vec_id AS VARCHAR)), 1, 15))::BIGINT
        % 2147483647 % {mod} = 0),
samp AS (
  SELECT vec_id FROM embeddings
  WHERE (SELECT count(*) FROM s0) < {2 * k}
  UNION ALL
  SELECT vec_id FROM s0 WHERE (SELECT count(*) FROM s0) >= {2 * k}),
sx AS (SELECT e.vec_id, e.pos, e.x FROM ex e JOIN samp USING (vec_id)),
c0 AS (
  SELECT r.t, e.pos, e.x AS c
  FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS t
        FROM samp) r
  JOIN ex e USING (vec_id)
  WHERE r.t < {k})"""
    body = _lloyd_iters_sql(iters, round_c)
    if outlier_threshold is None:
        topic_expr = "cast(t AS INTEGER)"
    else:
        # mirror topics._assign: cos = best_dot/|v| (cu is unit);
        # zero-norm vectors and sub-threshold best-cos get -1
        topic_expr = (f"cast(CASE WHEN nv > 0 AND s / nv >= "
                      f"{outlier_threshold} THEN t ELSE -1 END AS INTEGER)")
    tail = f""",
uf AS (
  SELECT t, pos, CASE WHEN nrm > 0 THEN c / nrm ELSE c END AS cu
  FROM (SELECT t, pos, c,
               sqrt(sum(c * c) OVER (PARTITION BY t)) AS nrm
        FROM c{iters}))
SELECT vec_id, {topic_expr} AS topic FROM (
  SELECT e.vec_id, u.t, sum(e.x * u.cu) AS s,
         sqrt(sum(e.x * e.x)) AS nv,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY sum(e.x * u.cu) DESC, u.t ASC) AS rn
  FROM ex e JOIN uf u USING (pos)
  GROUP BY e.vec_id, u.t)
WHERE rn = 1
ORDER BY vec_id"""
    return head + body + tail


def _ivf_oracle(num_cells: int = 16, iters: int = 3, mod: int = 8,
                round_c: int = 6, nprobe: int = 4, k: int = 10) -> str:
    """Unrolled oracle for knn_ivf: maxmin (farthest-point) seeding
    over the 2·num_cells lowest-id sample pool as num_cells greedy
    LIMIT-1 steps, the shared Lloyd block, then the query's
    top-nprobe cell ranking, pruned assignment join, and exact
    cosine re-rank. Assumes the sample pool holds ≥ num_cells rows
    (true at the driver's sf)."""
    pool = 2 * num_cells
    head = f"""
WITH ex AS MATERIALIZED (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings),
s0 AS (
  SELECT vec_id FROM embeddings
  WHERE ('0x' || substr(md5(cast(vec_id AS VARCHAR)), 1, 15))::BIGINT
        % 2147483647 % {mod} = 0),
samp AS MATERIALIZED (
  SELECT vec_id FROM embeddings
  WHERE (SELECT count(*) FROM s0) < {pool}
  UNION ALL
  SELECT vec_id FROM s0 WHERE (SELECT count(*) FROM s0) >= {pool}),
sx AS MATERIALIZED (SELECT e.vec_id, e.pos, e.x FROM ex e JOIN samp USING (vec_id)),
pooltab AS MATERIALIZED (
  SELECT vec_id, pi FROM (
    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS pi
    FROM samp)
  WHERE pi < {pool}),
px AS MATERIALIZED (SELECT p.pi, e.pos, e.x FROM pooltab p JOIN ex e USING (vec_id)),
pn AS MATERIALIZED (SELECT pi, sqrt(sum(x * x)) AS nrm FROM px GROUP BY pi),
pc AS MATERIALIZED (
  SELECT a.pi AS pa, b.pi AS pb,
         sum(a.x * b.x) / (na.nrm * nb.nrm) AS cs
  FROM px a JOIN px b USING (pos)
  JOIN pn na ON na.pi = a.pi JOIN pn nb ON nb.pi = b.pi
  GROUP BY a.pi, b.pi, na.nrm, nb.nrm),
sel0 AS (SELECT 0 AS pi, 0 AS t),
d0 AS MATERIALIZED (SELECT pb AS pi, 1 - cs AS mind FROM pc WHERE pa = 0)"""
    steps = ""
    for j in range(1, num_cells):
        steps += f""",
sel{j} AS (SELECT pi, {j} AS t FROM d{j - 1}
           ORDER BY mind DESC, pi ASC LIMIT 1),
d{j} AS MATERIALIZED (
  SELECT d.pi,
         CASE WHEN 1 - pc.cs < d.mind THEN 1 - pc.cs ELSE d.mind END AS mind
  FROM d{j - 1} d
  CROSS JOIN sel{j} s
  JOIN pc ON pc.pa = s.pi AND pc.pb = d.pi)"""
    seltab = ",\nseltab AS (" + "\nUNION ALL ".join(
        f"SELECT pi, t FROM sel{j}" for j in range(num_cells)) + ")"
    init = """,
c0 AS (SELECT st.t, px.pos, px.x AS c FROM seltab st JOIN px USING (pi))"""
    body = _lloyd_iters_sql(iters, round_c)
    tail = f""",
uf AS MATERIALIZED (
  SELECT t, pos, CASE WHEN nrm > 0 THEN c / nrm ELSE c END AS cu
  FROM (SELECT t, pos, c,
               sqrt(sum(c * c) OVER (PARTITION BY t)) AS nrm
        FROM c{iters})),
qx AS (SELECT pos, x FROM ex WHERE vec_id = 0),
cellrank AS (
  SELECT u.t,
         row_number() OVER (ORDER BY sum(q.x * u.cu) DESC, u.t ASC) AS rn
  FROM qx q JOIN uf u USING (pos) GROUP BY u.t),
probes AS (SELECT t FROM cellrank WHERE rn <= {nprobe}),
asg AS MATERIALIZED (
  SELECT vec_id, t FROM (
    SELECT e.vec_id, u.t,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY sum(e.x * u.cu) DESC, u.t ASC) AS rn
    FROM ex e JOIN uf u USING (pos)
    GROUP BY e.vec_id, u.t) WHERE rn = 1),
cand AS (SELECT vec_id FROM asg JOIN probes USING (t)),
q2 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT c.vec_id, unnest(e.embedding)::DOUBLE AS x,
         unnest(q2.qv)::DOUBLE AS y
  FROM cand c JOIN embeddings e USING (vec_id), q2),
sims AS (
  SELECT vec_id,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS sim
  FROM pairs GROUP BY vec_id)
SELECT vec_id, sim FROM sims ORDER BY sim DESC, vec_id ASC LIMIT {k}"""
    return head + steps + seltab + init + body + tail


def _pq_oracle(m: int = 8, ksub: int = 16, dsub: int = 8, iters: int = 5,
               sample_rows: int = 4096, rerank: int = 64,
               k: int = 10) -> str:
    """Unrolled oracle for knn_pq (VERDICT r8 item 2): replays
    train_pq's per-subspace Lloyd (exact-equality init dedup over
    the orderBy(id)-head sample, HALF_UP round_c=6 centroid updates
    — the same rounded-Lloyd synchronization _kmeans_assign_oracle
    uses), the per-subspace nearest-code encode, the query's ADC
    lookup tables (q·centroid dots and centroid self-dot norms),
    the rounded ADC candidate cut, and the exact-cosine re-rank.
    Assumes ≥ ksub distinct subvectors per subspace in the sample
    (true at the driver's sf, like _ivf_oracle's pool assumption)."""
    head = f"""
WITH ex AS MATERIALIZED (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings),
sampids AS MATERIALIZED (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS ri
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {sample_rows})),
sx AS MATERIALIZED (
  SELECT s.ri, e.pos // {dsub} AS sub, e.pos % {dsub} AS j, e.x
  FROM sampids s JOIN ex e USING (vec_id)),
keyed AS (
  SELECT sub, ri, string_agg(x::VARCHAR, ',' ORDER BY j) AS kk
  FROM sx GROUP BY sub, ri),
init AS MATERIALIZED (
  SELECT sub, fri, row_number() OVER (PARTITION BY sub ORDER BY fri) - 1 AS c
  FROM (SELECT sub, min(ri) AS fri FROM keyed GROUP BY sub, kk)),
c0 AS MATERIALIZED (
  SELECT i.sub, i.c, s.j, s.x AS cx
  FROM init i JOIN sx s ON s.sub = i.sub AND s.ri = i.fri
  WHERE i.c < {ksub})"""
    body = ""
    for it in range(1, iters + 1):
        body += f""",
a{it} AS MATERIALIZED (
  SELECT sub, ri, c FROM (
    SELECT s.sub, s.ri, cc.c,
           row_number() OVER (PARTITION BY s.sub, s.ri
                              ORDER BY sum((s.x - cc.cx) * (s.x - cc.cx)) ASC,
                                       cc.c ASC) AS rn
    FROM sx s JOIN c{it - 1} cc ON cc.sub = s.sub AND cc.j = s.j
    GROUP BY s.sub, s.ri, cc.c)
  WHERE rn = 1),
c{it} AS MATERIALIZED (
  SELECT p.sub, p.c, p.j, coalesce(round(mm.mx, 6), p.cx) AS cx
  FROM c{it - 1} p LEFT JOIN (
    SELECT a.sub, a.c, s.j, avg(s.x) AS mx
    FROM a{it} a JOIN sx s ON s.sub = a.sub AND s.ri = a.ri
    GROUP BY a.sub, a.c, s.j) mm
    ON mm.sub = p.sub AND mm.c = p.c AND mm.j = p.j)"""
    tail = f""",
vx AS (SELECT vec_id, pos // {dsub} AS sub, pos % {dsub} AS j, x FROM ex),
codes AS MATERIALIZED (
  SELECT vec_id, sub, c FROM (
    SELECT v.vec_id, v.sub, cf.c,
           row_number() OVER (PARTITION BY v.vec_id, v.sub
                              ORDER BY sum((v.x - cf.cx) * (v.x - cf.cx)) ASC,
                                       cf.c ASC) AS rn
    FROM vx v JOIN c{iters} cf ON cf.sub = v.sub AND cf.j = v.j
    GROUP BY v.vec_id, v.sub, cf.c)
  WHERE rn = 1),
qx AS (SELECT pos // {dsub} AS sub, pos % {dsub} AS j, x AS qx
       FROM ex WHERE vec_id = 0),
lut AS MATERIALIZED (
  SELECT cf.sub, cf.c, sum(cf.cx * q.qx) AS l, sum(cf.cx * cf.cx) AS nn
  FROM c{iters} cf JOIN qx q ON q.sub = cf.sub AND q.j = cf.j
  GROUP BY cf.sub, cf.c),
adc AS (
  SELECT cd.vec_id,
         round(sum(l.l) / sqrt(greatest(sum(l.nn), 1e-12)), 6) AS s
  FROM codes cd JOIN lut l ON l.sub = cd.sub AND l.c = cd.c
  GROUP BY cd.vec_id),
cand AS (SELECT vec_id FROM adc ORDER BY s DESC, vec_id ASC LIMIT {rerank}),
q2 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT c.vec_id, unnest(e.embedding)::DOUBLE AS x,
         unnest(q2.qv)::DOUBLE AS y
  FROM cand c JOIN embeddings e USING (vec_id), q2),
sims AS (
  SELECT vec_id,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS sim
  FROM pairs GROUP BY vec_id)
SELECT vec_id, sim FROM sims ORDER BY sim DESC, vec_id ASC LIMIT {k}"""
    return head + body + tail


@register("knn_bruteforce", """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM embeddings e, q),
sims AS (
  SELECT vec_id,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS sim
  FROM pairs GROUP BY vec_id)
SELECT vec_id, sim FROM sims ORDER BY sim DESC, vec_id ASC LIMIT 10
""")
def knn_bruteforce_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k — the ANN correctness baseline.
    JVM-side higher-order functions; the vectors never enter Python."""
    return similarity.knn_bruteforce(_t(spark, sf_dir, "embeddings"),
                                     _query_vec(spark, sf_dir), k=10)


@register("knn_lsh", """
WITH pl AS (
  SELECT t.tbl, p.p, d.d,
         (('0x' || substr(md5('plane:' || t.tbl || ':' || p.p || ':'
                              || d.d), 1, 12))::BIGINT
          / power(16.0, 12)) * 2.0 - 1.0 AS w
  FROM (SELECT unnest(range(0, 8)) AS tbl) t,
       (SELECT unnest(range(0, 6)) AS p) p,
       (SELECT unnest(range(0, 64)) AS d) d),
ex AS (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings),
dots AS (
  SELECT e.vec_id, pl.tbl, pl.p, sum(e.x * pl.w) AS dp
  FROM ex e JOIN pl ON pl.d = e.pos
  GROUP BY e.vec_id, pl.tbl, pl.p),
sig AS (
  SELECT vec_id, tbl,
         sum(CASE WHEN dp >= 0
                  THEN (1::BIGINT << (5 - p)) ELSE 0 END)::BIGINT AS sig
  FROM dots GROUP BY vec_id, tbl),
qsig AS (SELECT tbl, sig FROM sig WHERE vec_id = 0),
probes AS (
  SELECT tbl, sig FROM qsig
  UNION
  SELECT q.tbl, xor(q.sig, (1::BIGINT << pp.pp)) AS sig
  FROM qsig q, (SELECT unnest(range(0, 6)) AS pp) pp),
cand AS (
  SELECT DISTINCT s.vec_id
  FROM sig s JOIN probes pr ON s.tbl = pr.tbl AND s.sig = pr.sig),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT c.vec_id, unnest(e.embedding)::DOUBLE AS x,
         unnest(q.qv)::DOUBLE AS y
  FROM cand c JOIN embeddings e USING (vec_id), q),
sims AS (
  SELECT vec_id,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS sim
  FROM pairs GROUP BY vec_id)
SELECT vec_id, sim FROM sims ORDER BY sim DESC, vec_id ASC LIMIT 10
""")
def knn_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN, hash-verified end-to-end: the md5-derived
    plane family, MSB-first sign fold, multi-probe (exact bucket +
    every hamming-1 flip), and the exact cosine re-rank are all
    replayed by the SQL oracle — a match proves the bucketed probe
    path returns exactly what an independent replay of the same
    index math returns (recall vs brute force is pytest-measured
    separately)."""
    return similarity.knn_lsh(_t(spark, sf_dir, "embeddings"),
                              _query_vec(spark, sf_dir), dim=64, k=10)


@register("knn_ivf", _ivf_oracle())
def knn_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN — k-means cells + top-nprobe probing; the
    partition-pruned scale path next to the LSH index. Hash-verified
    end-to-end: the oracle replays the maxmin seeding, every rounded
    Lloyd iteration, the query's cell ranking, the pruned-cell
    candidate join, and the exact re-rank (recall vs brute force is
    pytest-measured separately)."""
    return similarity.knn_ivf(_t(spark, sf_dir, "embeddings"),
                              _query_vec(spark, sf_dir), k=10,
                              num_cells=16, nprobe=4, round_c=6)


@register("embedding_norms", """
SELECT vec_id,
       round(sqrt(list_aggregate(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
                                 'sum'))::DOUBLE, 6) AS norm
FROM embeddings
""")
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 adjacency: per-vector L2 norm (reference normalizes
    embeddings at write, code/embeddings.py:119)."""
    from parlerproject_spark.functions.vectors import l2_norm
    return (_t(spark, sf_dir, "embeddings")
            .select("vec_id", F.round(l2_norm("embedding"), 6).alias("norm")))


@register("language_id_docs", """
WITH scored AS (
  SELECT doc_id, lang,
         len(list_intersect(ts, ['the', 'and', 'of', 'is'])) AS s_en,
         len(list_intersect(ts, ['el', 'la', 'los', 'que'])) AS s_es,
         len(list_intersect(ts, ['der', 'die', 'und', 'ist'])) AS s_de,
         len(list_intersect(ts, ['le', 'les', 'des', 'est'])) AS s_fr,
         len(list_intersect(ts, ['de', 'shi', 'le', 'zai'])) AS s_zh
  FROM (SELECT doc_id, lang,
               list_distinct(list_filter(
                 string_split_regex(lower(text), '[^a-z0-9]+'),
                 t -> t <> '')) AS ts
        FROM documents))
SELECT doc_id, lang,
       CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) <= 0 THEN 'und'
            WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
            WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
            WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
            WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
            ELSE 'zh' END AS lang_pred
FROM scored
""")
def language_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID — deterministic Column arithmetic, so
    the oracle reproduces the exact prediction (tie-break priority
    en > es > de > fr > zh on both sides); pytest additionally
    checks agreement against the ground-truth lang column."""
    return (text_analysis.language_id(_t(spark, sf_dir, "documents"))
            .select("doc_id", "lang", "lang_pred"))


# ---------------------------------------------------------------------------
# Flagship entry (SURVEY §3.3 / §7.4 minimum slice)
# ---------------------------------------------------------------------------

def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship notebook pipeline shape
    (analysis/preview_data.ipynb): scan → contains-filter →
    broadcast semi-join → aggregate. Here: documents whose text
    mentions 'scan', semi-joined to embeddings with label < 5,
    aggregated per lang — scan/filter/semi/agg, every layer of the
    engine touched, zero custom code."""
    d = _t(spark, sf_dir, "documents")
    keys = (_t(spark, sf_dir, "embeddings")
            .filter(F.col("label") < 5)
            .select(F.col("vec_id").alias("doc_id")))
    filtered = d.filter(F.col("text").contains("scan"))
    matched = relational.semi_join(filtered, keys, "doc_id")
    return (matched.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("n_chars"), 6).alias("avg_chars")))


# ---------------------------------------------------------------------------
# Event-time windows part 2 + ordered/argmax/map aggregation surface
# ---------------------------------------------------------------------------

@register("sliding_window_events", """
WITH b AS (
  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS ws
  FROM events)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS cnt
FROM b GROUP BY ws
""")
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1h width, 30min slide) — each
    event lands in exactly two windows. Streaming-shared builder."""
    from parlerproject_spark.streaming.events import sliding_counts
    return sliding_counts(_t(spark, sf_dir, "events"))


@register("session_window_events", """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS new_session
  FROM events WHERE user_id < 10),
islands AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS cnt
FROM islands GROUP BY user_id, session_id
""")
def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5 min gap) per user — Spark's session_window
    vs the oracle's explicit gaps-and-islands SQL. The engine-side op
    is the same builder the streaming path uses."""
    from parlerproject_spark.streaming.events import session_counts
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    return session_counts(ev, gap="5 minutes")


@register("collect_sorted_events", """
SELECT user_id, string_agg(event_type, ',' ORDER BY event_type) AS types
FROM events WHERE user_id < 10 GROUP BY user_id
""")
def collect_sorted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered collection aggregate: collect_list → array_sort →
    join, deterministic by construction."""
    return (_t(spark, sf_dir, "events")
            .filter(F.col("user_id") < 10)
            .groupBy("user_id")
            .agg(F.array_join(F.array_sort(F.collect_list("event_type")), ",")
                 .alias("types")))


@register("argmax_events", """
SELECT event_type, event_id AS top_event_id, round(value, 6) AS top_value
FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
""")
def argmax_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by with a deterministic (value, event_id) tie-break —
    single aggregation pass, no window over the full table."""
    return (_t(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.max_by("event_id", F.struct("value", "event_id")).alias("top_event_id"),
                 F.round(F.max("value"), 6).alias("top_value")))


@register("map_keys_props", """
SELECT event_id,
       array_to_string(json_keys(props), ',') AS prop_keys,
       CASE WHEN len(list_filter(json_keys(props), k -> k LIKE 'k%')) > 0
            THEN true ELSE false END AS has_k_key
FROM events WHERE event_id < 500
""")
def map_keys_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: key-prefix existence over an open string map — the
    reference's GPS-key predicate `any key.startswith(search_key)`
    (ID_matching_metadata.py:32-39), on props parsed as
    map<string,string>."""
    m = F.from_json("props", "map<string,string>")
    return (_t(spark, sf_dir, "events")
            .filter(F.col("event_id") < 500)
            .select("event_id",
                    F.array_join(F.array_sort(F.map_keys(m)), ",").alias("prop_keys"),
                    F.exists(F.map_keys(m), lambda k: k.startswith("k")).alias("has_k_key")))


@register("median_value_events", """
SELECT event_type, round(quantile_cont(value, 0.5), 6) AS median_value
FROM events GROUP BY event_type
""")
def median_value_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median per group (Spark `percentile` ==
    DuckDB `quantile_cont`)."""
    return (_t(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.round(F.expr("percentile(value, 0.5)"), 6).alias("median_value")))


@register("approx_distinct_users", None)  # HLL implementations differ across engines
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct — sketch-based cardinality (the 100 TB
    path where exact countDistinct's shuffle is unaffordable).
    Checked rows-only; pytest bounds its error vs the exact count."""
    return (_t(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")))


# ---------------------------------------------------------------------------
# UDF layer (M1-M3) + multimodal surface
# ---------------------------------------------------------------------------

@register("html_extract_posts", """
SELECT doc_id,
       '[Impressions]: 7 ' || trim(regexp_replace(text, '\\s+', ' ', 'g'))
         AS post_text
FROM documents WHERE doc_id < 100
""")
def html_extract_posts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 end-to-end, hash-verified: wrap each document's text in a
    post--card--wrapper div with script/style noise, a whitelisted
    stat img, and a decoy div; the extraction UDF must recover
    exactly `[Impressions]: 7 <normalized text>` — which the oracle
    computes directly from the clean column."""
    from parlerproject_spark.functions.html import extract_post_text
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    html = F.concat(
        F.lit('<html><body><div class="post--card--wrapper">'
              '<script>var hidden = 1;</script>'
              '<img alt="Impressions" src="x"/> <span>7</span> <p>'),
        F.col("text"),
        F.lit('</p><img alt="decor" src="y"/></div>'
              '<div class="sidebar">NOT THIS</div></body></html>'))
    return d.select("doc_id", extract_post_text(html).alias("post_text"))


@register("embed_documents_fake", None)  # non-SQL (M2); pytest checks dim+norm+determinism
def embed_documents_fake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parlerproject_spark.functions.embed import embed_documents
    d = _t(spark, sf_dir, "documents")
    out = embed_documents(d, dim=64)
    from parlerproject_spark.functions.vectors import l2_norm
    return out.select("doc_id", F.round(l2_norm("embedding"), 4).alias("norm"))


@register("topic_assignments", _kmeans_assign_oracle())
def topic_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 core clustering, now hash-verified end-to-end: sampled
    deterministic Lloyd fit (md5-hash sample, centroids rounded to 6
    decimals each iteration — the cross-engine float contract) +
    full-table cosine-argmax assignment. The oracle replays every
    iteration as unrolled CTEs; a hash match proves sample, init,
    three updates, empty-cluster handling, and final assignment all
    agree with an independent SQL replay."""
    from parlerproject_spark.operators.topics import kmeans_topics
    return (kmeans_topics(_t(spark, sf_dir, "embeddings"), k=8, max_iter=3,
                          train_mod=8, round_c=6)
            .orderBy("vec_id"))


# Anchor-similarity landmark embedding (the UMAP-role stand-in,
# pca.landmark_projection): 8 anchors picked by ascending
# (stable_hash31(id), id), one cosine per (vector, anchor). The same
# SQL body doubles as the feature source (`ex_sql`) for the
# projected-space Lloyd oracle below.
_LANDMARK_EX_SQL = """
WITH anch AS (
  SELECT vec_id AS aid, embedding AS av,
         row_number() OVER (
           ORDER BY ('0x' || substr(md5(cast(vec_id AS VARCHAR)), 1, 15))
                    ::BIGINT % 2147483647, vec_id) AS rk
  FROM embeddings QUALIFY rk <= 8),
prs AS (
  SELECT e.vec_id, a.rk,
         unnest(e.embedding)::DOUBLE AS x, unnest(a.av)::DOUBLE AS y
  FROM embeddings e, anch a)
SELECT vec_id, rk - 1 AS pos,
       round(CASE WHEN sqrt(sum(x * x)) * sqrt(sum(y * y)) > 0
                  THEN sum(x * y)
                       / (sqrt(sum(x * x)) * sqrt(sum(y * y)))
                  ELSE 0.0 END, 6) + 0.0 AS x
FROM prs GROUP BY vec_id, rk"""


@register("landmark_projection_embeddings", f"""
WITH ex AS ({_LANDMARK_EX_SQL})
SELECT vec_id, cast(pos AS BIGINT) AS anchor_rank, x AS sim
FROM ex ORDER BY vec_id, anchor_rank
""")
def landmark_projection_embeddings(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Landmark projection hash-verified per coordinate
    (pca.landmark_projection — the UMAP-role stand-in for
    bertopicTest.py:53-61): deterministic hash-ordered anchor pick
    (TakeOrdered, bounded collect) + one broadcast Arrow map
    computing each vector's cosine to every anchor. Exploded to
    (vec_id, anchor_rank, sim) so the driver hash covers every
    projected coordinate."""
    from parlerproject_spark.operators.pca import landmark_projection
    proj = landmark_projection(_t(spark, sf_dir, "embeddings"),
                               n_anchors=8)
    return (proj.select("vec_id",
                        F.posexplode("proj").alias("anchor_rank", "sim"))
            .select("vec_id",
                    F.col("anchor_rank").cast("long").alias("anchor_rank"),
                    (F.col("sim") + F.lit(0.0)).alias("sim"))
            .orderBy("vec_id", "anchor_rank"))


@register("landmark_topic_assignments",
          _kmeans_assign_oracle(ex_sql=_LANDMARK_EX_SQL))
def landmark_topic_assignments(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Topic clustering in the LANDMARK-PROJECTED space — the full
    BERTopic shape (project, then cluster;
    fit_topics(projection='landmark') wires the same path): the
    8-anchor cosine embedding feeds the identical deterministic
    Lloyd fit as topic_assignments. The oracle swaps the projection
    CTE into the unrolled-Lloyd generator's feature seat and replays
    anchors, projection, sample, init, three updates and the final
    argmax — a hash match proves the composed pipeline end-to-end."""
    from parlerproject_spark.operators.pca import landmark_projection
    from parlerproject_spark.operators.topics import kmeans_topics
    proj = landmark_projection(_t(spark, sf_dir, "embeddings"),
                               n_anchors=8, out_col="embedding")
    return (kmeans_topics(proj, k=8, max_iter=3, train_mod=8, round_c=6)
            .orderBy("vec_id"))


@register("topic_outlier_assignments",
          _kmeans_assign_oracle(outlier_threshold=0.12))
def topic_outlier_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERTopic outlier analogue: vectors whose best cosine to any
    centroid falls under the threshold get topic -1 (the reference
    reports outliers as a first-class topic, bertopicTest.py:56-61,
    107); reduce_outliers (pytest-covered) maps them back. Same
    unrolled-Lloyd oracle as topic_assignments plus the
    best-cos-vs-threshold gate."""
    from parlerproject_spark.operators.topics import kmeans_topics
    return (kmeans_topics(_t(spark, sf_dir, "embeddings"), k=8, max_iter=3,
                          train_mod=8, outlier_threshold=0.12, round_c=6)
            .orderBy("vec_id"))


@register("media_features", None)  # binary plumbing (multimodal); pytest checks roundtrip
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parlerproject_spark.operators.multimodal import decode_features, synth_media
    d = _t(spark, sf_dir, "documents")
    return decode_features(synth_media(d))


@register("frame_sample_parts", """
SELECT p_partkey AS doc_id, unnest(range(0, p_size * 7 + 5, 10)) AS frame_no
FROM part
""")
def frame_sample_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling as relational algebra (multimodal video path):
    sampled frame indices exploded per asset."""
    from parlerproject_spark.operators.multimodal import frame_sample
    vids = (_t(spark, sf_dir, "part")
            .select(F.col("p_partkey").alias("doc_id"),
                    (F.col("p_size") * 7 + 5).alias("n_frames")))
    return frame_sample(vids, every=10)


# ---------------------------------------------------------------------------
# Non-equi joins (SURVEY §2.4 engine-adds: range, as-of)
# ---------------------------------------------------------------------------

@register("range_join_value_tiers", """
WITH tiers AS (
  SELECT * FROM (VALUES ('small', 0.0, 50.0), ('mid', 50.0, 200.0),
                        ('large', 200.0, 1e9)) AS t(tier, lo, hi))
SELECT tier, count(*) AS cnt, round(sum(value), 4) AS total
FROM events JOIN tiers ON value >= lo AND value < hi
GROUP BY tier
""")
def range_join_value_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: events bucketed into value tiers via a
    broadcast nested-loop against a 3-row interval table."""
    tiers = literal_frame(spark, [("small", 0.0, 50.0), ("mid", 50.0, 200.0),
                                  ("large", 200.0, 1e9)],
                          "tier string, lo double, hi double")
    joined = relational.range_join(_t(spark, sf_dir, "events"), tiers,
                                   value_col="value")
    return (joined.filter(F.col("tier").isNotNull())
            .groupBy("tier")
            .agg(F.count("*").alias("cnt"),
                 F.round(F.sum("value"), 4).alias("total")))


@register("asof_join_purchase_view", """
WITH p AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
v AS (
  SELECT user_id, ts, max(event_id) AS view_event_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
SELECT p.event_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS matched_ts,
       v.view_event_id
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
""")
def asof_join_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent
    prior view. Spark side is the union+window single-shuffle
    formulation; DuckDB's native ASOF JOIN is the oracle."""
    ev = _t(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", "ts", "event_id"))
    views = (ev.filter(F.col("event_type") == "view")
             .groupBy("user_id", "ts")
             .agg(F.max("event_id").alias("view_event_id")))
    out = relational.asof_join(purchases, views, on="user_id",
                               right_payload=["view_event_id"])
    return out.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("matched_ts", "yyyy-MM-dd HH:mm:ss").alias("matched_ts"),
        "view_event_id")


@register("view_purchase_stream_join", """
SELECT v.user_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       round(p.value, 4) AS value
FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON p.user_id = v.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
""")
def view_purchase_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream join builder (streaming/events.py
    view_to_purchase_joins) run on batch frames — the SAME logical
    op Structured Streaming executes incrementally (pytest proves
    stream==batch parity); the time-bounded join condition is what
    lets streaming expire buffered state. DuckDB range-join oracle.
    """
    from parlerproject_spark.streaming.events import view_to_purchase_joins
    ev = _t(spark, sf_dir, "events")
    out = view_to_purchase_joins(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"))
    return out.withColumn("value", F.round("value", 4))


# ---------------------------------------------------------------------------
# Embedding near-dup + remaining scalar/vocab coverage (F3, U2/M4)
# ---------------------------------------------------------------------------

@register("embedding_near_dup_pairs", """
WITH p AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, sim FROM (
  SELECT ia AS id_a, ib AS id_b,
         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS sim
  FROM p GROUP BY ia, ib)
WHERE sim >= 0.3
""")
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact mode (the dedup
    oracle). The LSH-bucketed variant is the scale path
    (embedding_near_dup_lsh, rows-only)."""
    return dedup.embedding_near_dups(_t(spark, sf_dir, "embeddings"),
                                     threshold=0.3, mode="exact")


@register("embedding_near_dup_lsh", """
WITH pl AS MATERIALIZED (
  SELECT t.tbl, p.p, d.d,
         (('0x' || substr(md5('plane:' || t.tbl || ':' || p.p || ':'
                              || d.d), 1, 12))::BIGINT
          / power(16.0, 12)) * 2.0 - 1.0 AS w
  FROM (SELECT unnest(range(0, 8)) AS tbl) t,
       (SELECT unnest(range(0, 6)) AS p) p,
       (SELECT unnest(range(0, 64)) AS d) d),
ex AS MATERIALIZED (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings),
dots AS (
  SELECT e.vec_id, pl.tbl, pl.p, sum(e.x * pl.w) AS dp
  FROM ex e JOIN pl ON pl.d = e.pos
  GROUP BY e.vec_id, pl.tbl, pl.p),
sig AS MATERIALIZED (
  SELECT vec_id, tbl,
         sum(CASE WHEN dp >= 0
                  THEN (1::BIGINT << (5 - p)) ELSE 0 END)::BIGINT AS sig
  FROM dots GROUP BY vec_id, tbl),
cand AS (
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
  FROM sig l JOIN sig r
    ON l.tbl = r.tbl AND l.sig = r.sig AND l.vec_id < r.vec_id),
p AS (
  SELECT c.id_a, c.id_b,
         unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.id_a
  JOIN embeddings b ON b.vec_id = c.id_b)
SELECT id_a, id_b, sim FROM (
  SELECT id_a, id_b,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS sim
  FROM p GROUP BY id_a, id_b)
WHERE sim >= 0.3
""")
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs, hash-verified: the
    oracle replays the md5 plane family, the per-table sign
    signatures, the same-bucket candidate join, and the exact-cosine
    verification — a match proves the bucketed path emits exactly
    the pairs an independent replay of the index math emits (recall
    vs the exact all-pairs mode stays pytest-measured)."""
    return dedup.embedding_near_dups(_t(spark, sf_dir, "embeddings"),
                                     threshold=0.3, mode="lsh", dim=64)


@register("rename_suffix_docs", """
SELECT doc_id,
       regexp_replace(source || '/' || doc_id || '.html', '\\.html$', '.txt')
         AS txt_path
FROM documents
""")
def rename_suffix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: suffix substitution (reference: filename.replace('.html',
    '.txt'), code/htmlConverter.py:49), anchored so only a trailing
    extension rewrites."""
    d = _t(spark, sf_dir, "documents")
    path = F.concat(F.col("source"), F.lit("/"), F.col("doc_id"), F.lit(".html"))
    return d.select("doc_id",
                    F.regexp_replace(path, r"\.html$", ".txt").alias("txt_path"))


@register("doc_frequency_stopworded", """
WITH toks AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
    FROM documents)
  WHERE term <> ''
    AND term NOT IN ('impressions','echoes','upvotes','comments','post',
                     'posts','parler','image','video','href','http','https',
                     'www','the','a','an','and','or','of','to','in','is',
                     'it','for','on','with','as','at','by','be','this','that'))
SELECT term, count(*) AS df FROM toks
GROUP BY term HAVING count(*) >= 2
ORDER BY df DESC, term ASC LIMIT 100
""")
def doc_frequency_stopworded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2/M4: vocabulary with the engine's stop-word union (the
    Parler metadata terms + english base, code/bertopicTest.py:30-42)
    removed before the document-frequency aggregation."""
    from parlerproject_spark.functions.text import (
        BASIC_ENGLISH_STOP_WORDS,
        PARLER_STOP_WORDS,
        tokenize,
    )
    stops = literal(PARLER_STOP_WORDS + BASIC_ENGLISH_STOP_WORDS,
                    "array<string>")
    d = _t(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id",
        F.explode(F.array_distinct(
            F.array_except(tokenize("text"), stops))).alias("term"))
    return (terms.groupBy("term").agg(F.count("doc_id").alias("df"))
            .filter(F.col("df") >= 2)
            .orderBy(F.col("df").desc(), F.col("term").asc())
            .limit(100))


# ---------------------------------------------------------------------------
# UDAF / UDTF surface (SURVEY §2.10 engine-adds)
# ---------------------------------------------------------------------------

@register("geomean_value_by_type", """
SELECT event_type,
       round(exp(avg(ln(value))), 6) AS geo_mean
FROM events WHERE value > 0 GROUP BY event_type
""")
def geomean_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDAF (geometric mean), hash-checked against
    the closed-form exp(avg(ln)) oracle."""
    from parlerproject_spark.functions.py_udfs import geometric_mean
    gm = geometric_mean()
    return (_t(spark, sf_dir, "events")
            .filter(F.col("value") > 0)
            .groupBy("event_type")
            .agg(F.round(gm(F.col("value")), 6).alias("geo_mean")))


@register("sentence_split_udtf", """
WITH s AS (
  SELECT doc_id, string_split(text, '. ') AS parts
  FROM documents WHERE doc_id < 50)
SELECT doc_id, i AS sentence_no, trim(parts[i]) AS sentence
FROM s, unnest(range(1, len(parts) + 1)) AS t(i)
WHERE trim(parts[i]) <> ''
""")
def sentence_split_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 UDTF: one row per sentence, verified against the
    relational split in DuckDB."""
    from parlerproject_spark.functions.py_udfs import sentence_udtf
    SplitSentences = sentence_udtf()
    spark.udtf.register("split_sentences", SplitSentences)
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT s.doc_id, s.sentence_no, s.sentence "
        "FROM _udtf_docs, LATERAL split_sentences(doc_id, text) s")


# ---------------------------------------------------------------------------
# Rolling-hash fingerprinting (winnowing) + extra TPC-H relational breadth
# ---------------------------------------------------------------------------

_WINNOW_CTE = """
norm AS (
  SELECT doc_id,
         lower(trim(regexp_replace(
           regexp_replace(regexp_replace(text,
                          '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'),
                          '[^ -~]', '', 'g'),
           ' +', ' ', 'g'))) AS t
  FROM documents),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(range(i, i + 8),
               j -> CAST(ord(substr(t, CAST(j AS INTEGER), 1)) AS BIGINT))),
           (acc, x) -> (acc * 31 + x) % 2147483647) AS h
  FROM norm, unnest(range(1, length(t) - 8 + 2)) AS g(i)
  WHERE length(t) >= 11),
wins AS (
  SELECT doc_id, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM grams),
fps AS (
  SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= n_grams - 4 + 1)
"""


@register("rolling_fingerprints_docs", f"""
WITH {_WINNOW_CTE}
SELECT doc_id, fp FROM fps
""")
def rolling_fingerprints_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash document fingerprints (k=8, window=4) —
    the document-fingerprinting op of the training-data surface."""
    return text_analysis.winnow_fingerprints(
        _t(spark, sf_dir, "documents"), k=8, window=4)


@register("fingerprint_overlap_pairs", f"""
WITH {_WINNOW_CTE},
rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 128),
kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp)),
sizes AS (SELECT doc_id, count(*) AS n_fp FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(n_common * 1.0 / least(sa.n_fp, sb.n_fp), 6) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common * 1.0 / least(sa.n_fp, sb.n_fp) >= 0.8
""")
def fingerprint_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style near-dup pairs by fingerprint containment —
    inverted-index join on shared fingerprints (hub fps with
    df > 128 dropped as boilerplate), never a cross join."""
    return text_analysis.fingerprint_overlap(
        _t(spark, sf_dir, "documents"), k=8, window=4, threshold=0.8,
        max_df=128)


@register("q6_revenue_delta", """
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure predicate + agg, zero joins — the
    pushdown showcase (every filter reaches the parquet scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_shipdate") >= "1996-01-01")
                      & (F.col("l_shipdate") < "1997-01-01")
                      & (F.col("l_discount").between(0.05, 0.07))
                      & (F.col("l_quantity") < 24))
            .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4)
                 .alias("revenue")))


@register("q10_returned_customers", """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""")
def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue by customer. Fact-fact
    join shuffles on the keys; nation is broadcast; top-k plans as
    TakeOrderedAndProject (no global sort)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    joined = (cust.join(orders, cust.c_custkey == orders.o_custkey)
              .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")))
    return (joined.groupBy("c_custkey", "c_name", "n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
            .limit(20))


@register("clean_corpus_pipeline", """
WITH gated AS (
  SELECT doc_id, text FROM documents
  WHERE lang = 'en'
    AND round(least(length(text) / 500.0, 1.0) *
              (CASE WHEN length(text) > 0
                    THEN length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) * 1.0
                         / length(text)
                    ELSE 0.0 END), 6) >= 0.5),
fp AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
  FROM gated)
SELECT min(doc_id) AS doc_id, count(*) AS n_dups
FROM fp GROUP BY fp
""")
def clean_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning: quality gate -> language gate ->
    exact-dedup survivor pick. The composite a training-data pipeline
    runs before tokenization; one shuffle total (the md5 groupBy)."""
    from parlerproject_spark.operators.pipelines import clean_corpus
    return clean_corpus(_t(spark, sf_dir, "documents"),
                        min_quality=0.5, lang="en")


@register("q4_priority_late_ship", """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-03-01'
  AND o_orderdate <  TIMESTAMP '1996-06-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""")
def q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted: ship-after-order instead of the
    absent commit/receipt dates): EXISTS decorrelates to a LEFT SEMI
    join with a mixed equi + non-equi condition; the date filter
    pushes to the orders scan."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-03-01")
        & (F.col("o_orderdate") < "1996-06-01"))
    li = _t(spark, sf_dir, "lineitem")
    semi = orders.join(
        li, (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")), "left_semi")
    return (semi.groupBy("o_orderpriority").count()
            .withColumnRenamed("count", "order_count")
            .orderBy("o_orderpriority"))


@register("q7_nation_volume", """
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 4) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         strftime(l_shipdate, '%Y') AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""")
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume by year. Both nation
    dims broadcast; the nation-pair disjunction prunes AFTER the
    broadcast joins, so only the two fact-fact shuffles (lineitem to
    orders, orders to customer) carry real data."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    joined = (li.join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
              .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
              .join(cust, F.col("c_custkey") == F.col("o_custkey"))
              .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
              .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
              .filter(((F.col("supp_nation") == "NATION_3")
                       & (F.col("cust_nation") == "NATION_7"))
                      | ((F.col("supp_nation") == "NATION_7")
                         & (F.col("cust_nation") == "NATION_3"))))
    return (joined
            .select("supp_nation", "cust_nation",
                    F.date_format("l_shipdate", "yyyy").alias("l_year"),
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .alias("volume"))
            .groupBy("supp_nation", "cust_nation", "l_year")
            .agg(F.round(F.sum("volume"), 4).alias("revenue"))
            .orderBy("supp_nation", "cust_nation", "l_year"))


@register("q12_priority_by_returnflag", """
SELECT l_returnflag,
       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       cast(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
""")
def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: grouped by returnflag, the absent
    shipmode's stand-in): conditional aggregation — the CASE folds
    into the partial agg, so the shuffle carries two longs per
    group, not rows."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("l_returnflag")
            .agg(F.sum(F.when(high, 1).otherwise(0)).cast("long")
                 .alias("high_line_count"),
                 F.sum(F.when(high, 0).otherwise(1)).cast("long")
                 .alias("low_line_count"))
            .orderBy("l_returnflag"))


@register("q14_promo_revenue", """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate <  TIMESTAMP '1996-10-01'
""")
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share. Part is the broadcast
    dim; the one-month filter reaches the lineitem scan; a single
    partial-aggregated reduction, no groupBy shuffle at all."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01")
        & (F.col("l_shipdate") < "1996-10-01"))
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
            .agg(F.round(100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev)
                                       .otherwise(0.0)) / F.sum(rev), 4)
                 .alias("promo_revenue")))


@register("q15_top_supplier", """
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 4)
         AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
""")
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving max quarterly revenue.
    The revenue aggregate is computed once and repartitioned so the
    scalar-max branch and the join branch reuse the same exchange;
    the scalar max arrives via a 1-row broadcast cross join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01"))
    rev = (li.groupBy("l_suppkey")
           .agg(F.round(F.sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))), 4)
                .alias("total_revenue"))
           .repartition("l_suppkey"))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    sup = _t(spark, sf_dir, "supplier")
    return (rev.crossJoin(F.broadcast(mx))
            .filter(F.col("total_revenue") == F.col("mx"))
            .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
            .select("s_suppkey", "s_name", "total_revenue")
            .orderBy("s_suppkey"))


@register("q18_large_orders", """
SELECT c_custkey, c_name, o_orderkey, round(total_qty, 2) AS total_qty
FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 250) big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY total_qty DESC, o_orderkey ASC
LIMIT 100
""")
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders. The HAVING prunes to a
    tiny key set BEFORE the joins, so both joins broadcast the
    filtered aggregate, never the fact table; top-k plans as
    TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("total_qty"))
           .filter(F.col("total_qty") > 250))
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (F.broadcast(big)
            .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(cust, F.col("c_custkey") == F.col("o_custkey"))
            .select("c_custkey", "c_name", "o_orderkey",
                    F.round("total_qty", 2).alias("total_qty"))
            .orderBy(F.col("total_qty").desc(), F.col("o_orderkey").asc())
            .limit(100))


@register("q19_brand_disjunction", """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
""")
def q19_brand_disjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive mixed-table predicates. Catalyst
    derives the single-table implications (l_quantity ∈ [1,30],
    p_brand ∈ {...}) and pushes them into BOTH scans even though the
    full OR spans the join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 30)))
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
        .alias("revenue"))


@register("q22_idle_rich_customers", """
SELECT n_name, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY n_name
ORDER BY n_name
""")
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no
    urgent orders, by nation. Scalar subquery = 1-row broadcast
    cross join; NOT EXISTS = LEFT ANTI join on the filtered orders
    key projection (the filter pushes to the orders scan)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = (_t(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_custkey"))
    avg_bal = (cust.filter(F.col("c_acctbal") > 0)
               .agg(F.avg("c_acctbal").alias("ab")))
    return (cust.crossJoin(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("ab"))
            .join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
            .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.count("*").alias("numcust"),
                 F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
            .orderBy("n_name"))


@register("pivot_event_values_by_day", """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       round(sum(CASE WHEN event_type = 'click'    THEN value END), 4) AS click,
       round(sum(CASE WHEN event_type = 'error'    THEN value END), 4) AS error,
       round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
       round(sum(CASE WHEN event_type = 'signup'   THEN value END), 4) AS signup,
       round(sum(CASE WHEN event_type = 'view'     THEN value END), 4) AS view
FROM events
GROUP BY day
""")
def pivot_event_values_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide reshape): daily value totals with one
    column per event type. The value list is EXPLICIT, so Spark skips
    the extra distinct-values job and the pivot compiles to a single
    hash aggregation with per-column conditional sums — identical
    shuffle cost to the plain groupBy, no second pass."""
    ev = _t(spark, sf_dir, "events")
    piv = (ev.select(F.date_format("ts", "yyyy-MM-dd").alias("day"),
                     "event_type", "value")
           .groupBy("day")
           .pivot("event_type",
                  ["click", "error", "purchase", "signup", "view"])
           .agg(F.round(F.sum("value"), 4)))
    return piv


@register("unpivot_part_metrics", """
SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val
FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice' AS metric, round(p_retailprice, 4) AS val
FROM part
""")
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long reshape): per-part numeric metrics as
    (key, metric, val) rows. Spark's unpivot/melt is a narrow
    expression (an inline explode of struct pairs) — zero shuffle,
    output rows = rows x metrics."""
    part = _t(spark, sf_dir, "part")
    return (part.select("p_partkey",
                        F.col("p_size").cast("double").alias("p_size"),
                        F.round("p_retailprice", 4).alias("p_retailprice"))
            .unpivot("p_partkey", ["p_size", "p_retailprice"],
                     "metric", "val"))


@register("left_join_order_gaps", """
SELECT n_name,
       count(*) AS n_customers,
       cast(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       AS n_orderless
FROM customer
LEFT JOIN (SELECT DISTINCT o_custkey, 1 AS o_orderkey FROM orders
           WHERE o_orderpriority = '1-URGENT') o
  ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
""")
def left_join_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain LEFT OUTER join with null-probe accounting: customers
    kept regardless of match; the distinct-projected build side
    stays small enough to broadcast."""
    cust = _t(spark, sf_dir, "customer")
    urgent = (_t(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_custkey").distinct()
              .withColumn("o_orderkey", F.lit(1)))
    nation = _t(spark, sf_dir, "nation")
    return (cust.join(F.broadcast(urgent),
                      F.col("o_custkey") == F.col("c_custkey"), "left")
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.count("*").alias("n_customers"),
                 F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
                 .cast("long").alias("n_orderless"))
            .orderBy("n_name"))


@register("full_outer_reconcile_keys", """
SELECT
  cast(sum(CASE WHEN b.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_low,
  cast(sum(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_high,
  cast(sum(CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS in_both
FROM      (SELECT DISTINCT o_custkey AS k FROM orders
           WHERE o_totalprice < 50000) a
FULL JOIN (SELECT DISTINCT o_custkey AS k FROM orders
           WHERE o_totalprice >= 50000) b
  ON a.k = b.k
""")
def full_outer_reconcile_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join as set reconciliation (the audit shape: which
    keys exist on only one side). Both sides shuffle on the key;
    null-safe accounting in one pass."""
    orders = _t(spark, sf_dir, "orders")
    a = (orders.filter(F.col("o_totalprice") < 50000)
         .select(F.col("o_custkey").alias("ka")).distinct())
    b = (orders.filter(F.col("o_totalprice") >= 50000)
         .select(F.col("o_custkey").alias("kb")).distinct())
    j = a.join(b, F.col("ka") == F.col("kb"), "full_outer")
    return j.agg(
        F.sum(F.when(F.col("kb").isNull(), 1).otherwise(0)).cast("long")
        .alias("only_low"),
        F.sum(F.when(F.col("ka").isNull(), 1).otherwise(0)).cast("long")
        .alias("only_high"),
        F.sum(F.when(F.col("ka").isNotNull() & F.col("kb").isNotNull(), 1)
              .otherwise(0)).cast("long").alias("in_both"))


@register("grouping_sets_order_stats", """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n, round(sum(o_totalprice), 4) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
ORDER BY o_orderstatus, o_orderpriority
""")
def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube sugar
    over): two disjoint groupings in ONE scan + one expand — not two
    queries unioned."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, round(sum(o_totalprice), 4) AS total
        FROM v_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY o_orderstatus, o_orderpriority
    """)


@register("ntile_value_quartiles", """
SELECT q, count(*) AS n, round(min(value), 4) AS lo, round(max(value), 4) AS hi
FROM (SELECT value, ntile(4) OVER (ORDER BY value DESC, event_id ASC) AS q
      FROM (SELECT value, event_id FROM events
            ORDER BY value DESC, event_id ASC LIMIT 4000)) t
GROUP BY q
ORDER BY q
""")
def ntile_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ntile quartiles over a BOUNDED ranked extract: the only
    full-table operator is a distributed top-k
    (TakeOrderedAndProject — each partition keeps 4000 rows, the
    driver-side merge is O(k)), so the unpartitioned ntile window
    sorts 4000 rows regardless of corpus size. The full-table,
    no-sort-anywhere quartile shape is value_quartiles_bucketed."""
    ev = _t(spark, sf_dir, "events")
    top = (ev.select("value", "event_id")
           .orderBy(F.col("value").desc(), F.col("event_id").asc())
           .limit(4000))
    w = Window.orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (top.select("value", F.ntile(4).over(w).alias("q"))
            .groupBy("q")
            .agg(F.count("*").alias("n"),
                 F.round(F.min("value"), 4).alias("lo"),
                 F.round(F.max("value"), 4).alias("hi"))
            .orderBy("q"))


@register("value_quartiles_bucketed", """
WITH e AS (
  SELECT round(quantile_cont(value, 0.25), 4) AS e1,
         round(quantile_cont(value, 0.50), 4) AS e2,
         round(quantile_cont(value, 0.75), 4) AS e3
  FROM events)
SELECT q, count(*) AS n, round(min(value), 4) AS lo, round(max(value), 4) AS hi
FROM (SELECT value,
             1 + (CASE WHEN value > e1 THEN 1 ELSE 0 END)
               + (CASE WHEN value > e2 THEN 1 ELSE 0 END)
               + (CASE WHEN value > e3 THEN 1 ELSE 0 END) AS q
      FROM events, e) t
GROUP BY q
ORDER BY q
""")
def value_quartiles_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe quartiles with NO sort anywhere: quartile edges
    come from one exact-percentile aggregate (same linear
    interpolation in Spark and DuckDB; rounded to 4 decimals on both
    sides so ulp noise can't flip a boundary row), broadcast into a
    narrow bucket-assignment map, then a 4-group aggregate. At 100 TB
    swap percentile → percentile_approx (identical plan shape,
    bounded memory; edges then differ from the oracle's by the sketch
    error, which is the documented trade)."""
    ev = _t(spark, sf_dir, "events")
    edges = ev.agg(
        F.round(F.expr("percentile(value, 0.25)"), 4).alias("e1"),
        F.round(F.expr("percentile(value, 0.50)"), 4).alias("e2"),
        F.round(F.expr("percentile(value, 0.75)"), 4).alias("e3"))
    q = (F.lit(1)
         + (F.col("value") > F.col("e1")).cast("int")
         + (F.col("value") > F.col("e2")).cast("int")
         + (F.col("value") > F.col("e3")).cast("int"))
    return (ev.crossJoin(F.broadcast(edges))
            .select("value", q.alias("q"))
            .groupBy("q")
            .agg(F.count("*").alias("n"),
                 F.round(F.min("value"), 4).alias("lo"),
                 F.round(F.max("value"), 4).alias("hi"))
            .orderBy("q"))


# ---------------------------------------------------------------------------
# Remaining TPC-H shapes (q2/q8/q9/q11/q13/q16/q17/q20/q21, adapted to the
# reduced schema — no partsupp table; commit/receipt dates absent)
# ---------------------------------------------------------------------------

@register("q2_min_price_part", """
SELECT p_type, p_partkey, p_name, round(p_retailprice, 2) AS price
FROM part
WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
                       WHERE p2.p_type = part.p_type)
ORDER BY p_type, p_partkey
""")
def q2_min_price_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated scalar-min subquery, partsupp→part
    adapted): decorrelates to a per-group min aggregate broadcast
    back into the fact side — the subquery never re-executes per row."""
    part = _t(spark, sf_dir, "part")
    mins = part.groupBy(F.col("p_type").alias("m_type")) \
               .agg(F.min("p_retailprice").alias("min_price"))
    return (part.join(F.broadcast(mins),
                      (F.col("p_type") == F.col("m_type"))
                      & (F.col("p_retailprice") == F.col("min_price")))
            .select("p_type", "p_partkey", "p_name",
                    F.round("p_retailprice", 2).alias("price"))
            .orderBy("p_type", "p_partkey"))


@register("q8_market_share", """
SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume), 6) AS mkt_share
FROM (
  SELECT strftime(o_orderdate, '%Y') AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA')
GROUP BY o_year
ORDER BY o_year
""")
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's revenue by
    year. Every dimension broadcasts; the two fact-fact shuffles
    (lineitem↔orders, orders↔customer) are the only exchanges; the
    share is a conditional-sum ratio inside one aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sup = _t(spark, sf_dir, "supplier")
    j = (li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
         .join(cust, F.col("c_custkey") == F.col("o_custkey"))
         .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n_nationkey"))
         .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
         .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
         .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key")))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (j.select(F.date_format("o_orderdate", "yyyy").alias("o_year"),
                     vol.alias("volume"), "nation")
            .groupBy("o_year")
            .agg(F.round(
                F.sum(F.when(F.col("nation") == "NATION_3",
                             F.col("volume")).otherwise(0.0))
                / F.sum("volume"), 6).alias("mkt_share"))
            .orderBy("o_year"))


@register("q9_profit_by_nation", """
SELECT nation, o_year, round(sum(amount), 4) AS sum_profit
FROM (
  SELECT n_name AS nation,
         strftime(o_orderdate, '%Y') AS o_year,
         l_extendedprice * (1 - l_discount)
           - 0.1 * p_retailprice * l_quantity AS amount
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN orders   ON o_orderkey = l_orderkey
  WHERE p_name LIKE '%red%')
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""")
def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (profit by supplier nation and year; retail
    price stands in for the absent partsupp supplycost). The p_name
    LIKE filter pushes into the part scan, and the part join prunes
    lineitem EARLY — the order join then shuffles only surviving
    rows."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - 0.1 * F.col("p_retailprice") * F.col("l_quantity"))
    j = (li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
         .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
         .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
         .join(orders, F.col("o_orderkey") == F.col("l_orderkey")))
    return (j.select(F.col("n_name").alias("nation"),
                     F.date_format("o_orderdate", "yyyy").alias("o_year"),
                     amount.alias("amount"))
            .groupBy("nation", "o_year")
            .agg(F.round(F.sum("amount"), 4).alias("sum_profit"))
            .orderBy(F.col("nation").asc(), F.col("o_year").desc()))


@register("q11_top_nation_balances", """
SELECT s_nationkey, round(sum(s_acctbal), 2) AS value
FROM supplier
GROUP BY s_nationkey
HAVING sum(s_acctbal) > (SELECT sum(s_acctbal) * 0.05 FROM supplier)
ORDER BY value DESC, s_nationkey
""")
def q11_top_nation_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (HAVING against a global-total scalar
    subquery; acctbal stands in for partsupp value): the scalar total
    is its own one-row aggregate broadcast into the grouped result —
    two passes over a small aggregate, never a rescan per group."""
    sup = _t(spark, sf_dir, "supplier")
    per_nation = sup.groupBy("s_nationkey").agg(
        F.sum("s_acctbal").alias("raw_value"))
    total = sup.agg((F.sum("s_acctbal") * 0.05).alias("cutoff"))
    return (per_nation.crossJoin(F.broadcast(total))
            .filter(F.col("raw_value") > F.col("cutoff"))
            .select("s_nationkey", F.round("raw_value", 2).alias("value"))
            .orderBy(F.col("value").desc(), F.col("s_nationkey")))


@register("q13_order_count_distribution", """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""")
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: orders-per-customer histogram INCLUDING
    zero-order customers — the left outer join with an extra join
    predicate (not a post-filter, which would drop the nulls) is the
    load-bearing semantic; count(o_orderkey) skips the null rows."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT")
    per_cust = (cust.join(orders, F.col("c_custkey") == F.col("o_custkey"),
                          "left_outer")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


@register("q16_supplier_counts", """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
""")
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts with a NOT IN
    exclusion list. NOT IN over a non-nullable key decorrelates to a
    LEFT ANTI join against the (tiny, broadcast) exclusion set;
    countDistinct expands to the standard two-phase distinct
    aggregate."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    li = _t(spark, sf_dir, "lineitem")
    excluded = _t(spark, sf_dir, "supplier") \
        .filter(F.col("s_acctbal") < 0).select("s_suppkey")
    kept = li.join(F.broadcast(excluded),
                   F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
    return (kept.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
            .groupBy("p_brand", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
            .orderBy(F.col("supplier_cnt").desc(), F.col("p_brand"),
                     F.col("p_size")))


@register("q17_small_quantity_revenue", """
SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#2'
  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
""")
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated per-part average subquery):
    decorrelates to a per-partkey avg aggregate joined back to the
    fact rows. The avg is over ALL lineitems of the part (matching
    the subquery's scope — it ignores the brand filter), then the
    brand-filtered side compares against it."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    avgs = li.groupBy(F.col("l_partkey").alias("a_partkey")) \
             .agg((F.avg("l_quantity") * 0.2).alias("qty_cut"))
    j = (li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
         .join(avgs, F.col("a_partkey") == F.col("l_partkey"))
         .filter(F.col("l_quantity") < F.col("qty_cut")))
    return j.agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))


@register("q20_bulk_ship_suppliers", """
SELECT s_name, round(s_acctbal, 2) AS s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%blue%'
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey
  HAVING sum(l_quantity) > 50)
ORDER BY s_name
""")
def q20_bulk_ship_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (nested IN over a filtered, HAVING-pruned
    aggregate): the inner aggregate runs first and the tiny survivor
    set broadcasts into a LEFT SEMI join against supplier — the
    subquery result, not supplier, is the build side."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01"))
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%blue%"))
    bulk = (li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
            .groupBy("l_suppkey").agg(F.sum("l_quantity").alias("qty"))
            .filter(F.col("qty") > 50).select("l_suppkey"))
    sup = _t(spark, sf_dir, "supplier")
    return (sup.join(F.broadcast(bulk),
                     F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
            .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
            .orderBy("s_name"))


@register("q21_sole_late_supplier", """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""")
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS + correlated NOT EXISTS; ship-after-
    order stands in for the absent receipt/commit dates): the two
    correlated quantifiers decorrelate into ONE per-order aggregate —
    distinct suppliers and distinct LATE suppliers per order — joined
    back once. l1 survives iff the order has >= 2 suppliers and its
    only late supplier is l1's (n_late_supp == 1 and l1 late), which
    is the quantifier pair verbatim, at one aggregate's cost instead
    of two correlated scans."""
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    l1 = (li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
          .filter(F.col("l_shipdate") > F.col("o_orderdate")))
    per_order = (li.join(orders.select("o_orderkey", F.col("o_orderdate")
                                       .alias("od")),
                         F.col("o_orderkey") == F.col("l_orderkey"))
                 .groupBy(F.col("l_orderkey").alias("agg_orderkey"))
                 .agg(F.countDistinct("l_suppkey").alias("n_supp"),
                      F.countDistinct(
                          F.when(F.col("l_shipdate") > F.col("od"),
                                 F.col("l_suppkey"))).alias("n_late_supp")))
    qualified = (l1.join(per_order,
                         F.col("agg_orderkey") == F.col("l_orderkey"))
                 .filter((F.col("n_supp") >= 2)
                         & (F.col("n_late_supp") == 1)))
    return (qualified
            .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
            .groupBy("s_name").agg(F.count("*").alias("numwait"))
            .orderBy(F.col("numwait").desc(), F.col("s_name"))
            .limit(20))


# ---------------------------------------------------------------------------
# Corpus-quality signals (training-data pipeline additions)
# ---------------------------------------------------------------------------

@register("repetition_ratio_docs", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS ts
  FROM documents),
g AS (
  SELECT doc_id,
         list_transform(range(1, len(ts) - 1),
                        i -> array_to_string(ts[i:i+2], ' ')) AS grams
  FROM toks WHERE len(ts) >= 3)
SELECT doc_id,
       round(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 6)
         AS rep_ratio
FROM g
""")
def repetition_ratio_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram repetition ratio per document — the boilerplate/spam
    quality signal; zero-shuffle array expressions."""
    return text_analysis.repetition_ratio(_t(spark, sf_dir, "documents"))


@register("type_token_ratio_docs", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS ts
  FROM documents)
SELECT doc_id, round(len(list_distinct(ts)) * 1.0 / len(ts), 6) AS ttr
FROM toks WHERE len(ts) > 0
""")
def type_token_ratio_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity (distinct/total tokens) per document."""
    return text_analysis.type_token_ratio(_t(spark, sf_dir, "documents"))


@register("token_entropy_docs", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS ts
  FROM documents),
t2 AS (SELECT doc_id, ts, len(ts)::DOUBLE AS n FROM toks WHERE len(ts) > 0)
SELECT doc_id, len(ts)::BIGINT AS n_toks,
       round(list_sum(list_transform(
           list_distinct(ts),
           t -> (len(list_filter(ts, x -> x = t))::DOUBLE / n)
                * ln(n / len(list_filter(ts, x -> x = t))::DOUBLE))), 6)
         AS entropy
FROM t2
""")
def token_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram token entropy per document
    (text_analysis.token_entropy): the information-density quality
    signal next to TTR/repetition — near-0 entropy flags one-token
    floods and keyword stuffing. Zero-shuffle array algebra; the
    oracle folds the identical first-occurrence-ordered sum with
    DuckDB list HOFs."""
    return text_analysis.token_entropy(_t(spark, sf_dir, "documents"))


@register("length_band_filter_docs", """
WITH e AS (
  SELECT round(quantile_cont(n_chars, 0.05), 4) AS lo,
         round(quantile_cont(n_chars, 0.95), 4) AS hi
  FROM documents)
SELECT lang, count(*) AS n_docs,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM documents, e
WHERE n_chars >= lo AND n_chars <= hi
GROUP BY lang
ORDER BY lang
""")
def length_band_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative length gate (keep docs inside the [p5, p95]
    n_chars band) — the outlier-trim every ingest pipeline applies
    before quality scoring. Same sort-free percentile-edge shape as
    value_quartiles_bucketed: one exact-percentile aggregate
    broadcast into a narrow filter (percentile_approx at 100 TB)."""
    docs = _t(spark, sf_dir, "documents")
    edges = docs.agg(
        F.round(F.expr("percentile(n_chars, 0.05)"), 4).alias("lo"),
        F.round(F.expr("percentile(n_chars, 0.95)"), 4).alias("hi"))
    return (docs.crossJoin(F.broadcast(edges))
            .filter((F.col("n_chars") >= F.col("lo"))
                    & (F.col("n_chars") <= F.col("hi")))
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars"))
            .orderBy("lang"))


@register("stream_dedup_events", """
SELECT event_type, count(*) AS cnt
FROM (SELECT DISTINCT event_id, event_type FROM (
        SELECT event_id, event_type FROM events
        UNION ALL
        SELECT event_id, event_type FROM events))
GROUP BY event_type
ORDER BY event_type
""")
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming dedup operator (streaming/events.py
    dedup_events) on batch frames: an at-least-once delivery is
    simulated by doubling the input; dedup by event_id restores
    exactly-once counts. Streaming parity (bounded watermark state)
    is pytest-proven on a replayed file source."""
    from parlerproject_spark.streaming.events import dedup_events
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    replayed = ev.unionAll(ev)
    return (dedup_events(replayed)
            .groupBy("event_type").agg(F.count("*").alias("cnt"))
            .orderBy("event_type"))


@register("quantize_embeddings_int8", """
WITH q AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0
           AS scale,
         embedding
  FROM embeddings),
qq AS (
  SELECT vec_id, scale,
         list_transform(embedding,
                        x -> round(x::DOUBLE / scale, 0)::INTEGER) AS qv
  FROM q WHERE scale > 0)
SELECT vec_id, round(scale, 6) AS scale,
       cast(list_sum(qv) AS BIGINT) AS q_sum,
       cast(list_min(qv) AS INTEGER) AS q_min,
       cast(list_max(qv) AS INTEGER) AS q_max
FROM qq
""")
def quantize_embeddings_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the 4× storage cut a
    100 TB embedding table takes before serving (functions/vectors.py
    quant_scale/quantize_int8/dequantize; dequantized-cosine fidelity
    is pytest-bounded). Zero-shuffle array expressions; the oracle
    hashes per-vector scale + quantized checksum/min/max."""
    from parlerproject_spark.functions.vectors import quant_scale, quantize_int8
    emb = _t(spark, sf_dir, "embeddings")
    scaled = emb.withColumn("scale", quant_scale("embedding")) \
                .filter(F.col("scale") > 0)
    qq = scaled.withColumn("qv", quantize_int8("embedding", "scale"))
    q_sum = F.aggregate("qv", F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x.cast("bigint"))
    return qq.select(
        "vec_id", F.round("scale", 6).alias("scale"),
        q_sum.alias("q_sum"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"))


@register("salted_agg_user_totals", """
SELECT user_id, cast(sum(1) AS BIGINT) AS n_events,
       round(sum(value), 4) AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
""")
def salted_agg_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py salted_agg):
    a hot key's rows spread across 16 salt reducers in phase 1, then
    the per-salt partials merge on the true key. Result-identical to
    the plain groupBy the oracle runs — the salt only reshapes the
    shuffle."""
    from parlerproject_spark.operators.skew import salted_agg
    ev = _t(spark, sf_dir, "events")
    # "*" = count ROWS (count(1)): matches the oracle's sum(1)
    # under ANY null pattern — counting a "never-null" column would
    # silently diverge the day that contract breaks
    out = salted_agg(ev, "user_id",
                     [("*", "count", "n_events"),
                      ("value", "sum", "raw_total")], salt_buckets=16)
    return (out.select("user_id",
                       F.col("n_events").cast("long").alias("n_events"),
                       F.round("raw_total", 4).alias("total_value"))
            .orderBy("user_id"))


@register("window_family_orders", """
SELECT o_orderkey, o_orderpriority,
       round(percent_rank() OVER wr, 6) AS pr,
       round(cume_dist() OVER wr, 6) AS cd,
       round(first_value(o_totalprice) OVER wf, 2) AS cheapest,
       round(nth_value(o_totalprice, 2) OVER wf, 2) AS second_cheapest
FROM orders
WHERE o_orderkey <= 2000
WINDOW wr AS (PARTITION BY o_orderpriority
              ORDER BY o_totalprice ASC, o_orderkey ASC),
       wf AS (PARTITION BY o_orderpriority
              ORDER BY o_totalprice ASC, o_orderkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY o_orderkey
""")
def window_family_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth over one partitioning: ranking ratios
    (percent_rank, cume_dist — default RANGE frame) and frame
    navigation (first_value, nth_value over a running ROWS frame).
    Same partition key and sort order, so Catalyst fuses both frames
    into a single Window pass: one exchange, one sort."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    order_cols = [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()]
    wr = Window.partitionBy("o_orderpriority").orderBy(*order_cols)
    wf = (Window.partitionBy("o_orderpriority").orderBy(*order_cols)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (orders.select(
        "o_orderkey", "o_orderpriority",
        F.round(F.percent_rank().over(wr), 6).alias("pr"),
        F.round(F.cume_dist().over(wr), 6).alias("cd"),
        F.round(F.first_value("o_totalprice").over(wf), 2).alias("cheapest"),
        F.round(F.nth_value("o_totalprice", 2).over(wf), 2)
        .alias("second_cheapest"))
        .orderBy("o_orderkey"))


@register("media_resize", """
SELECT doc_id AS asset_id, w AS width, h AS height,
       256 AS new_width,
       CAST(greatest(1, (2 * h * 256 + w) // (2 * w)) AS INTEGER)
         AS new_height,
       'success' AS resize_status
FROM (
  SELECT doc_id,
         CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 1920 + 16
              AS INTEGER) AS w,
         CAST(('0x' || substr(md5(text), 9, 8))::BIGINT % 1080 + 16
              AS INTEGER) AS h
  FROM documents WHERE doc_id < 200 AND text IS NOT NULL)
ORDER BY asset_id
""")
def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize plumbing (multimodal.resize_media):
    batch-shaped binary in/out with an error-taxonomy column; the
    pixel resampler is the documented library seam. Hash-oracled
    since r10 (VERDICT r9 item 3): synth_media dims come from md5
    substrings and the target-height arithmetic is pure-integer
    HALF_UP, so the SQL oracle replays the full decode→resize
    dimension path; only payload BYTES stay un-oracled (the codec
    seam), and they are pytest-pinned (header rewrite roundtrip)."""
    from parlerproject_spark.operators.multimodal import resize_media, synth_media
    docs = (_t(spark, sf_dir, "documents")
            .filter((F.col("doc_id") < 200) & F.col("text").isNotNull()))
    return (resize_media(synth_media(docs), target_width=256)
            .select("asset_id", "width", "height", "new_width",
                    "new_height", "resize_status")
            .orderBy("asset_id"))


@register("audio_chunk_parts", """
SELECT doc_id, CAST(i AS INTEGER) AS chunk_no,
       CAST(i * 64 AS INTEGER) AS start_sample
FROM documents, unnest(range(0, 4)) AS t(i)
WHERE text IS NOT NULL
""")
def audio_chunk_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking as pure Column algebra (multimodal.audio_chunks
    — substring slicing over the binary column, zero Python). The
    synthetic payload is 256 bytes/doc (md5 hex × 8), so the oracle
    enumerates the 4 fixed 64-sample chunks; pytest proves lossless
    chunk reassembly on the actual bytes."""
    from parlerproject_spark.operators.multimodal import audio_chunks, synth_audio
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return (audio_chunks(synth_audio(docs), chunk_samples=64)
            .select("doc_id", F.col("chunk_no").cast("int").alias("chunk_no"),
                    F.col("start_sample").cast("int").alias("start_sample")))


@register("hourly_counts_gap_filled", """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events),
hours AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds),
actual AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS cnt
  FROM events GROUP BY 1)
SELECT strftime(hours.h, '%Y-%m-%d %H:%M:%S') AS hour,
       cast(coalesce(actual.cnt, 0) AS BIGINT) AS cnt
FROM hours LEFT JOIN actual ON hours.h = actual.h
ORDER BY hour
""")
def hourly_counts_gap_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: the dense hour spine is generated
    in-expression (sequence + explode from one min/max aggregate)
    and outer-joined to the actual hourly counts, zero-filling silent
    hours. Written as spine RIGHT-outer broadcast(actual): both sides
    are hours-in-range sized (bounded at any corpus scale), but a
    plain left join can't broadcast its preserved side, so this
    orientation is the one that gets a BroadcastHashJoin instead of
    shuffling both tiny sides into a sort-merge. The spine build
    never scans data twice: one aggregate, one explode."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(F.date_trunc("hour", F.min("ts")).alias("lo"),
                    F.date_trunc("hour", F.max("ts")).alias("hi"))
    spine = bounds.select(F.explode(F.sequence(
        "lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h"))
    actual = (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
              .agg(F.count("*").alias("cnt")))
    return (F.broadcast(actual).join(spine, "h", "right_outer")
            .select(F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
                    F.coalesce("cnt", F.lit(0)).alias("cnt"))
            .orderBy("hour"))


@register("json_malformed_taxonomy", """
SELECT status, cast(count(*) AS BIGINT) AS cnt
FROM (
  SELECT CASE WHEN json_valid(CASE WHEN event_id % 3 = 0
                              THEN substr(props, 1, len(props) - 2)
                              ELSE props END)
              THEN 'parsed' ELSE 'corrupt' END AS status
  FROM events WHERE props IS NOT NULL)
GROUP BY status
ORDER BY status
""")
def json_malformed_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-parse error taxonomy: a third of the props JSON is
    deliberately truncated, then rows classify by whether they still
    parse — Spark's from_json yields NULL for corrupt input (the
    PERMISSIVE contract) where DuckDB's json_valid says false; both
    engines agree row-for-row. The real-data analogue is the
    reference's encoding_error taxonomy
    (ID_matching_metadata.py:42-54)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    broken = F.when(F.col("event_id") % 3 == 0,
                    F.expr("substring(props, 1, length(props) - 2)")) \
              .otherwise(F.col("props"))
    parsed = F.from_json(broken, "map<string,string>")
    return (ev.select(F.when(parsed.isNotNull(), "parsed")
                      .otherwise("corrupt").alias("status"))
            .groupBy("status").agg(F.count("*").alias("cnt"))
            .orderBy("status"))


@register("near_dup_clusters", f"""
WITH RECURSIVE np AS ({_NGRAM_PAIRS_SQL}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM np
  UNION
  SELECT id_b AS s, id_a AS d FROM np),
nodes AS (SELECT DISTINCT s AS v FROM edges),
reach(v, r) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.v)
SELECT v AS doc_id, min(r) AS cluster_id
FROM reach GROUP BY v
ORDER BY doc_id
""")
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the n-gram-Jaccard near-dup pairs
    (dedup.duplicate_clusters): min-label propagation with pointer
    jumping, O(log diameter) iterations, ids-only shuffles. The
    oracle computes the true transitive closure with a recursive CTE
    — equality proves the iterative algorithm converged."""
    pairs = dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"),
                                      n=3, threshold=0.5, max_df=128)
    return (dedup.duplicate_clusters(pairs)
            .orderBy("doc_id"))


@register("leakage_safe_split_docs", f"""
WITH RECURSIVE np AS ({_NGRAM_PAIRS_SQL}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM np
  UNION
  SELECT id_b AS s, id_a AS d FROM np),
nodes AS (SELECT DISTINCT s AS v FROM edges),
reach(v, r) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.v),
cl AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
assigned AS (
  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id)
SELECT doc_id, cluster_id,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, cluster_id,
             ('0x' || substr(md5('split-v1:' || cast(cluster_id AS VARCHAR)),
                             1, 15))::BIGINT % 2147483647 % 100 AS bucket
      FROM assigned)
ORDER BY doc_id
""")
def leakage_safe_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split
    (operators/sampling.leakage_safe_split): n-gram-Jaccard near-dup
    clusters (pairs -> connected components, singletons = own id) are
    the unit of split assignment, so templated near-copies can never
    straddle train and eval — the split-time half of decontamination.
    The oracle replays pair generation, the recursive-CTE closure,
    singleton padding and the md5(seed:cluster) bucket map."""
    from parlerproject_spark.operators.sampling import leakage_safe_split
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=128)
    return leakage_safe_split(docs, pairs).orderBy("doc_id")


@register("dp_event_type_counts", """
SELECT event_type,
       round(cnt + (-1.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))),
             6) AS dp_count
FROM (
  SELECT event_type, cast(count(*) AS DOUBLE) AS cnt,
         ((('0x' || substr(md5('dp-v1:' || event_type), 1, 15))::BIGINT
           % 2147483647)::DOUBLE + 0.5) / 2147483647.0 AS u
  FROM events GROUP BY event_type)
ORDER BY event_type
""")
def dp_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP histogram release (operators/privacy.dp_group_counts):
    per-event-type counts + Laplace(1/ε) noise at ε=1, noise derived
    from md5(seed:key) by inverse CDF so the release is reproducible
    and cross-engine replayable (production rotates the seed per
    publication — see the operator docstring). One keyed aggregation
    + a pure noise map on the key; true counts never ship."""
    from parlerproject_spark.operators.privacy import dp_group_counts
    ev = _t(spark, sf_dir, "events")
    return dp_group_counts(ev, ["event_type"], epsilon=1.0) \
        .orderBy("event_type")


@register("train_val_test_split", """
WITH assigned AS (
  SELECT doc_id,
         ('0x' || substr(md5(cast(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 2147483647 % 100 AS bucket
  FROM documents)
SELECT split, cast(count(*) AS BIGINT) AS n_docs, min(doc_id) AS first_doc
FROM (SELECT doc_id,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM assigned)
GROUP BY split
ORDER BY split
""")
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (80/10/10) — the
    assignment every training pipeline needs to be REPRODUCIBLE and
    join-free at any scale: a pure map on md5(doc_id), no sampling
    RNG, no global state, stable across engines and runs (the same
    doc always lands in the same split even as the corpus grows)."""
    docs = _t(spark, sf_dir, "documents")
    bucket = stable_hash31(F.col("doc_id").cast("string")) % 100
    split = (F.when(bucket < 80, "train")
             .when(bucket < 90, "val").otherwise("test"))
    return (docs.select("doc_id", split.alias("split"))
            .groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("first_doc"))
            .orderBy("split"))


@register("robust_zscores_by_user", """
WITH med AS (
  SELECT user_id, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY user_id),
mad AS (
  SELECT e.user_id, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (user_id)
  GROUP BY e.user_id)
SELECT e.user_id, e.event_id,
       CASE WHEN a.mad > 0 THEN round((e.value - m.med) / a.mad, 6)
            ELSE 0.0 END AS z
FROM events e
JOIN med m USING (user_id)
JOIN mad a USING (user_id)
ORDER BY e.user_id, e.event_id
""")
def robust_zscores_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (functions/py_udfs.robust_zscores):
    per-user median/MAD z-scores where the whole group materializes
    as one pandas frame — the batch custom-operator escape hatch,
    scaling with the largest group. numpy and quantile_cont share the
    same interpolated-median definition, so the DuckDB oracle
    hash-checks the Python path exactly."""
    from parlerproject_spark.functions.py_udfs import robust_zscores
    ev = _t(spark, sf_dir, "events")
    return robust_zscores(ev).orderBy("user_id", "event_id")


@register("robust_zscores_native", """
WITH med AS (
  SELECT user_id, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY user_id),
mad AS (
  SELECT e.user_id, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (user_id)
  GROUP BY e.user_id)
SELECT e.user_id, e.event_id,
       CASE WHEN a.mad > 0 THEN round((e.value - m.med) / a.mad, 6)
            ELSE 0.0 END AS z
FROM events e
JOIN med m USING (user_id)
JOIN mad a USING (user_id)
ORDER BY e.user_id, e.event_id
""")
def robust_zscores_native_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEFAULT robust z-score path (operators/stats): the same
    per-user median/MAD semantics as robust_zscores_by_user, but as
    two window aggregates sharing ONE exchange — no grouped-map
    materialization, so a heavy-hitter user spills a JVM sort instead
    of OOMing a Python worker. Same oracle as the applyInPandas twin:
    both hash to identical results."""
    from parlerproject_spark.operators.stats import robust_zscores_native
    ev = _t(spark, sf_dir, "events")
    return robust_zscores_native(ev).orderBy("user_id", "event_id")


_CJK_SAMPLES = {
    0: "你好世界这是一个测试文本",
    1: "これはテストですかそうです",
    2: "안녕하세요 세계 테스트",
}


@register("language_id_script_aware", f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0 THEN '{_CJK_SAMPLES[0]}'
              WHEN doc_id % 17 = 1 THEN '{_CJK_SAMPLES[1]}'
              WHEN doc_id % 17 = 2 THEN '{_CJK_SAMPLES[2]}'
              ELSE text END AS t
  FROM documents),
counts AS (
  SELECT doc_id, t,
         length(t) - length(regexp_replace(t, '[一-鿿]', '', 'g')) AS n_han,
         length(t) - length(regexp_replace(t, '[぀-ヿ]', '', 'g')) AS n_kana,
         length(t) - length(regexp_replace(t, '[가-힣]', '', 'g')) AS n_hang,
         list_distinct(list_filter(
           string_split_regex(lower(t), '[^a-z0-9]+'),
           x -> x <> '')) AS ts
  FROM aug),
scored AS (
  SELECT doc_id, n_han, n_kana, n_hang, length(t) AS n_all,
         len(list_intersect(ts, ['the', 'and', 'of', 'is'])) AS s_en,
         len(list_intersect(ts, ['el', 'la', 'los', 'que'])) AS s_es,
         len(list_intersect(ts, ['der', 'die', 'und', 'ist'])) AS s_de,
         len(list_intersect(ts, ['le', 'les', 'des', 'est'])) AS s_fr
  FROM counts)
SELECT lang_pred, count(*) AS n_docs FROM (
  SELECT CASE
    WHEN (n_han + n_kana + n_hang) / greatest(n_all, 1) >= 0.15 THEN
      CASE WHEN n_kana > 0 THEN 'ja'
           WHEN n_hang > n_han THEN 'ko'
           ELSE 'zh' END
    WHEN greatest(s_en, s_es, s_de, s_fr) <= 0 THEN 'und'
    WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
    WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
    WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
    ELSE 'fr' END AS lang_pred
  FROM scored)
GROUP BY lang_pred ORDER BY lang_pred
""")
def language_id_script_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-aware language ID (VERDICT r2 task 5): the tokenizer
    splits on [^a-z0-9]+, so pure marker voting collapses genuine CJK
    text to 'und'. A Han/Kana/Hangul code-point-share gate
    (length-minus-stripped-length, zero shuffle) now routes CJK text
    to zh/ja/ko BEFORE Latin marker voting. The documents table is
    ASCII-synthetic, so the query injects deterministic CJK texts on
    doc_id % 17 ∈ {0,1,2} — the oracle replays the same injection and
    the full gate in SQL."""
    d = _t(spark, sf_dir, "documents")
    aug = (F.when(F.col("doc_id") % 17 == 0, F.lit(_CJK_SAMPLES[0]))
           .when(F.col("doc_id") % 17 == 1, F.lit(_CJK_SAMPLES[1]))
           .when(F.col("doc_id") % 17 == 2, F.lit(_CJK_SAMPLES[2]))
           .otherwise(F.col("text")))
    base = d.select("doc_id", aug.alias("t"))
    labeled = text_analysis.language_id(base, text_col="t", script_aware=True)
    return (labeled.groupBy("lang_pred")
            .agg(F.count("*").alias("n_docs"))
            .orderBy("lang_pred"))


def _archive_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic tar fixture for the end-to-end archive pipeline:
    one uncompressed tar whose members are JSON metadata derived
    row-for-row from the documents table, so a DuckDB oracle over
    documents is ground truth for the whole tar→decode→parse→filter→
    aggregate chain. Member for each doc_id < 200: {"ID", "lang"},
    GPSPosition iff doc_id % 3 == 0, and a note field that is
    latin-1-only (0xE9, invalid UTF-8 → the charset-fallback path)
    iff doc_id % 7 == 0. Built once per sf_dir under the repo-local
    .fixture_cache (atomic rename; concurrent builders converge)."""
    import hashlib
    import io
    import json as _json
    import os
    import tarfile

    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".fixture_cache")
    path = os.path.join(root, f"metadata_{digest}.tar")
    if os.path.exists(path):
        return path
    rows = (_t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 200)
            .select("doc_id", "lang").collect())
    os.makedirs(root, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with tarfile.open(tmp, "w") as tar:
        for r in sorted(rows, key=lambda r: r.doc_id):
            obj = {"ID": int(r.doc_id), "lang": r.lang}
            if r.doc_id % 3 == 0:
                obj["GPSPosition"] = f"{int(r.doc_id) % 60} deg 3' 8.40\" N"
            note = "café" if r.doc_id % 7 == 0 else "ok"
            # note appended OUTSIDE json.dumps: ensure_ascii would
            # escape the 0xE9 char and defeat the fallback fixture
            payload = _json.dumps(obj, ensure_ascii=True)[:-1] \
                + ', "note": "' + note + '"}'
            data = payload.encode("latin-1")
            info = tarfile.TarInfo(name=f"meta/{int(r.doc_id):06d}.json")
            info.size = len(data)
            info.mtime = 0
            tar.addfile(info, io.BytesIO(data))
    os.replace(tmp, path)
    return path


@register("pipeline_archive_metadata", """
SELECT CASE WHEN doc_id % 7 = 0 THEN 'encoding_error'
            ELSE 'success' END AS decode_status,
       CAST(doc_id % 3 = 0 AS INT) AS has_gps,
       count(*) AS n_members
FROM documents
WHERE doc_id < 200
GROUP BY decode_status, has_gps
ORDER BY decode_status, has_gps
""")
def pipeline_archive_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship batch job end-to-end (VERDICT r2 task
    8; reference shape code/data_processing_scripts/
    ID_matching_metadata.py:41-88): tar member enumeration (S6, split
    across tasks with pread random access) → charset decode with
    ascii fallback (S7) → per-member JSON parse (S8) → GPS-prefix
    predicate (P4) → status/taxonomy counts. The tar is generated
    deterministically FROM the documents table (_archive_fixture), so
    the oracle replays the taxonomy straight from documents — every
    member that survives each stage is accounted for by doc_id
    arithmetic."""
    from parlerproject_spark.sources.archives import TarMembersDataSource
    from parlerproject_spark.sources.files import ascii_decode_with_fallback
    spark.dataSource.register(TarMembersDataSource)
    path = _archive_fixture(spark, sf_dir)
    members = (spark.read.format("tar_members")
               .option("path", path).option("suffix", ".json")
               .option("numPartitions", "8").load())
    decoded = ascii_decode_with_fallback(members, "content")
    parsed = decoded.withColumn(
        "m", F.from_json(
            "text", "ID long, lang string, GPSPosition string, note string"))
    gps = F.col("m.GPSPosition")
    has_gps = (F.when(gps.isNotNull() & gps.rlike("^[0-9]+ deg"), F.lit(1))
               .otherwise(F.lit(0)))
    return (parsed.select("decode_status", has_gps.alias("has_gps"))
            .groupBy("decode_status", "has_gps")
            .agg(F.count("*").alias("n_members"))
            .orderBy("decode_status", "has_gps"))


def _zip_archive_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Zip twin of _archive_fixture — same member payloads (derived
    row-for-row from documents, so the same DuckDB oracle is ground
    truth), containered as a DEFLATE zip because that is what the
    reference's posts container is (analysis/preview_posts.ipynb:23).
    Fixed 1980 DOS timestamps keep the file byte-deterministic."""
    import hashlib
    import json as _json
    import os
    import zipfile

    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".fixture_cache")
    path = os.path.join(root, f"metadata_{digest}.zip")
    if os.path.exists(path):
        return path
    rows = (_t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 200)
            .select("doc_id", "lang").collect())
    os.makedirs(root, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for r in sorted(rows, key=lambda r: r.doc_id):
            obj = {"ID": int(r.doc_id), "lang": r.lang}
            if r.doc_id % 3 == 0:
                obj["GPSPosition"] = f"{int(r.doc_id) % 60} deg 3' 8.40\" N"
            note = "café" if r.doc_id % 7 == 0 else "ok"
            payload = _json.dumps(obj, ensure_ascii=True)[:-1] \
                + ', "note": "' + note + '"}'
            info = zipfile.ZipInfo(f"meta/{int(r.doc_id):06d}.json",
                                   date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(info, payload.encode("latin-1"))
    os.replace(tmp, path)
    return path


@register("pipeline_zip_archive_metadata", """
SELECT CASE WHEN doc_id % 7 = 0 THEN 'encoding_error'
            ELSE 'success' END AS decode_status,
       CAST(doc_id % 3 = 0 AS INT) AS has_gps,
       count(*) AS n_members
FROM documents
WHERE doc_id < 200
GROUP BY decode_status, has_gps
ORDER BY decode_status, has_gps
""")
def pipeline_zip_archive_metadata(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The archive pipeline routed through the ZIP member source
    (S6 zip variant — the reference's posts container is a zip,
    analysis/preview_posts.ipynb:23): central-directory catalog on
    the driver, per-member RANDOM access in every task (zip members
    compress independently, so — unlike .tar.gz — parallel
    extraction needs no stream re-scan even when compressed). Same
    decode→parse→GPS-taxonomy chain and the same documents-derived
    oracle as pipeline_archive_metadata."""
    from parlerproject_spark.sources.archives import ZipMembersDataSource
    from parlerproject_spark.sources.files import ascii_decode_with_fallback
    spark.dataSource.register(ZipMembersDataSource)
    path = _zip_archive_fixture(spark, sf_dir)
    members = (spark.read.format("zip_members")
               .option("path", path).option("suffix", ".json")
               .option("numPartitions", "8").load())
    decoded = ascii_decode_with_fallback(members, "content")
    parsed = decoded.withColumn(
        "m", F.from_json(
            "text", "ID long, lang string, GPSPosition string, note string"))
    gps = F.col("m.GPSPosition")
    has_gps = (F.when(gps.isNotNull() & gps.rlike("^[0-9]+ deg"), F.lit(1))
               .otherwise(F.lit(0)))
    return (parsed.select("decode_status", has_gps.alias("has_gps"))
            .groupBy("decode_status", "has_gps")
            .agg(F.count("*").alias("n_members"))
            .orderBy("decode_status", "has_gps"))


# ---------------------------------------------------------------------------
# Training-data pipeline: privacy, decontamination, sessions, sampling
# ---------------------------------------------------------------------------

@register("pii_redaction_docs", """
WITH aug AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 4 = 0 THEN ' mail user' || doc_id || '@example.com now'
           WHEN doc_id % 4 = 1 THEN ' dial 555-867-5309 today'
           WHEN doc_id % 4 = 2 THEN ' host 192.168.' || (doc_id % 256) || '.7 up'
           ELSE '' END AS t
  FROM documents)
SELECT doc_id,
       cast(len(regexp_extract_all(t,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
       cast(len(regexp_extract_all(t, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS INT) AS n_phone,
       cast(len(regexp_extract_all(t,
         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ip,
       right(regexp_replace(regexp_replace(regexp_replace(t,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'),
         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
         25) AS clean_tail
FROM aug
ORDER BY doc_id
""")
def pii_redaction_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators/privacy): detection counts + redaction,
    pure JVM regexp inside the scan stage — the zero-shuffle
    pre-ship scrubbing pass of a training corpus. The synthetic
    documents carry no PII, so deterministic emails / phone numbers /
    IPs are injected by doc_id arithmetic (the CJK-injection
    pattern); the oracle replays injection, counting, and the chained
    redaction — clean_tail hash-checks the actual rewritten text, not
    just the counts."""
    from parlerproject_spark.operators.privacy import pii_counts, redact_pii
    d = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit(" mail user"), F.col("doc_id").cast("string"),
                        F.lit("@example.com now")))
        .when(F.col("doc_id") % 4 == 1, F.lit(" dial 555-867-5309 today"))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.lit(" host 192.168."),
                       (F.col("doc_id") % 256).cast("string"), F.lit(".7 up")))
        .otherwise(F.lit("")))
    base = d.select("doc_id", aug.alias("t"))
    out = redact_pii(pii_counts(base, text_col="t"), text_col="t")
    return (out.select("doc_id", "n_email", "n_phone", "n_ip",
                       F.expr("right(clean_text, 25)").alias("clean_tail"))
            .orderBy("doc_id"))


@register("semantic_decontaminate_embeddings", """
WITH ev AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
co AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
p AS (
  SELECT c.vec_id AS did, e.vec_id AS eid,
         unnest(c.embedding)::DOUBLE AS x,
         unnest(e.embedding)::DOUBLE AS y
  FROM co c CROSS JOIN ev e),
sims AS (
  SELECT did, eid,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
           AS sim
  FROM p GROUP BY did, eid)
SELECT did AS doc_id,
       cast(count(*) AS BIGINT) AS n_hits,
       max(sim) AS max_sim
FROM sims
WHERE sim >= 0.3
GROUP BY did
ORDER BY doc_id
""")
def semantic_decontaminate_embeddings(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Embedding-space decontamination (operators/decontaminate
    .semantic_contamination_hits): corpus vectors within cosine 0.3
    of any held-out vector (vec_id % 20 == 0 standing in as the eval
    set) are flagged with hit count + best similarity — the
    paraphrase-leakage pass n-gram overlap misses. Eval side
    broadcasts; the only shuffle is the per-doc hit aggregation,
    bounded by contamination density. Oracle recomputes every
    corpus x eval cosine brute-force."""
    from parlerproject_spark.operators.decontaminate import (
        semantic_contamination_hits)
    emb = _t(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % 20 == 0)
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    return (semantic_contamination_hits(corpus, ev, threshold=0.3)
            .orderBy("doc_id"))


@register("decontaminate_corpus", """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS ts
  FROM documents),
grams AS (
  SELECT doc_id, unnest(list_distinct([array_to_string(ts[i:i+2], ' ')
                                       FOR i IN generate_series(1, len(ts) - 2)])) AS gram
  FROM tok WHERE len(ts) >= 3),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0),
corp AS (SELECT doc_id, gram FROM grams WHERE doc_id % 50 <> 0)
SELECT c.doc_id, cast(count(*) AS BIGINT) AS n_hits
FROM corp c JOIN bench b USING (gram)
GROUP BY c.doc_id
ORDER BY c.doc_id
""")
def decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontaminate): docs
    sharing a word n-gram with the held-out set (docs with
    doc_id % 50 == 0 standing in as the benchmark) are flagged with
    their shared-gram count. n=3 so the synthetic vocabulary actually
    collides; production corpora use n=8+. The benchmark gram set
    broadcasts; the corpus side's only shuffle is the per-doc hit
    aggregation, bounded by contamination density."""
    from parlerproject_spark.operators.decontaminate import contamination_hits
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    return (contamination_hits(corpus, bench, n=3)
            .select("doc_id", F.col("n_hits").cast("long").alias("n_hits"))
            .orderBy("doc_id"))


@register("dialogue_assembly_events", """
WITH ordered AS (
  SELECT user_id, event_id, ts, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events),
tagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN pts IS NULL OR ts - pts > INTERVAL 1800 SECONDS
              THEN 1 ELSE 0 END AS brk
  FROM ordered),
sess AS (
  SELECT user_id, event_id, ts, event_type,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_no
  FROM tagged),
ranked AS (
  SELECT user_id, session_no, ts, event_id,
         event_type || '#' || event_id AS turn,
         row_number() OVER (PARTITION BY user_id, session_no
                            ORDER BY ts, event_id) AS rn
  FROM sess),
agg AS (
  SELECT user_id, cast(session_no AS BIGINT) AS session_no,
         cast(count(*) AS BIGINT) AS n_turns,
         string_agg(turn, ' | ' ORDER BY rn) AS transcript
  FROM ranked WHERE rn <= 8
  GROUP BY user_id, session_no)
SELECT user_id, session_no, n_turns, transcript,
       cast(length(transcript) AS BIGINT) AS n_chars
FROM agg ORDER BY user_id, session_no
""")
def dialogue_assembly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-format dialogue assembly
    (operators/sampling.assemble_dialogues): sessionized per-user
    timelines truncated to the first 8 turns and concatenated into
    one transcript per session — the conversation-data shaping step
    (ordering, sessionization, context-window truncation, assembly)
    with the turn format supplied as an expression. One exchange on
    the user key; per-session aggregation bounded by max_turns."""
    from parlerproject_spark.operators.sampling import assemble_dialogues
    e = _t(spark, sf_dir, "events").withColumn(
        "turn", F.concat(F.col("event_type"), F.lit("#"),
                         F.col("event_id").cast("string")))
    return (assemble_dialogues(e, max_turns=8)
            .orderBy("user_id", "session_no"))


@register("dpo_pipeline_events", """
WITH ordered AS (
  SELECT user_id, event_id, ts, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events),
tagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN pts IS NULL OR ts - pts > INTERVAL 1800 SECONDS
              THEN 1 ELSE 0 END AS brk
  FROM ordered),
sess AS (
  SELECT user_id, event_id, ts, event_type,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_no
  FROM tagged),
ranked AS (
  SELECT user_id, session_no, ts, event_id,
         event_type || '#' || event_id AS turn,
         row_number() OVER (PARTITION BY user_id, session_no
                            ORDER BY ts, event_id) AS rn
  FROM sess),
dlg AS (
  SELECT user_id, cast(session_no AS BIGINT) AS session_no,
         length(string_agg(turn, ' | ' ORDER BY rn))::DOUBLE AS s
  FROM ranked WHERE rn <= 8
  GROUP BY user_id, session_no),
best AS (
  SELECT user_id, session_no AS chosen_id, s AS chosen_score FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY s DESC, session_no ASC) AS rb
    FROM dlg) WHERE rb = 1),
worst AS (
  SELECT user_id, session_no AS rejected_id, s AS rejected_score FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY s ASC, session_no ASC) AS rw
    FROM dlg) WHERE rw = 1),
pr AS (
  SELECT b.user_id, b.chosen_id, w.rejected_id,
         round(b.chosen_score, 6) AS chosen_score,
         round(w.rejected_score, 6) AS rejected_score,
         round(b.chosen_score - w.rejected_score, 6) AS margin
  FROM best b JOIN worst w USING (user_id)
  WHERE b.chosen_id <> w.rejected_id
    AND round(b.chosen_score - w.rejected_score, 6) >= 1.0)
SELECT user_id, chosen_id, rejected_id, chosen_score, rejected_score,
       margin,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT *,
             ('0x' || substr(md5('split-v1:' || user_id), 1, 15))::BIGINT
               % 2147483647 % 100 AS bucket
      FROM pr)
ORDER BY user_id
""")
def dpo_pipeline_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DPO data pipeline composed END-TO-END from verified
    operators, unchanged (VERDICT r8 item 7 — the
    pretraining_corpus_pipeline composition pattern):
    assemble_dialogues (sessionize → truncate → transcript) →
    preference_pairs (per-user best-vs-worst transcript by length
    score, margin-filtered) → grouped_split (leakage-safe: the
    SPLIT is assigned to the user group, so a user's chosen and
    rejected transcripts can never straddle train/eval). One
    CTE-chained oracle replays all three stages."""
    from parlerproject_spark.operators.preference import preference_pairs
    from parlerproject_spark.operators.sampling import (assemble_dialogues,
                                                        grouped_split)
    e = _t(spark, sf_dir, "events").withColumn(
        "turn", F.concat(F.col("event_type"), F.lit("#"),
                         F.col("event_id").cast("string")))
    dlg = assemble_dialogues(e, max_turns=8)
    pairs = preference_pairs(dlg, group_col="user_id",
                             item_col="session_no", score_col="n_chars",
                             margin=1.0)
    return grouped_split(pairs, group_col="user_id").orderBy("user_id")


@register("sessionize_events", """
WITH ordered AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events),
tagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN pts IS NULL OR ts - pts > INTERVAL 1800 SECONDS
              THEN 1 ELSE 0 END AS brk
  FROM ordered),
sess AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_no
  FROM tagged)
SELECT user_id, cast(session_no AS BIGINT) AS session_no,
       cast(count(*) AS BIGINT) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
FROM sess
GROUP BY user_id, session_no
ORDER BY user_id, session_no
""")
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (operators/relational.sessionize): gap >
    30 min starts a new session. lag + running-sum share ONE
    (partition, order) — a single exchange and sort for the whole
    session assignment, then the summary reuses the same key
    partitioning. The batch twin of the streaming session_window op,
    hash-verified here where the streaming variant can only be
    rows-checked."""
    ev = _t(spark, sf_dir, "events")
    s = relational.sessionize(ev, gap_seconds=1800)
    return (s.groupBy("user_id", "session_no")
            .agg(F.count("*").alias("n_events"),
                 F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss")
                  .alias("session_start"),
                 F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss")
                  .alias("session_end"))
            .orderBy("user_id", "session_no"))


@register("stratified_sample_docs", """
WITH assigned AS (
  SELECT lang, doc_id,
         ('0x' || substr(md5(cast(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 2147483647 % 10000 AS bucket
  FROM documents)
SELECT lang, cast(count(*) AS BIGINT) AS n_docs, min(doc_id) AS first_doc
FROM assigned
WHERE bucket < CASE lang WHEN 'en' THEN 5000 WHEN 'es' THEN 2500
                         WHEN 'de' THEN 1000 ELSE 0 END
GROUP BY lang
ORDER BY lang
""")
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (operators/sampling): per-
    language keep fractions (en 50% / es 25% / de 10% / others 0)
    via stable_hash31 buckets — the corpus-rebalancing op, zero
    shuffle, reproducible across engines and corpus growth (a doc's
    membership never changes as data is appended)."""
    from parlerproject_spark.operators.sampling import stratified_sample
    d = _t(spark, sf_dir, "documents")
    sampled = stratified_sample(
        d, {"en": 0.5, "es": 0.25, "de": 0.1},
        strata_col="lang", id_col="doc_id")
    return (sampled.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("first_doc"))
            .orderBy("lang"))


@register("corpus_shuffle_order", """
SELECT cast(row_number() OVER (
         ORDER BY md5('shuffle-v1:' || cast(doc_id AS VARCHAR))) AS BIGINT)
         AS rn,
       doc_id
FROM documents
ORDER BY rn
LIMIT 50
""")
def corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle (operators/sampling): the
    reproducible training-order permutation — order by
    md5(seed || doc_id), identical in every engine and run. The
    md5 key is uniform, so the underlying range-partitioned sort has
    no skew by construction; first 50 positions shown (the full
    permutation is the sort itself)."""
    from parlerproject_spark.operators.sampling import deterministic_shuffle
    d = _t(spark, sf_dir, "documents")
    # Cut to the 50 surviving rows FIRST (orderBy+limit collapses to
    # TakeOrderedAndProject — parallel partial top-k, no global sort
    # materialized), THEN number the bounded extract.  Numbering the
    # full table via an unpartitioned window would drag every row to
    # one partition — the one shape this module must never plan.
    key = F.md5(F.concat(F.lit("shuffle-v1:"), F.col("doc_id").cast("string")))
    head = (deterministic_shuffle(d.select("doc_id"), id_col="doc_id")
            .limit(50))
    # bounded: 50 rows post-limit — one of the three documented
    # single-partition windows (with ntile_value_quartiles and
    # vocab_coverage); tests/test_plans.py sweeps the registry and
    # pins that every other unpartitioned window is gone
    w = Window.orderBy(key)
    return (head.select(
        F.row_number().over(w).cast("long").alias("rn"), "doc_id")
        .orderBy("rn"))


@register("line_dedup_docs", """
WITH aug AS (
  SELECT doc_id,
         substr(text, 1, 40) || chr(10) || 'uniq ' || doc_id ||
         CASE WHEN doc_id % 2 = 0
              THEN chr(10) || 'JOIN OUR NEWSLETTER TODAY'
              ELSE '' END AS t
  FROM documents),
lines AS (
  SELECT doc_id, pos, line FROM (
    SELECT doc_id,
           unnest(string_split(t, chr(10))) AS line,
           generate_subscripts(string_split(t, chr(10)), 1) AS pos
    FROM aug)
  WHERE length(trim(line)) > 0),
flagged AS (
  SELECT doc_id, pos, line,
         count(DISTINCT doc_id) OVER (PARTITION BY line) AS line_df
  FROM lines)
SELECT doc_id,
       string_agg(line, chr(10) ORDER BY pos) AS clean_text,
       cast(count(*) AS BIGINT) AS n_lines_kept
FROM flagged
WHERE line_df <= 2
GROUP BY doc_id
ORDER BY doc_id
""")
def line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate dedup (operators/text_analysis.
    line_dedup — the RefinedWeb/Falcon pass): lines shared by more
    than max_line_df documents are template mass and are dropped from
    every doc. The synthetic docs are single-line, so each is recast
    as 3 lines — a 40-char prefix (rarely shared), a unique marker
    line, and (on evens) an injected newsletter footer; the footer
    must vanish, the rest must reassemble in order. The oracle
    replays the whole pass, hash-checking the rebuilt text."""
    from parlerproject_spark.operators.text_analysis import line_dedup
    d = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.substring("text", 1, 40), F.lit("\nuniq "),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 2 == 0,
               F.lit("\nJOIN OUR NEWSLETTER TODAY")).otherwise(F.lit("")))
    base = d.select("doc_id", aug.alias("t"))
    return (line_dedup(base, text_col="t", max_line_df=2)
            .orderBy("doc_id"))


@register("pack_sequences_docs", """
WITH toks AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS n,
         md5('pack-v1:' || cast(doc_id AS VARCHAR)) AS k,
         cast(('0x' || substr(md5(cast(doc_id AS VARCHAR)), 1, 15))::BIGINT
              % 2147483647 % 8 AS INT) AS shard
  FROM documents),
c AS (
  SELECT doc_id, shard,
         sum(n) OVER (PARTITION BY shard ORDER BY k
                      ROWS UNBOUNDED PRECEDING) - n AS cb
  FROM toks)
SELECT doc_id, shard,
       cast(floor(cb / 512) AS BIGINT) AS seq_no,
       cast(cb % 512 AS BIGINT) AS tok_offset
FROM c
ORDER BY doc_id
""")
def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/sampling.pack_sequences):
    concat-and-chunk training-batch construction — docs lie end-to-
    end in seeded md5 order and are cut into 512-token sequences,
    each doc tagged with its (shard, seq_no, tok_offset). The cumsum
    runs PER SHARD (8 here) so packing parallelizes instead of
    serializing on a global ordering; the oracle replays the hash
    math and the windowed cumsum exactly."""
    from parlerproject_spark.operators.sampling import pack_sequences
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_toks"))
    return (pack_sequences(d, id_col="doc_id", tokens_col="n_toks",
                           seq_len=512, shards=8)
            .orderBy("doc_id"))


@register("phash_near_dup_media", """
WITH base AS (
  SELECT doc_id AS pid,
         ('0x' || substr(md5(text), 1, 15))::BIGINT AS ph
  FROM documents WHERE doc_id < 300),
aug AS (
  SELECT pid, ph FROM base
  UNION ALL
  SELECT pid + 100000, xor(ph, 3) FROM base WHERE pid % 5 = 0),
pairs AS (
  SELECT a.pid AS id_a, b.pid AS id_b,
         bit_count(xor(a.ph, b.ph)) AS hamming
  FROM aug a JOIN aug b ON a.pid < b.pid)
SELECT id_a, id_b, cast(hamming AS INT) AS hamming
FROM pairs WHERE hamming <= 3
ORDER BY id_a, id_b
""")
def phash_near_dup_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash media near-dup (operators/multimodal.
    phash_near_dup): banded hamming join over 64-bit pHashes — the
    image-dedup op, with near-identical assets injected as
    XOR-3-perturbed copies (hamming 2) of every fifth hash. The
    oracle brute-forces ALL pairs; equality proves the 4-band
    pigeonhole candidate generation loses nothing under
    max_hamming=3 < bands."""
    from parlerproject_spark.operators.multimodal import phash_near_dup
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    base = d.select(
        F.col("doc_id").alias("pid"),
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
        .cast("bigint").alias("ph"))
    dups = (base.filter(F.col("pid") % 5 == 0)
            .select((F.col("pid") + 100000).alias("pid"),
                    F.col("ph").bitwiseXOR(F.lit(3)).alias("ph")))
    assets = base.unionByName(dups)
    return (phash_near_dup(assets, id_col="pid", phash_col="ph",
                           max_hamming=3, bands=4)
            .select("id_a", "id_b", F.col("hamming").cast("int")
                    .alias("hamming"))
            .orderBy("id_a", "id_b"))


@register("lm_score_docs", """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents),
uni AS (
  SELECT w, count(*) AS c1
  FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w),
v AS (SELECT cast(count(*) AS DOUBLE) AS vsz FROM uni),
idx AS (
  SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS gs
  FROM toks),
big AS (
  SELECT doc_id, ts[gs] AS w1, ts[gs + 1] AS w2 FROM idx),
bgc AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2)
SELECT doc_id, cast(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln((c2 + 1.0) / (c1 + vsz))), 6) AS lm_logp
FROM big
JOIN bgc USING (w1, w2)
JOIN uni ON big.w1 = uni.w
CROSS JOIN v
GROUP BY doc_id
ORDER BY doc_id
""")
def lm_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (operators/text_analysis.lm_score):
    the corpus-trained perplexity filter — add-one-smoothed mean
    bigram log-probability per document. The oracle retrains the
    same bigram model in SQL and rescoring must hash-match."""
    from parlerproject_spark.operators.text_analysis import lm_score
    return (lm_score(_t(spark, sf_dir, "documents"))
            .orderBy("doc_id"))


@register("vocab_coverage_docs", """
WITH tf AS (
  SELECT w AS term, count(*) AS tf
  FROM (SELECT unnest(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'),
            t -> t <> '')) AS w
        FROM documents)
  GROUP BY w),
tot AS (SELECT cast(sum(tf) AS DOUBLE) AS total FROM tf),
top AS (SELECT term, tf FROM tf ORDER BY tf DESC, term ASC LIMIT 200)
SELECT term, cast(tf AS BIGINT) AS tf,
       cast(row_number() OVER (ORDER BY tf DESC, term ASC) AS BIGINT)
           AS rank,
       round(sum(tf) OVER (ORDER BY tf DESC, term ASC
                           ROWS UNBOUNDED PRECEDING) / total, 6)
           AS cum_share
FROM top CROSS JOIN tot
ORDER BY rank
""")
def vocab_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k vocabulary + cumulative coverage (operators/
    text_analysis.vocab_coverage) — the tokenizer-training
    precursor. TakeOrdered top-200, window cumsum over only the
    survivors, total as a broadcast scalar."""
    from parlerproject_spark.operators.text_analysis import vocab_coverage
    return (vocab_coverage(_t(spark, sf_dir, "documents"), top_k=200)
            .orderBy("rank"))


@register("chunk_documents_docs", """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS ts
  FROM documents),
nonempty AS (SELECT * FROM toks WHERE len(ts) > 0),
idx AS (
  SELECT doc_id, ts, unnest(generate_series(1, len(ts), 48)) AS gs
  FROM nonempty)
SELECT doc_id,
       cast((gs - 1) // 48 AS BIGINT) AS chunk_no,
       cast(len(list_slice(ts, gs, gs + 31)) AS BIGINT) AS n_toks,
       array_to_string(list_slice(ts, gs, gs + 31), ' ') AS chunk_text
FROM idx
ORDER BY doc_id, chunk_no
""")
def chunk_documents_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token chunking (operators/text_analysis.
    chunk_documents): 32-token windows every 48 tokens (a gap-free
    RAG example uses stride < chunk; stride > chunk here exercises
    the slice clamp on short tails). Zero-shuffle narrow map; the
    oracle replays the slicing arithmetic."""
    from parlerproject_spark.operators.text_analysis import chunk_documents
    return (chunk_documents(_t(spark, sf_dir, "documents"),
                            chunk_size=32, stride=48)
            .orderBy("doc_id", "chunk_no"))


@register("domain_mix_weights_docs", """
WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
t AS (SELECT cast(sum(n_docs) AS DOUBLE) AS n_total,
             sum(pow(n_docs, 0.3)) AS z FROM c)
SELECT lang, cast(n_docs AS BIGINT) AS n_docs,
       round(n_docs / n_total, 6) AS p,
       round(pow(n_docs, 0.3) / z, 6) AS w,
       round((pow(n_docs, 0.3) / z) / (n_docs / n_total), 6) AS boost
FROM c CROSS JOIN t
ORDER BY lang
""")
def domain_mix_weights_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture (operators/sampling.
    domain_mix_weights, alpha=0.3): the low-resource-language
    upsampling rule. One exchange on the domain key; normalizers
    broadcast as one-row scalars."""
    from parlerproject_spark.operators.sampling import domain_mix_weights
    d = _t(spark, sf_dir, "documents").select("lang")
    return (domain_mix_weights(d, domain_col="lang", alpha=0.3)
            .orderBy("lang"))


@register("token_budget_sample_docs", """
WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
t AS (SELECT sum(pow(n_docs, 0.3)) AS z FROM c),
wts AS (SELECT lang, round(pow(n_docs, 0.3) / z, 6) AS w
        FROM c CROSS JOIN t),
toks AS (
  SELECT doc_id, lang,
         cast(len(list_filter(string_split_regex(text, '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_toks,
         md5('budget-v1:' || doc_id::VARCHAR) AS k
  FROM documents),
cum AS (
  SELECT doc_id, lang, n_toks,
         sum(n_toks) OVER (PARTITION BY lang ORDER BY k) AS cum
  FROM toks)
SELECT doc_id, lang, n_toks
FROM cum JOIN wts USING (lang)
WHERE cum <= 20000 * w
ORDER BY doc_id
""")
def token_budget_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sampling to a token budget (operators/sampling
    .sample_to_token_budget): temperature-scaled domain weights
    (domain_mix_weights, alpha=0.3 over lang) materialized into an
    actual document sample — each domain filled to budget x w_d
    tokens in seeded md5 order (knapsack-prefix rule: the first doc
    crossing the line is dropped). Weights broadcast; the one
    shuffle is the per-domain cumsum window. Oracle rebuilds the
    weights, the hash order, and the running total in SQL."""
    from parlerproject_spark.operators.sampling import (
        domain_mix_weights, sample_to_token_budget)
    d = _t(spark, sf_dir, "documents")
    wts = domain_mix_weights(d.select("lang"), domain_col="lang",
                             alpha=0.3).select("lang", "w")
    return (sample_to_token_budget(d, wts, budget_tokens=20_000,
                                   domain_col="lang")
            .orderBy("doc_id"))


@register("url_dedup_normalized", """
WITH urls AS (
  SELECT doc_id,
         'https://' || lower(source) || '.example.com/Page' ||
         cast(doc_id % 50 AS VARCHAR) ||
         '?id=' || cast(doc_id % 7 AS VARCHAR) AS norm_url
  FROM documents)
SELECT norm_url,
       cast(count(*) AS BIGINT) AS n_docs,
       cast(min(doc_id) AS BIGINT) AS first_doc
FROM urls
GROUP BY norm_url
ORDER BY norm_url
""")
def url_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup-by-URL (functions/text.
    normalize_url): the crawl-frontier/corpus URL dedup pass. Messy
    URLs are injected per doc (uppercase scheme+host, tracking
    params utm_source/ref_src, fragment, trailing slash); the engine
    normalizes and groups, while the oracle INDEPENDENTLY constructs
    the expected canonical form — equality proves the whole
    normalization chain, not just that both sides ran the same code.
    Zero-shuffle normalize; one exchange for the group-by."""
    from parlerproject_spark.functions.text import normalize_url
    d = _t(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("HTTPS://"), F.upper("source"), F.lit(".Example.COM/Page"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("/?utm_source=tw&ref_src=x&id="),
        (F.col("doc_id") % 7).cast("string"), F.lit("#sec"))
    return (d.select("doc_id", normalize_url(messy).alias("norm_url"))
            .groupBy("norm_url")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.min("doc_id").cast("long").alias("first_doc"))
            .orderBy("norm_url"))


# ---------------------------------------------------------------------------
# CDC: snapshot diff + merge-latest upsert (operators/cdc)
# ---------------------------------------------------------------------------


@register("cdc_snapshot_diff_orders", """
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 5 <> 0),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 4 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 7 <> 0),
j AS (
  SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
         old.o_orderkey IS NOT NULL AS in_old,
         new.o_orderkey IS NOT NULL AS in_new,
         list_sort(list_filter([
           CASE WHEN NOT (old.o_orderstatus IS NOT DISTINCT FROM
                          new.o_orderstatus) THEN 'o_orderstatus' END,
           CASE WHEN NOT (old.o_totalprice IS NOT DISTINCT FROM
                          new.o_totalprice) THEN 'o_totalprice' END],
           x -> x IS NOT NULL)) AS diffs
  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey)
SELECT o_orderkey,
       CASE WHEN NOT in_old THEN 'added'
            WHEN NOT in_new THEN 'removed'
            WHEN len(diffs) > 0 THEN 'changed'
            ELSE 'unchanged' END AS change,
       CASE WHEN in_old AND in_new AND len(diffs) > 0
            THEN array_to_string(diffs, ',') ELSE '' END AS changed_cols
FROM j
ORDER BY o_orderkey
""")
def cdc_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/cdc.snapshot_diff): the corpus-refresh
    audit step — one full-outer join keyed on o_orderkey classifying
    every key as added / removed / changed / unchanged, with the sorted
    list of differing columns.  The fixture derives two snapshots from
    `orders`: old drops keys ≡0 (mod 5) (→ 'added' in new), new drops
    keys ≡0 (mod 7) (→ 'removed') and mutates o_totalprice on ≡0
    (mod 3) and o_orderstatus on ≡0 (mod 4), so changed_cols covers
    one-column, other-column, and both-columns cases.  Generalizes the
    reference's per-file resume diff (htmlConverter.py:52-54) to keyed
    row-level change tracking.  Plan: one exchange per side, nothing
    else."""
    from parlerproject_spark.operators.cdc import snapshot_diff
    o = _t(spark, sf_dir, "orders")
    old = (o.filter(F.col("o_orderkey") % 5 != 0)
           .select("o_orderkey", "o_orderstatus", "o_totalprice"))
    new = (o.filter(F.col("o_orderkey") % 7 != 0)
           .select(
               "o_orderkey",
               F.when(F.col("o_orderkey") % 4 == 0, F.lit("X"))
                .otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
               F.when(F.col("o_orderkey") % 3 == 0,
                      F.col("o_totalprice") + 10)
                .otherwise(F.col("o_totalprice")).alias("o_totalprice")))
    d = snapshot_diff(old, new, key_cols=["o_orderkey"],
                      compare_cols=["o_orderstatus", "o_totalprice"])
    return (d.select("o_orderkey", "change",
                     F.array_join("changed_cols", ",").alias("changed_cols"))
            .orderBy("o_orderkey"))


@register("cdc_merge_latest_events", """
WITH base AS (
  SELECT event_id, 1 AS version, value, ts
  FROM events WHERE event_id % 3 <> 0),
upd AS (
  SELECT event_id,
         CASE WHEN event_id % 4 = 0 THEN 2 ELSE 1 END AS version,
         value + 1 AS value, ts
  FROM events WHERE event_id % 2 = 0),
tagged AS (
  SELECT *, 0 AS src FROM base
  UNION ALL
  SELECT *, 1 AS src FROM upd),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_id
    ORDER BY version DESC, ts DESC, src DESC) AS rn
  FROM tagged)
SELECT event_id, cast(version AS BIGINT) AS version,
       round(value, 2) AS value
FROM ranked WHERE rn = 1
ORDER BY event_id
""")
def cdc_merge_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-latest upsert (operators/cdc.merge_latest): the batch
    analogue of Delta/Iceberg MERGE — union base + updates, keep one
    winner per key by (version desc, ts desc, updates-side-wins).
    The fixture: base = events keys ≢0 (mod 3) at version 1; updates =
    keys ≡0 (mod 2) with value+1, at version 2 on ≡0 (mod 4) else
    version 1.  Keys in both sides at EQUAL version and ts prove the
    updates-win tiebreak (winner carries value+1); version-2 updates
    prove the version order; base-only / update-only keys prove
    passthrough.  Plan: zero-shuffle union + one window over the key
    exchange — per-key sort is spill-backed, a hot key degrades to
    disk, never driver memory."""
    from parlerproject_spark.operators.cdc import merge_latest
    e = _t(spark, sf_dir, "events")
    base = (e.filter(F.col("event_id") % 3 != 0)
            .select("event_id", F.lit(1).alias("version"), "value", "ts"))
    upd = (e.filter(F.col("event_id") % 2 == 0)
           .select("event_id",
                   F.when(F.col("event_id") % 4 == 0, F.lit(2))
                    .otherwise(F.lit(1)).alias("version"),
                   (F.col("value") + 1).alias("value"), "ts"))
    m = merge_latest(base, upd, key_cols=["event_id"],
                     version_col="version", tiebreak_col="ts")
    return (m.select("event_id",
                     F.col("version").cast("long").alias("version"),
                     F.round("value", 2).alias("value"))
            .orderBy("event_id"))


# ---------------------------------------------------------------------------
# Incremental rollups + mergeable sketches (operators/rollup)
# ---------------------------------------------------------------------------


@register("incremental_rollup_events", """
WITH direct AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         event_type,
         cast(count(*) AS BIGINT) AS n_rows,
         round(sum(value), 4) AS sum_value,
         round(min(value), 4) AS min_value,
         round(max(value), 4) AS max_value,
         round(sum(value) / count(*), 4) AS avg_value
  FROM events GROUP BY 1, 2)
SELECT * FROM direct ORDER BY day, event_type
""")
def incremental_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized rollup (operators/rollup): the engine
    maintains per-(day, event_type) PARTIAL aggregates from two
    disjoint deltas (days <=20 as the standing base, the rest as the
    incoming refresh), merges the partials, and finalizes read-time
    measures — while the ORACLE recomputes directly from raw events.
    Hash equality proves the core mergeable-state contract: partial +
    merge == direct, the invariant every 100 TB pre-aggregation
    serving layer rests on.  Plan: one exchange per delta + one merge
    exchange over partial rows only."""
    from parlerproject_spark.operators.rollup import (finalize_rollup,
                                                      merge_rollups,
                                                      partial_rollup)
    e = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    base = e.filter(F.dayofmonth("ts") <= 20)
    delta = e.filter(F.dayofmonth("ts") > 20)
    parts = [partial_rollup(d, bucket=day, key_cols=["event_type"],
                            value_col="value", bucket_alias="bucket")
             for d in (base, delta)]
    served = finalize_rollup(merge_rollups(*parts))
    return (served.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round("sum_value", 4).alias("sum_value"),
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
        F.round("avg_value", 4).alias("avg_value"))
        .orderBy("day", "event_type"))


@register("rollup_serve_monthly", """
SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
       event_type,
       cast(count(*) AS BIGINT) AS n_rows,
       round(sum(value), 4) AS sum_value,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value
FROM events GROUP BY 1, 2
ORDER BY month, event_type
""")
def rollup_serve_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving a coarser grain FROM the partial table
    (operators/rollup.coarsen_rollup): month totals re-aggregated
    from day partials — raw events are scanned once to build the day
    grain, never for the month read.  The oracle recomputes months
    directly from raw; hash equality proves coarsening partials
    loses nothing."""
    from parlerproject_spark.operators.rollup import (coarsen_rollup,
                                                      partial_rollup)
    e = _t(spark, sf_dir, "events")
    daily = partial_rollup(e, bucket=F.date_trunc("day", F.col("ts")),
                           key_cols=["event_type"], value_col="value",
                           bucket_alias="day")
    monthly = coarsen_rollup(daily,
                             bucket=F.date_trunc("month", F.col("day")),
                             key_cols=["event_type"],
                             bucket_alias="month")
    return (monthly.select(
        F.date_format("month", "yyyy-MM").alias("month"),
        "event_type",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round("sum_value", 4).alias("sum_value"),
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"))
        .orderBy("month", "event_type"))


@register("distinct_users_hll_rollup", None)  # sketch estimate: merge
# contract + 5% accuracy proven in tests/test_rollup.py
def distinct_users_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct counts: daily HLL sketches of user_id per
    event_type, merged across days with set semantics (a user active
    every day counts once — summing per-day distincts would count
    them 30×).  The partial table is ~1.6 kB per row; the merge
    never rescans events.  DuckDB's HLL differs from DataSketches,
    so no hash oracle; the pytest contract instead proves
    merged-across-buckets == direct-over-all exactly, and both
    within 5% of the exact distinct count."""
    from parlerproject_spark.operators.rollup import (
        distinct_sketch_rollup, merge_distinct_sketches)
    e = _t(spark, sf_dir, "events")
    daily = distinct_sketch_rollup(e, bucket=F.date_trunc("day", F.col("ts")),
                                   key_cols=["event_type"],
                                   id_col="user_id")
    return (merge_distinct_sketches(daily, key_cols=["event_type"])
            .select("event_type",
                    F.col("approx_distinct").cast("long")
                    .alias("approx_distinct"))
            .orderBy("event_type"))


@register("audience_overlap_theta", None)  # set-algebra estimates:
# accuracy vs exact proven in tests/test_rollup.py
def audience_overlap_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap from theta sketches: |view ∩ purchase| and
    |view ∪ purchase| user estimates computed from two per-segment
    sketches — set algebra HLL cannot do, the reason theta earns its
    extra bytes.  The raw table is read once to build the sketches;
    the overlap math touches two single-row sketch states."""
    from parlerproject_spark.operators.rollup import (theta_overlap,
                                                      theta_segment_sketches)
    e = _t(spark, sf_dir, "events")
    sk = theta_segment_sketches(e, segment_col="event_type",
                                id_col="user_id")
    out = theta_overlap(sk, segment_col="event_type",
                        seg_a="view", seg_b="purchase")
    return out.select(*[F.round(c, 1).alias(c) for c in
                        ("n_a", "n_b", "n_both", "n_either")])


@register("value_quantiles_kll", None)  # merged-quantile accuracy
# proven in tests/test_rollup.py against exact percentiles
def value_quantiles_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantiles: daily KLL sketches of value per
    event_type merged into monthly p50/p95/p99 — exact percentiles
    do not merge across partials (the whole sorted column would have
    to move); the KLL state does, with rank-error guarantees."""
    from parlerproject_spark.operators.rollup import (
        merge_quantile_sketches, quantile_sketch_rollup)
    e = _t(spark, sf_dir, "events")
    daily = quantile_sketch_rollup(e, bucket=F.date_trunc("day", F.col("ts")),
                                   key_cols=["event_type"],
                                   value_col="value")
    out = merge_quantile_sketches(daily, key_cols=["event_type"])
    return (out.select("event_type",
                       *[F.round(c, 4).alias(c)
                         for c in ("q_50", "q_95", "q_99")])
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Z-order layout (operators/layout.zorder_key)
# ---------------------------------------------------------------------------

_ZORDER_TERMS = " + ".join(
    f"(((u >> {b}) & 1) << {2 * b + 1}) + (((v >> {b}) & 1) << {2 * b})"
    for b in range(16))

@register("zorder_events_stats", f"""
WITH q AS (
  SELECT least(greatest(cast(floor(user_id / 150.0 * 65535) AS BIGINT),
               0), 65535) AS u,
         least(greatest(cast(floor(floor(value * 100) / 50000.0 * 65535)
               AS BIGINT), 0), 65535) AS v
  FROM events),
z AS (
  SELECT u, v, {_ZORDER_TERMS} AS zkey FROM q)
SELECT cast(zkey >> 22 AS BIGINT) AS file_id,
       cast(count(*) AS BIGINT) AS n_rows,
       cast(min(u) AS BIGINT) AS u_min, cast(max(u) AS BIGINT) AS u_max,
       cast(min(v) AS BIGINT) AS v_min, cast(max(v) AS BIGINT) AS v_max
FROM z GROUP BY 1 ORDER BY file_id
""")
def zorder_events_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout stats (operators/layout.zorder_key): scale
    user_id and the centi-quantized value onto the full 16-bit range
    (scale_to_bits — an unscaled short-range column would zero its
    high interleave rounds and collapse the curve into a one-column
    sort), interleave into a Morton key, carve the 32-bit z-space
    into 1024 fixed slabs (zkey >> 22 — the deterministic stand-in
    for range-partition file boundaries), and emit each slab's
    per-column bounding box.  Hash equality pins the bit algebra
    exactly (the oracle rebuilds all 32 interleave terms); the
    data-skipping property those boxes buy is proven in
    tests/test_layout_skew.py::test_zorder_tightens_bounding_boxes.
    Plan: one narrow map + one aggregation exchange."""
    from parlerproject_spark.operators.layout import (scale_to_bits,
                                                      zorder_key)
    e = _t(spark, sf_dir, "events")
    q = e.select(
        scale_to_bits("user_id", lo=0, hi=150).alias("u"),
        scale_to_bits(F.floor(F.col("value") * 100).cast("bigint"),
                      lo=0, hi=50000).alias("v"))
    z = q.withColumn("zkey", zorder_key([F.col("u"), F.col("v")], bits=16))
    return (z.groupBy(F.shiftright("zkey", 22).cast("bigint")
                      .alias("file_id"))
            .agg(F.count("*").cast("long").alias("n_rows"),
                 F.min("u").cast("long").alias("u_min"),
                 F.max("u").cast("long").alias("u_max"),
                 F.min("v").cast("long").alias("v_min"),
                 F.max("v").cast("long").alias("v_max"))
            .orderBy("file_id"))


@register("exact_substring_spans", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS ts
  FROM documents),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(ts[i:i+7], ' ')) AS g
  FROM toks, unnest(range(1, len(ts) - 6)) AS t(i)
  WHERE len(ts) >= 8),
dupg AS (
  SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
dup AS (
  SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dupg)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL THEN 1
              WHEN pos > lag(pos) OVER w + 8 THEN 1 ELSE 0 END AS ni
  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
islands AS (
  SELECT doc_id, pos,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged)
SELECT doc_id,
       cast(min(pos) AS BIGINT) AS start_tok,
       cast(max(pos) + 7 AS BIGINT) AS end_tok,
       cast(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS n_tokens
FROM islands GROUP BY doc_id, island
ORDER BY doc_id, start_tok
""")
def exact_substring_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (dedup.exact_substring_spans):
    every maximal token run of length >= 8 that occurs at least twice
    corpus-wide — the Lee-et-al exact-substring dedup pass as three
    keyed stages (rolling k-gram, global gram count, per-doc island
    merge) instead of a global suffix array.  The oracle rebuilds the
    identical md5 gram stream and replays the island algebra in
    window SQL."""
    d = _t(spark, sf_dir, "documents")
    out = dedup.exact_substring_spans(d, k=8, min_count=2)
    return (out.select("doc_id",
                       F.col("start_tok").cast("long").alias("start_tok"),
                       F.col("end_tok").cast("long").alias("end_tok"),
                       F.col("n_tokens").cast("long").alias("n_tokens"))
            .orderBy("doc_id", "start_tok"))


# ---------------------------------------------------------------------------
# Round-4b: retrieval, training-data selection, graph rank
# ---------------------------------------------------------------------------

@register("bm25_ranked_docs", """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents),
lens AS (SELECT doc_id, len(ts) AS dl FROM toks),
stats AS (SELECT cast(count(*) AS DOUBLE) AS n_docs,
                 avg(dl) AS avgdl FROM lens),
post AS (
  SELECT doc_id, w AS term, cast(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(ts) AS w FROM toks)
  WHERE w IN ('spark', 'join', 'query')
  GROUP BY doc_id, w),
wdf AS (SELECT term, cast(count(*) AS DOUBLE) AS df FROM post GROUP BY term),
scored AS (
  SELECT p.doc_id,
         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * 2.2)
           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
  FROM post p
  JOIN wdf USING (term)
  JOIN lens USING (doc_id)
  CROSS JOIN stats),
agg AS (SELECT doc_id, round(sum(s), 6) AS score FROM scored GROUP BY doc_id)
SELECT doc_id, score,
       cast(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
           AS rank
FROM agg
ORDER BY score DESC, doc_id ASC
LIMIT 20
""")
def bm25_ranked_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval (operators/retrieval.bm25_scores):
    top-20 documents for the query {spark, join, query} — the
    inverted-index search pass the reference's c-TF-IDF vocabulary
    stops short of. The oracle rebuilds the same index and scoring
    in SQL and must hash-match rank-for-rank."""
    from parlerproject_spark.operators.retrieval import bm25_scores
    return bm25_scores(_t(spark, sf_dir, "documents"),
                       ["spark", "join", "query"], top_k=20)


@register("rrf_hybrid_docs", """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents),
lens AS (SELECT doc_id, len(ts) AS dl FROM toks),
stats AS (SELECT cast(count(*) AS DOUBLE) AS n_docs,
                 avg(dl) AS avgdl FROM lens),
post AS (
  SELECT doc_id, w AS term, cast(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(ts) AS w FROM toks)
  WHERE w IN ('spark', 'join', 'query')
  GROUP BY doc_id, w),
wdf AS (SELECT term, cast(count(*) AS DOUBLE) AS df FROM post GROUP BY term),
scored AS (
  SELECT p.doc_id,
         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * 2.2)
           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
  FROM post p
  JOIN wdf USING (term)
  JOIN lens USING (doc_id)
  CROSS JOIN stats),
lex AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id,
           cast(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                AS BIGINT) AS rank
    FROM (SELECT doc_id, round(sum(s), 6) AS score
          FROM scored GROUP BY doc_id))
  WHERE rank <= 50),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
dp AS (
  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x,
         unnest(q.qv)::DOUBLE AS y
  FROM embeddings e, q),
sims AS (
  SELECT vec_id,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS sim
  FROM dp GROUP BY vec_id),
dense AS (
  SELECT doc_id, rank FROM (
    SELECT vec_id AS doc_id,
           cast(row_number() OVER (ORDER BY sim DESC, vec_id ASC)
                AS BIGINT) AS rank
    FROM sims)
  WHERE rank <= 50),
allr AS (SELECT doc_id, rank FROM lex
         UNION ALL SELECT doc_id, rank FROM dense),
fused AS (
  SELECT doc_id, count(*)::BIGINT AS n_systems,
         round(sum(1.0 / (60 + rank)), 6) AS rrf_score
  FROM allr GROUP BY doc_id)
SELECT doc_id, n_systems, rrf_score,
       cast(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC)
            AS BIGINT) AS rank
FROM (SELECT * FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT 20)
ORDER BY rank
""")
def rrf_hybrid_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval fused by reciprocal-rank
    fusion (retrieval.rrf_fuse — Cormack et al. 2009, the production
    hybrid-search default): BM25 top-50 for {spark, join, query}
    and exact-cosine top-50 against query vector 0 fuse as
    Σ 1/(60+rank), top-20 kept. Rank-based fusion needs no score
    calibration across systems; both input lists are top-k-bounded
    so fusion is one keyed agg over systems × 50 rows. The oracle
    replays BM25, the dense top-k, and the fusion in one chain."""
    from parlerproject_spark.operators.retrieval import bm25_scores, rrf_fuse
    from parlerproject_spark.operators.similarity import knn_bruteforce
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = (bm25_scores(docs, ["spark", "join", "query"], top_k=50)
           .select("doc_id", "rank", F.lit("bm25").alias("system")))
    dw = Window.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    dense = (knn_bruteforce(emb, _query_vec(spark, sf_dir), k=50)
             .select(F.col("vec_id").alias("doc_id"),
                     F.row_number().over(dw).cast("long").alias("rank"),
                     F.lit("dense").alias("system")))
    return (rrf_fuse(lex.unionByName(dense), k=60, top_k=20)
            .orderBy("rank"))


@register("pmi_collocations_docs", """
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents),
uni AS (
  SELECT w, cast(count(*) AS DOUBLE) AS c
  FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w),
idx AS (
  SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS gs
  FROM toks WHERE len(ts) >= 2),
big AS (SELECT ts[gs] AS w1, ts[gs + 1] AS w2 FROM idx),
tot AS (
  SELECT (SELECT sum(c) FROM uni) AS n_uni,
         (SELECT cast(count(*) AS DOUBLE) FROM big) AS n_big),
pairs AS (
  SELECT w1, w2, cast(count(*) AS DOUBLE) AS c12
  FROM big GROUP BY w1, w2 HAVING count(*) >= 5),
scored AS (
  SELECT w1, w2, cast(c12 AS BIGINT) AS n_pair,
         round(ln((c12 / n_big)
                  / ((u1.c / n_uni) * (u2.c / n_uni))), 6) AS pmi
  FROM pairs
  JOIN uni u1 ON pairs.w1 = u1.w
  JOIN uni u2 ON pairs.w2 = u2.w
  CROSS JOIN tot)
SELECT w1, w2, n_pair, pmi,
       cast(row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS BIGINT)
           AS rank
FROM scored
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT 50
""")
def pmi_collocations_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI bigram collocations (operators/retrieval.pmi_collocations):
    top-50 token pairs by pointwise mutual information with
    min_count=5 — the phrase-mining pass that seeds multi-word
    vocabulary for tokenizer training. Oracle retrains the same
    counts in SQL."""
    from parlerproject_spark.operators.retrieval import pmi_collocations
    return pmi_collocations(_t(spark, sf_dir, "documents"),
                            min_count=5, top_k=50)


@register("dsir_weights_docs", """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents),
idx AS (
  SELECT doc_id, source, ts,
         unnest(generate_series(1, len(ts) - 1)) AS gs
  FROM toks WHERE len(ts) >= 2),
feats AS (
  SELECT doc_id, source,
         substr(md5(ts[gs] || ' ' || ts[gs + 1]), 1, 3) AS feat
  FROM idx),
tm AS (SELECT feat, cast(count(*) AS DOUBLE) AS ct FROM feats
       WHERE source IN ('src0', 'src1') GROUP BY feat),
rm AS (SELECT feat, cast(count(*) AS DOUBLE) AS cr FROM feats GROUP BY feat),
tot AS (
  SELECT (SELECT sum(ct) FROM tm) AS tt,
         (SELECT sum(cr) FROM rm) AS tr)
SELECT doc_id, cast(count(*) AS BIGINT) AS n_feats,
       round(sum(ln((coalesce(ct, 0) + 1.0) / (tt + 4096.0))
                 - ln((coalesce(cr, 0) + 1.0) / (tr + 4096.0))), 6)
           AS log_weight
FROM feats
LEFT JOIN tm USING (feat)
LEFT JOIN rm USING (feat)
CROSS JOIN tot
GROUP BY doc_id
ORDER BY doc_id
""")
def dsir_weights_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/selection.dsir_weights):
    per-document log importance weight toward the src0/src1 target
    slice under hashed-bigram unigram models — the data-selection
    resampling signal (Xie et al. 2023). Oracle rebuilds the
    identical md5 feature stream and both models in SQL."""
    from parlerproject_spark.operators.selection import dsir_weights
    d = _t(spark, sf_dir, "documents")
    return (dsir_weights(d, d.filter(F.col("source").isin("src0", "src1")))
            .orderBy("doc_id"))


@register("perplexity_buckets_docs", """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents),
uni AS (
  SELECT w, count(*) AS c1
  FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w),
v AS (SELECT cast(count(*) AS DOUBLE) AS vsz FROM uni),
idx AS (
  SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS gs
  FROM toks),
big AS (
  SELECT doc_id, ts[gs] AS w1, ts[gs + 1] AS w2 FROM idx),
bgc AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
scored AS (
  SELECT doc_id, round(avg(ln((c2 + 1.0) / (c1 + vsz))), 6) AS lm_logp
  FROM big
  JOIN bgc USING (w1, w2)
  JOIN uni ON big.w1 = uni.w
  CROSS JOIN v
  GROUP BY doc_id),
qe AS (SELECT quantile_cont(lm_logp, 1.0 / 3) AS q1,
              quantile_cont(lm_logp, 2.0 / 3) AS q2 FROM scored)
SELECT doc_id, lm_logp,
       cast(CASE WHEN lm_logp >= q2 THEN 1
                 WHEN lm_logp >= q1 THEN 2 ELSE 3 END AS BIGINT) AS bucket,
       CASE WHEN lm_logp >= q2 THEN 'head'
            WHEN lm_logp >= q1 THEN 'middle' ELSE 'tail' END AS band
FROM scored CROSS JOIN qe
ORDER BY doc_id
""")
def perplexity_buckets_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity split
    (operators/selection.perplexity_buckets): band documents by the
    corpus-trained bigram-LM score against exact tercile edges — no
    global window, one percentile aggregate broadcast back. Oracle
    retrains the LM and replays the same quantile cuts."""
    from parlerproject_spark.operators.selection import perplexity_buckets
    return (perplexity_buckets(_t(spark, sf_dir, "documents"))
            .orderBy("doc_id"))


@register("nb_quality_scores_docs", """
WITH lab AS (
  SELECT doc_id, text,
         CASE WHEN source IN ('src0', 'src1', 'src2') THEN 1 ELSE 0 END AS y
  FROM documents),
toks AS (
  SELECT doc_id, y, unnest(list_filter(
      string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS w
  FROM lab),
cls AS (SELECT y, cast(count(*) AS DOUBLE) AS t FROM toks GROUP BY y),
vocab AS (SELECT cast(count(DISTINCT w) AS DOUBLE) AS v FROM toks),
cw AS (SELECT y, w, cast(count(*) AS DOUBLE) AS c FROM toks GROUP BY y, w),
base AS (
  SELECT d.w,
         ln((coalesce(c1, 0) + 1.0) / (t1 + v))
           - ln((coalesce(c0, 0) + 1.0) / (t0 + v)) AS llr
  FROM (SELECT DISTINCT w FROM toks) d
  LEFT JOIN (SELECT w, c AS c1 FROM cw WHERE y = 1) a USING (w)
  LEFT JOIN (SELECT w, c AS c0 FROM cw WHERE y = 0) b USING (w)
  CROSS JOIN (SELECT t AS t1 FROM cls WHERE y = 1) p1
  CROSS JOIN (SELECT t AS t0 FROM cls WHERE y = 0) p0
  CROSS JOIN vocab),
pri AS (
  SELECT ln(sum(CASE WHEN y = 1 THEN 1.0 END))
           - ln(sum(CASE WHEN y = 0 THEN 1.0 END)) AS prior_lo
  FROM lab)
SELECT doc_id, cast(count(*) AS BIGINT) AS n_toks,
       round(sum(llr) + any_value(prior_lo), 6) AS log_odds,
       cast(CASE WHEN round(sum(llr) + any_value(prior_lo), 6) > 0
                 THEN 1 ELSE 0 END AS BIGINT) AS pred
FROM toks
JOIN base USING (w)
CROSS JOIN pri
GROUP BY doc_id
ORDER BY doc_id
""")
def nb_quality_scores_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine Naive-Bayes quality classifier
    (operators/selection.nb_quality_classifier): train on the
    src0-2 slice as positives, score every document with the
    log-odds — the scalable WebText-classifier analogue. Oracle
    retrains the identical model in SQL."""
    from parlerproject_spark.operators.selection import nb_quality_classifier
    d = (_t(spark, sf_dir, "documents")
         .withColumn("label",
                     F.col("source").isin("src0", "src1", "src2")
                     .cast("int")))
    return nb_quality_classifier(d).orderBy("doc_id")


@register("cointeraction_edges_events", """
WITH keyed AS (
  SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS obj,
         ts, event_id, user_id AS dst
  FROM events
  WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        IS NOT NULL)
SELECT DISTINCT src, dst
FROM (SELECT lag(dst) OVER (PARTITION BY obj ORDER BY ts, event_id) AS src,
             dst
      FROM keyed)
WHERE src IS NOT NULL AND src <> dst
ORDER BY src, dst
""")
def cointeraction_edges_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-interaction edge derivation (operators/graph
    .cointeraction_edges): directed user→user handoff edges per
    props.k object, ordered by (ts, event_id). One windowed pass +
    distinct; the oracle replays the same window in SQL."""
    from parlerproject_spark.operators.graph import cointeraction_edges
    return (cointeraction_edges(_t(spark, sf_dir, "events"))
            .orderBy("src", "dst"))


@register("cointeraction_pagerank", """
WITH keyed AS (
  SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS obj,
         ts, event_id, user_id AS dst
  FROM events
  WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        IS NOT NULL),
edges AS (
  SELECT DISTINCT src, dst
  FROM (SELECT lag(dst) OVER (PARTITION BY obj ORDER BY ts, event_id) AS src,
               dst
        FROM keyed)
  WHERE src IS NOT NULL AND src <> dst),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
n AS (SELECT cast(count(*) AS DOUBLE) AS nn FROM nodes),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / nn AS rank FROM nodes CROSS JOIN n),
s1 AS (SELECT e.dst AS node, sum(r.rank / o.deg) AS s
       FROM r0 r JOIN outdeg o ON r.node = o.src
       JOIN edges e ON e.src = r.node GROUP BY e.dst),
r1 AS (SELECT nodes.node, 0.15 / nn + 0.85 * coalesce(s, 0) AS rank
       FROM nodes CROSS JOIN n LEFT JOIN s1 ON s1.node = nodes.node),
s2 AS (SELECT e.dst AS node, sum(r.rank / o.deg) AS s
       FROM r1 r JOIN outdeg o ON r.node = o.src
       JOIN edges e ON e.src = r.node GROUP BY e.dst),
r2 AS (SELECT nodes.node, 0.15 / nn + 0.85 * coalesce(s, 0) AS rank
       FROM nodes CROSS JOIN n LEFT JOIN s2 ON s2.node = nodes.node),
s3 AS (SELECT e.dst AS node, sum(r.rank / o.deg) AS s
       FROM r2 r JOIN outdeg o ON r.node = o.src
       JOIN edges e ON e.src = r.node GROUP BY e.dst),
r3 AS (SELECT nodes.node, 0.15 / nn + 0.85 * coalesce(s, 0) AS rank
       FROM nodes CROSS JOIN n LEFT JOIN s3 ON s3.node = nodes.node)
SELECT node, round(rank, 6) AS rank FROM r3 ORDER BY node
""")
def cointeraction_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (operators/graph.pagerank) over the
    co-interaction graph: 3 power-iteration rounds, d=0.85,
    simplified dangling handling — the crawl-seed centrality signal.
    The oracle unrolls the identical three iterations in CTE SQL."""
    from parlerproject_spark.operators.graph import (cointeraction_edges,
                                                     pagerank)
    e = cointeraction_edges(_t(spark, sf_dir, "events"))
    return pagerank(e, iters=3, damping=0.85).orderBy("node")


@register("cms_user_freq_estimates", """
WITH rows AS (SELECT unnest([0, 1, 2, 3]) AS row),
cms AS (
  SELECT row,
         ('0x' || substr(md5(row::VARCHAR || ':' || user_id::VARCHAR),
                         1, 8))::BIGINT % 1024 AS idx,
         count(*) AS c
  FROM events CROSS JOIN rows
  GROUP BY 1, 2),
probes AS (SELECT DISTINCT user_id FROM events),
hits AS (
  SELECT p.user_id, r.row,
         ('0x' || substr(md5(r.row::VARCHAR || ':' || p.user_id::VARCHAR),
                         1, 8))::BIGINT % 1024 AS idx
  FROM probes p CROSS JOIN rows r)
SELECT user_id,
       cast(min(coalesce(c, 0)) AS BIGINT) AS est
FROM hits
LEFT JOIN cms USING (row, idx)
GROUP BY user_id
ORDER BY user_id
""")
def cms_user_freq_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency rollup (operators/rollup.cms_rollup /
    merge_cms / cms_estimate): per-day CMS partials of the user-id
    stream merged across days, then point-frequency estimates for
    every distinct user — the mergeable heavy-hitter state (4096
    rows regardless of stream size). The oracle rebuilds the same
    md5 sketch in SQL; merging per-day partials must equal the
    global sketch exactly (counts are linear)."""
    from parlerproject_spark.operators.rollup import (cms_estimate,
                                                      cms_rollup, merge_cms)
    ev = _t(spark, sf_dir, "events")
    cms = merge_cms(cms_rollup(
        ev, bucket=F.date_trunc("day", F.col("ts")), key_col="user_id"))
    return (cms_estimate(cms, ev.select("user_id").distinct(),
                         key_col="user_id")
            .orderBy("user_id"))


@register("bloom_incremental_dedup_docs", """
SELECT doc_id, source
FROM documents
WHERE doc_id % 3 = 0
  AND doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 2 = 0)
ORDER BY doc_id
""")
def bloom_incremental_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental dedup (operators/rollup
    .bloom_incremental_dedup): new-batch keys (doc_id % 3) against a
    seen history (doc_id % 2) — the bit table prunes the anti-join
    to maybe-members only, and the output is EXACTLY the plain
    anti-join (false positives go through the exact check), which is
    what the oracle replays."""
    from parlerproject_spark.operators.rollup import bloom_incremental_dedup
    d = _t(spark, sf_dir, "documents")
    seen = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 3 == 0)
    return (bloom_incremental_dedup(batch, seen, key_col="doc_id")
            .select("doc_id", "source").orderBy("doc_id"))


def _semdedup_oracle(k: int = 8, iters: int = 3, round_c: int = 6,
                     threshold: float = 0.9) -> str:
    """SemDeDup oracle: full-table rounded Lloyd (shared block),
    expression argmax assignment, within-cell cosine pairs, true
    transitive-closure components, keep = component minimum."""
    head = f"""
WITH RECURSIVE ex AS MATERIALIZED (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings),
sx AS (SELECT vec_id, pos, x FROM ex),
c0 AS (
  SELECT r.t, e.pos, e.x AS c
  FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS t
        FROM embeddings) r
  JOIN ex e USING (vec_id)
  WHERE r.t < {k})"""
    body = _lloyd_iters_sql(iters, round_c)
    tail = f""",
uf AS (
  SELECT t, pos, CASE WHEN nrm > 0 THEN c / nrm ELSE c END AS cu
  FROM (SELECT t, pos, c,
               sqrt(sum(c * c) OVER (PARTITION BY t)) AS nrm
        FROM c{iters})),
asg AS MATERIALIZED (
  SELECT vec_id, t FROM (
    SELECT e.vec_id, u.t,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY sum(e.x * u.cu) DESC, u.t ASC) AS rn
    FROM ex e JOIN uf u USING (pos)
    GROUP BY e.vec_id, u.t) WHERE rn = 1),
cnd AS (
  SELECT l.vec_id AS ia, r.vec_id AS ib
  FROM asg l JOIN asg r ON l.t = r.t AND l.vec_id < r.vec_id),
pp AS (
  SELECT c.ia, c.ib,
         unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
  FROM cnd c
  JOIN embeddings a ON a.vec_id = c.ia
  JOIN embeddings b ON b.vec_id = c.ib),
prs AS MATERIALIZED (
  SELECT ia, ib FROM (
    SELECT ia, ib, sum(x * y) AS dt,
           sqrt(sum(x * x)) AS na, sqrt(sum(y * y)) AS nb
    FROM pp GROUP BY ia, ib)
  WHERE na > 0 AND nb > 0 AND dt / (na * nb) >= {threshold}),
edges AS (
  SELECT ia AS s, ib AS d FROM prs
  UNION
  SELECT ib AS s, ia AS d FROM prs),
nodes AS (SELECT DISTINCT s AS v FROM edges),
reach(v, r) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.v),
comp AS (SELECT v, min(r) AS lbl FROM reach GROUP BY v)
SELECT a.vec_id, cast(a.t AS BIGINT) AS cluster,
       (c.v IS NULL OR c.lbl = a.vec_id) AS keep
FROM asg a LEFT JOIN comp c ON c.v = a.vec_id
ORDER BY a.vec_id"""
    return head + body + tail


@register("semantic_dedup_embeddings", _semdedup_oracle())
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/dedup.semantic_dedup): k-means-confined
    cosine dedup over the embeddings table, hash-verified end-to-end
    via the rounded-centroid contract — the oracle replays the full
    Lloyd fit, the cell-confined pair generation, and the
    transitive-closure components (pytest additionally pins
    equivalence to brute-force CC at k=1)."""
    from parlerproject_spark.operators.dedup import semantic_dedup
    return (semantic_dedup(_t(spark, sf_dir, "embeddings"),
                           threshold=0.9, k=8, round_c=6)
            .orderBy("vec_id"))


def _bpe_oracle(n_merges: int = 20) -> str:
    """Unrolled oracle for bpe_merges_docs (VERDICT r8 item 3):
    replays the SEQUENTIAL one-merge-per-round BPE trainer — which
    train_bpe's batched selection provably equals (see its
    docstring's disjoint-prefix argument; the pure-Python parity
    pytest pins the same sequence) — as n_merges CTE blocks.

    Symbol arrays ride as delimiter-WRAPPED strings
    (chr(31)||sym||chr(31) per symbol): SQL replace() substitutes
    non-overlapping matches LEFT-TO-RIGHT, which is exactly the
    greedy fold _apply_merges_arrow implements, and the wrapping makes the
    (a,b) adjacency pattern match whole symbols only. Each round:
    adjacent-pair counts from the split string, argmax with the
    (cnt desc, a asc, b asc) tie-break, one literal replace. A round
    whose best count < 2 selects nothing and every later round
    no-ops — same stop rule as the trainer."""
    ranks = "\nUNION ALL\n".join(
        f'SELECT {it}::BIGINT AS rank, a AS "left", b AS "right" FROM m{it}'
        for it in range(1, n_merges + 1))
    return _bpe_rounds_sql(n_merges) + f"""
SELECT rank, "left", "right" FROM ({ranks}) ORDER BY rank"""


def _bpe_rounds_sql(n_merges: int) -> str:
    """Shared CTE prefix for the BPE oracles: the tokenize+count
    vocab pass, the initial wrapped-symbol strings, and n_merges
    (pair-count → argmax → greedy replace) rounds, ending at
    t{n_merges} (word, n, s)."""
    g = "chr(31)"
    gg = f"{g} || {g}"
    head = f"""
WITH wf AS MATERIALIZED (
  SELECT word, count(*)::BIGINT AS n FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
    FROM documents)
  WHERE word <> '' GROUP BY word),
t0 AS MATERIALIZED (
  SELECT word, n,
         {g} || array_to_string(string_split(word, ''), {gg})
         || {gg} || '</w>' || {g} AS s
  FROM wf)"""
    body = ""
    for it in range(1, n_merges + 1):
        body += f""",
m{it} AS (
  SELECT ls[i] AS a, ls[i + 1] AS b
  FROM (SELECT n, ls, unnest(range(1, len(ls))) AS i
        FROM (SELECT n, string_split(trim(s, {g}), {gg}) AS ls
              FROM t{it - 1}))
  GROUP BY a, b HAVING sum(n) >= 2
  ORDER BY sum(n) DESC, a ASC, b ASC LIMIT 1),
t{it} AS MATERIALIZED (
  SELECT t.word, t.n,
         CASE WHEN m.a IS NULL THEN t.s
              ELSE replace(t.s, {g} || m.a || {gg} || m.b || {g},
                           {g} || m.a || m.b || {g}) END AS s
  FROM t{it - 1} t LEFT JOIN m{it} m ON TRUE)"""
    return head + body


def _bpe_segment_oracle(n_merges: int = 12) -> str:
    """Oracle for bpe_segment_docs: replay n_merges training rounds
    (the final symbol table IS the segmentation of every vocab
    word), count each word's non-empty EOW-stripped pieces, and sum
    per document over its token stream — apply_bpe's vocab-join
    shape mirrored exactly."""
    g = "chr(31)"
    gg = f"{g} || {g}"
    return _bpe_rounds_sql(n_merges) + f""",
pc AS MATERIALIZED (
  SELECT word,
         len(list_filter(string_split(trim(s, {g}), {gg}),
                         x -> replace(x, '</w>', '') <> ''))::BIGINT AS np
  FROM t{n_merges}),
dt AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            w -> w <> '')) AS word
  FROM documents),
counts AS (
  SELECT dt.doc_id, count(*)::BIGINT AS n_words,
         sum(pc.np)::BIGINT AS n_pieces
  FROM dt JOIN pc USING (word) GROUP BY dt.doc_id)
SELECT d.doc_id, coalesce(c.n_words, 0) AS n_words,
       coalesce(c.n_pieces, 0) AS n_pieces
FROM documents d LEFT JOIN counts c USING (doc_id)
ORDER BY d.doc_id"""


@register("bpe_merges_docs", _bpe_oracle())
def bpe_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (operators/tokenizer.train_bpe): the
    ordered merge list learned from the documents corpus. Hash-
    oracled since r9: _bpe_oracle unrolls the equivalent sequential
    trainer (greedy replace over delimiter-wrapped symbol strings)
    as 20 CTE rounds; pytest additionally proves merge-sequence
    equality with a pure-Python reference BPE."""
    from parlerproject_spark.operators.tokenizer import train_bpe
    merges = train_bpe(_t(spark, sf_dir, "documents"), n_merges=20)
    rows = [(i + 1, a, b) for i, (a, b) in enumerate(merges)]
    return literal_frame(spark, rows or [(0, "", "")],
                         "rank long, left string, right string")


@register("bpe_segment_docs", _bpe_segment_oracle())
def bpe_segment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encoding (operators/tokenizer.apply_bpe): segment every
    document with 12 learned merges — the encoder's fold runs once
    per DISTINCT word (vocab-join shape). Hash-oracled since r9:
    the oracle replays 12 training rounds (the final symbol table
    IS every vocab word's segmentation) and sums per-doc piece
    counts through the same vocab join."""
    from parlerproject_spark.operators.tokenizer import (apply_bpe,
                                                         train_bpe)
    d = _t(spark, sf_dir, "documents")
    merges = train_bpe(d, n_merges=12)
    return (apply_bpe(d, merges)
            .select("doc_id", F.col("n_words").cast("long").alias("n_words"),
                    "n_pieces")
            .orderBy("doc_id"))


def _doremi_oracle(eta: float = 1.0, n_rounds: int = 3,
                   smoothing: float = 0.1) -> str:
    """Unrolled oracle for doremi_weights_by_source: per-source
    proxy loss and the global reference from the same length
    transform, then n_rounds (exp-update → normalize → smooth →
    round-6) CTE blocks — the bradley_terry/logreg unroll pattern
    (exp() has hash-matched cross-engine since the r6 logreg GD
    oracle)."""
    head = f"""
WITH per AS (
  SELECT source, round(avg(ln(1 + length(text))), 6) AS loss
  FROM documents GROUP BY source),
ref AS (SELECT round(ln(1 + avg(length(text))), 6) AS ref_loss
        FROM documents),
base AS (
  SELECT source, greatest(loss - ref_loss, 0.0) AS e FROM per, ref),
k AS (SELECT count(*)::DOUBLE AS k FROM base),
r0 AS (SELECT source, e, 1.0 / k.k AS w FROM base, k)"""
    body = ""
    for t in range(1, n_rounds + 1):
        body += f""",
p{t} AS (SELECT source, e, w * exp({eta} * e) AS w1 FROM r{t - 1}),
z{t} AS (SELECT sum(w1) AS z FROM p{t}),
r{t} AS (
  SELECT source, e,
         round((1.0 - {smoothing}) * w1 / z.z + {smoothing} / k.k, 6) AS w
  FROM p{t}, z{t} z, k)"""
    return head + body + f"""
SELECT source, round(e, 6) AS excess, w AS weight
FROM r{n_rounds} ORDER BY source"""


@register("doremi_weights_by_source", _doremi_oracle())
def doremi_weights_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loss-adaptive data-mixture reweighting
    (sampling.doremi_weights — DoReMi's Group-DRO exponentiated-
    gradient update, Xie et al. 2023): per-source proxy loss =
    avg ln(1+doc length) vs the global reference; three
    update-normalize-smooth rounds re-rounded to 6 dp each (the
    engine's iterative re-sync contract). The static-temperature
    counterpart is mixture_weights_docs."""
    from parlerproject_spark.operators.sampling import doremi_weights
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.round(F.avg(F.log(F.lit(1.0) + F.length("text"))), 6)
        .alias("loss"))
    ref = d.agg(F.round(F.log(F.lit(1.0) + F.avg(F.length("text"))), 6)
                .alias("ref_loss"))
    dl = per.crossJoin(F.broadcast(ref))
    return (doremi_weights(dl, domain_col="source")
            .orderBy("source"))


@register("bpe_fertility_by_source", _bpe_rounds_sql(12) + """,
pc AS MATERIALIZED (
  SELECT word,
         len(list_filter(string_split(trim(s, chr(31)), chr(31) || chr(31)),
                         x -> replace(x, '</w>', '') <> ''))::BIGINT AS np
  FROM t12),
dt AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            w -> w <> '')) AS word
  FROM documents),
perdoc AS (
  SELECT dt.doc_id, count(*)::BIGINT AS n_words,
         sum(pc.np)::BIGINT AS n_pieces
  FROM dt JOIN pc USING (word) GROUP BY dt.doc_id)
SELECT d.source,
       count(*)::BIGINT AS n_docs,
       coalesce(sum(p.n_words), 0)::BIGINT AS n_words,
       coalesce(sum(p.n_pieces), 0)::BIGINT AS n_pieces,
       CASE WHEN coalesce(sum(p.n_words), 0) > 0
            THEN round(sum(p.n_pieces) * 1.0 / sum(p.n_words), 6)
            ELSE 0.0 END AS fertility
FROM documents d LEFT JOIN perdoc p USING (doc_id)
GROUP BY d.source
ORDER BY d.source
""")
def bpe_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit (pieces per word under the learned
    12-merge BPE, per corpus source) — the standard tokenizer-fit
    diagnostic: a domain whose fertility is far above the corpus
    mean is poorly served by the merge table (more pieces = more
    sequence length = more compute per token of signal), the signal
    that drives vocab-size / merge-budget decisions. Composes
    train_bpe + apply_bpe unchanged and aggregates per source; the
    oracle replays the 12 training rounds and the vocab-join."""
    from parlerproject_spark.operators.tokenizer import (apply_bpe,
                                                         train_bpe)
    d = _t(spark, sf_dir, "documents")
    merges = train_bpe(d, n_merges=12)
    seg = apply_bpe(d, merges).select("doc_id", "n_words", "n_pieces")
    per = (d.select("doc_id", "source")
           .join(seg, "doc_id", "left"))
    return (per.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.coalesce(F.sum("n_words"), F.lit(0)).cast("long")
                 .alias("n_words"),
                 F.coalesce(F.sum("n_pieces"), F.lit(0)).cast("long")
                 .alias("n_pieces"))
            .withColumn("fertility",
                        F.when(F.col("n_words") > 0,
                               F.round(F.col("n_pieces")
                                       / F.col("n_words"), 6))
                        .otherwise(F.lit(0.0)))
            .orderBy("source"))


@register("scd2_user_type_history", """
WITH src AS (
  SELECT user_id, ts, event_id, event_type FROM events),
flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN row_number() OVER w = 1
                OR event_type IS DISTINCT FROM lag(event_type) OVER w
              THEN 1 ELSE 0 END AS opens
  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
runs AS (
  SELECT user_id, ts, event_id, event_type
  FROM flagged WHERE opens = 1)
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(ts) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to,
       cast(row_number() OVER w2 AS BIGINT) AS version,
       (lead(ts) OVER w2 IS NULL) AS is_current
FROM runs WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, version
""")
def scd2_user_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build (operators/cdc.scd2_history):
    per-user validity intervals over the event-type attribute —
    consecutive same-type records collapse, the latest interval is
    open-ended. One hash exchange, two windows riding it. The oracle
    replays the identical run-collapse + interval window in SQL."""
    from parlerproject_spark.operators.cdc import scd2_history
    h = scd2_history(_t(spark, sf_dir, "events"),
                     key_cols=["user_id"], ts_col="ts",
                     attr_cols=["event_type"], tiebreak_cols=["event_id"])
    return (h.select("user_id", "event_type",
                     F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss")
                      .alias("valid_from"),
                     F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss")
                      .alias("valid_to"),
                     "version", "is_current")
            .orderBy("user_id", "version"))


@register("dsir_resample_docs", """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents),
idx AS (
  SELECT doc_id, source, ts,
         unnest(generate_series(1, len(ts) - 1)) AS gs
  FROM toks WHERE len(ts) >= 2),
feats AS (
  SELECT doc_id, source,
         substr(md5(ts[gs] || ' ' || ts[gs + 1]), 1, 3) AS feat
  FROM idx),
tm AS (SELECT feat, cast(count(*) AS DOUBLE) AS ct FROM feats
       WHERE source IN ('src0', 'src1') GROUP BY feat),
rm AS (SELECT feat, cast(count(*) AS DOUBLE) AS cr FROM feats GROUP BY feat),
tot AS (
  SELECT (SELECT sum(ct) FROM tm) AS tt,
         (SELECT sum(cr) FROM rm) AS tr),
wts AS (
  SELECT doc_id,
         round(sum(ln((coalesce(ct, 0) + 1.0) / (tt + 4096.0))
                   - ln((coalesce(cr, 0) + 1.0) / (tr + 4096.0))), 6)
             AS log_weight
  FROM feats
  LEFT JOIN tm USING (feat)
  LEFT JOIN rm USING (feat)
  CROSS JOIN tot
  GROUP BY doc_id),
keyed AS (
  SELECT doc_id, log_weight,
         round(log_weight
               - ln(-ln((('0x' || substr(md5('dsir:' || doc_id::VARCHAR),
                                         1, 8))::BIGINT + 1.0)
                        / 4294967297.0)), 6) AS sample_key
  FROM wts)
SELECT doc_id, log_weight, sample_key
FROM keyed
ORDER BY sample_key DESC, doc_id ASC
LIMIT 100
""")
def dsir_resample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/selection
    .importance_resample): Gumbel top-k draw of 100 documents with
    probability ∝ exp(log_weight), deterministic md5 noise — the
    selection step that follows dsir_weights. Oracle replays the
    same weights, noise, and cut."""
    from parlerproject_spark.operators.selection import importance_resample
    d = _t(spark, sf_dir, "documents")
    return importance_resample(
        d, d.filter(F.col("source").isin("src0", "src1")), n=100)


@register("gopher_quality_docs", """
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'),
                     w -> w <> '') AS ws,
         list_filter(string_split(text, chr(10)),
                     l -> trim(l) <> '') AS ls,
         list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     t -> t <> '') AS toks
  FROM documents),
stats AS (
  SELECT doc_id,
         cast(len(ws) AS BIGINT) AS n_words,
         round(cast(list_sum(list_transform(ws, w -> length(w)))
                    AS DOUBLE) / greatest(len(ws), 1), 4) AS mean_word_len,
         round(cast(len(regexp_extract_all(text, '\\.\\.\\.|[#…]'))
                    AS DOUBLE) / greatest(len(ws), 1), 6) AS symbol_ratio,
         round(cast(len(list_filter(ls,
                 l -> regexp_matches(trim(l), '^(\\-|\\*|•)')))
                    AS DOUBLE) / greatest(len(ls), 1), 6) AS bullet_share,
         round(cast(len(list_filter(ls,
                 l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))
                    AS DOUBLE) / greatest(len(ls), 1), 6) AS ellipsis_share,
         round(cast(len(list_filter(ws,
                 w -> regexp_matches(w, '[a-zA-Z]')))
                    AS DOUBLE) / greatest(len(ws), 1), 6) AS alpha_share,
         cast(list_contains(toks, 'the')::INT + list_contains(toks, 'be')::INT
            + list_contains(toks, 'to')::INT + list_contains(toks, 'of')::INT
            + list_contains(toks, 'and')::INT
            + list_contains(toks, 'that')::INT
            + list_contains(toks, 'have')::INT
            + list_contains(toks, 'with')::INT AS BIGINT) AS stop_hits
  FROM base)
SELECT *,
       (n_words >= 50 AND n_words <= 100000) AS pass_words,
       (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS pass_mean_len,
       (symbol_ratio <= 0.1) AS pass_symbols,
       (bullet_share <= 0.9) AS pass_bullets,
       (ellipsis_share <= 0.3) AS pass_ellipsis,
       (alpha_share >= 0.8) AS pass_alpha,
       (stop_hits >= 2) AS pass_stops,
       ((n_words >= 50 AND n_words <= 100000)
        AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        AND symbol_ratio <= 0.1 AND bullet_share <= 0.9
        AND ellipsis_share <= 0.3 AND alpha_share >= 0.8
        AND stop_hits >= 2) AS keep
FROM stats
ORDER BY doc_id
""")
def gopher_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (operators/quality_rules
    .gopher_quality_flags): the Rae et al. §A1.1 rule set as
    zero-shuffle Column algebra — per-rule booleans + measured
    statistics. Oracle recomputes every statistic and rule in SQL."""
    from parlerproject_spark.operators.quality_rules import (
        gopher_quality_flags)
    return (gopher_quality_flags(_t(spark, sf_dir, "documents"))
            .orderBy("doc_id"))


@register("c4_line_filter_docs", """
WITH fixture AS (
  SELECT doc_id,
         regexp_replace(text, '((?:[a-z0-9]+ ){5}[a-z0-9]+) ',
                        '\\1.' || chr(10), 'g') AS text
  FROM documents),
split AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)),
                     l -> trim(l) <> '') AS ls
  FROM fixture),
kept AS (
  SELECT doc_id, ls,
         list_filter(ls, l ->
             regexp_matches(trim(l), '[.!?"”]$')
             AND len(list_filter(string_split_regex(trim(l), '\\s+'),
                                 w -> w <> '')) >= 5
             AND NOT contains(lower(trim(l)), 'javascript')
             AND NOT contains(lower(trim(l)), 'lorem ipsum')
             AND NOT contains(lower(trim(l)), '{')) AS ks
  FROM split)
SELECT doc_id,
       cast(len(ls) AS BIGINT) AS n_lines,
       cast(len(ks) AS BIGINT) AS n_kept,
       list_aggregate(ks, 'string_agg', chr(10)) AS clean_text
FROM kept
WHERE len(ks) >= 3
ORDER BY doc_id
""")
def c4_line_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line filtering (operators/quality_rules.c4_line_filter)
    over a deterministic multi-line fixture (every 6th token gets a
    sentence break — the same regexp construction on both sides,
    like the S9 concat fixture): terminal-punctuation + min-words +
    contamination line rules, then the min-lines document rule.
    Oracle replays the fixture and every rule in SQL."""
    from parlerproject_spark.operators.quality_rules import c4_line_filter
    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.regexp_replace(
            "text", r"((?:[a-z0-9]+ ){5}[a-z0-9]+) ", "$1.\n"))
    return c4_line_filter(d).orderBy("doc_id")


@register("gopher_repetition_docs", """
WITH fixture AS (
  SELECT doc_id,
         regexp_replace(text, '((?:[a-z0-9]+ ){5}[a-z0-9]+) ',
                        '\\1.' || chr(10), 'g') AS t
  FROM documents),
f2 AS (
  SELECT doc_id,
         t || chr(10) || string_split(t, chr(10))[1]
           || chr(10) || chr(10) || string_split(t, chr(10))[1] AS text
  FROM fixture),
base AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)),
                                    l -> trim(l)), l -> l <> '') AS ls,
         list_filter(list_transform(
             string_split_regex(text, chr(10) || '{2,}'),
             p -> trim(p)), p -> p <> '') AS ps,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS ts
  FROM f2),
stats AS (
  SELECT doc_id, ts,
         coalesce(list_sum(list_transform(ts, w -> length(w))), 0) AS wc,
         round(cast(len(ls) - len(list_distinct(ls)) AS DOUBLE)
               / greatest(len(ls), 1), 6) AS dup_line_frac,
         round(cast(len(ps) - len(list_distinct(ps)) AS DOUBLE)
               / greatest(len(ps), 1), 6) AS dup_para_frac,
         round(cast(coalesce(list_sum(list_transform(ls, x -> length(x))), 0)
               - coalesce(list_sum(list_transform(list_distinct(ls),
                                                  x -> length(x))), 0)
               AS DOUBLE)
               / greatest(coalesce(list_sum(list_transform(ls,
                   x -> length(x))), 0), 1), 6) AS dup_line_char_frac,
         round(cast(coalesce(list_sum(list_transform(ps, x -> length(x))), 0)
               - coalesce(list_sum(list_transform(list_distinct(ps),
                                                  x -> length(x))), 0)
               AS DOUBLE)
               / greatest(coalesce(list_sum(list_transform(ps,
                   x -> length(x))), 0), 1), 6) AS dup_para_char_frac
  FROM base),
grams AS (
  SELECT doc_id, wc, n,
         unnest(generate_series(1, greatest(len(ts) - n + 1, 0))) AS i,
         ts
  FROM stats CROSS JOIN (SELECT unnest([2, 3, 4]) AS n)),
gram2 AS (
  SELECT doc_id, wc, n,
         array_to_string(ts[i:i + n - 1], ' ') AS gram
  FROM grams),
counts AS (
  SELECT doc_id, wc, n, gram, count(*) AS c
  FROM gram2 GROUP BY doc_id, wc, n, gram),
top AS (
  SELECT doc_id, n,
         round(cast(c * (length(gram) - (n - 1)) AS DOUBLE)
               / greatest(wc, 1), 6) AS frac
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, n
                                     ORDER BY c DESC, gram ASC) AS rn
        FROM counts)
  WHERE rn = 1),
pivoted AS (
  SELECT doc_id,
         coalesce(max(CASE WHEN n = 2 THEN frac END), 0.0)
           AS top2gram_char_frac,
         coalesce(max(CASE WHEN n = 3 THEN frac END), 0.0)
           AS top3gram_char_frac,
         coalesce(max(CASE WHEN n = 4 THEN frac END), 0.0)
           AS top4gram_char_frac
  FROM top GROUP BY doc_id)
SELECT s.doc_id, dup_line_frac, dup_para_frac,
       dup_line_char_frac, dup_para_char_frac,
       coalesce(top2gram_char_frac, 0.0) AS top2gram_char_frac,
       coalesce(top3gram_char_frac, 0.0) AS top3gram_char_frac,
       coalesce(top4gram_char_frac, 0.0) AS top4gram_char_frac,
       (dup_line_frac <= 0.30) AS pass_dup_line,
       (dup_para_frac <= 0.30) AS pass_dup_para,
       (dup_line_char_frac <= 0.20) AS pass_dup_line_chars,
       (dup_para_char_frac <= 0.20) AS pass_dup_para_chars,
       (coalesce(top2gram_char_frac, 0.0) <= 0.20) AS pass_top2,
       (coalesce(top3gram_char_frac, 0.0) <= 0.18) AS pass_top3,
       (coalesce(top4gram_char_frac, 0.0) <= 0.16) AS pass_top4,
       ((dup_line_frac <= 0.30) AND (dup_para_frac <= 0.30)
        AND (dup_line_char_frac <= 0.20) AND (dup_para_char_frac <= 0.20)
        AND (coalesce(top2gram_char_frac, 0.0) <= 0.20)
        AND (coalesce(top3gram_char_frac, 0.0) <= 0.18)
        AND (coalesce(top4gram_char_frac, 0.0) <= 0.16)) AS keep
FROM stats s LEFT JOIN pivoted p ON s.doc_id = p.doc_id
ORDER BY s.doc_id
""")
def gopher_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (operators/quality_rules
    .gopher_repetition_flags): Rae et al. §A1 duplicate-line/
    paragraph fractions (count- and char-weighted) and top-{2,3,4}
    n-gram character coverage, over a deterministic multi-line
    fixture (the c4 sentence-break construction, plus the first
    line re-appended once inline and once as a separate paragraph so
    the duplicate-line and paragraph signals are actually exercised
    — both engines build the identical fixture). Oracle recomputes
    every signal, threshold, and the keep conjunction in SQL."""
    from parlerproject_spark.operators.quality_rules import (
        gopher_repetition_flags)
    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.regexp_replace(
            "text", r"((?:[a-z0-9]+ ){5}[a-z0-9]+) ", "$1.\n"))
    first = F.element_at(F.split("text", "\n"), 1)
    d = d.withColumn(
        "text", F.concat("text", F.lit("\n"), first,
                         F.lit("\n\n"), first))
    return gopher_repetition_flags(d).orderBy("doc_id")


@register("decayed_trending_users", """
WITH rollup AS (
  SELECT date_trunc('day', ts) AS bucket, user_id,
         count(*) AS n_rows
  FROM events GROUP BY 1, 2)
SELECT user_id,
       round(sum(n_rows * power(0.5,
             (epoch(TIMESTAMP '2024-01-31 00:00:00') - epoch(bucket))
             / 86400.0 / 7.0)), 6) AS decayed_n,
       cast(sum(n_rows) AS BIGINT) AS n_rows
FROM rollup
GROUP BY user_id
ORDER BY user_id
""")
def decayed_trending_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed activity served from rollup partials
    (operators/rollup.decayed_rollup_serve): per-user half-life-
    weighted event counts — the trending read that never touches raw
    history. Oracle rebuilds the partials and the decay in SQL."""
    from parlerproject_spark.operators.rollup import (decayed_rollup_serve,
                                                      partial_rollup)
    ev = _t(spark, sf_dir, "events")
    part = partial_rollup(ev, bucket=F.date_trunc("day", F.col("ts")),
                          key_cols=["user_id"], value_col="value")
    now = F.to_timestamp(F.lit("2024-01-31 00:00:00"))
    return (decayed_rollup_serve(part, key_cols=["user_id"], now=now,
                                 half_life_days=7.0)
            .withColumn("n_rows", F.col("n_rows").cast("long"))
            .orderBy("user_id"))


@register("snapshot_asof_user_state", """
WITH filtered AS (
  SELECT user_id, event_id, ts, event_type, value
  FROM events
  WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM filtered)
SELECT user_id, event_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       round(value, 6) AS value
FROM ranked WHERE rn = 1
ORDER BY user_id
""")
def snapshot_asof_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel snapshot (operators/cdc.snapshot_asof): each
    user's latest event state as of Jan 15 — version filter pushed
    to the scan, one key exchange + window. Oracle replays the same
    cut and window."""
    from parlerproject_spark.operators.cdc import snapshot_asof
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value")
    snap = snapshot_asof(ev, key_cols=["user_id"], version_col="ts",
                         tiebreak_col="event_id",
                         asof=F.to_timestamp(F.lit("2024-01-15 00:00:00")))
    return (snap.select("user_id", "event_id", "event_type",
                        F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
                        .alias("ts"),
                        F.round("value", 6).alias("value"))
            .orderBy("user_id"))


@register("knn_pq", _pq_oracle())
def knn_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.train_pq/
    encode_pq/knn_pq): 8-subspace x 16-centroid codebooks (32x
    vector compression), ADC scan over the code table, exact
    re-rank of the top-64 — the memory scale path of the ANN
    family. Hash-oracled since r9: train_pq rounds every centroid
    update to 6 dp (the lloyd round_c contract), so _pq_oracle can
    unroll the per-subspace Lloyd + encode + ADC + re-rank as CTEs;
    pytest still measures recall vs knn_bruteforce."""
    from parlerproject_spark.operators import similarity
    emb = _t(spark, sf_dir, "embeddings")
    books = similarity.train_pq(emb, dim=64, m=8, ksub=16)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return similarity.knn_pq(emb, list(qv), books, k=10, rerank=64)


@register("personalized_pagerank_user0", """
WITH keyed AS (
  SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS obj,
         ts, event_id, user_id AS dst
  FROM events
  WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        IS NOT NULL),
edges AS (
  SELECT DISTINCT src, dst
  FROM (SELECT lag(dst) OVER (PARTITION BY obj ORDER BY ts, event_id) AS src,
               dst
        FROM keyed)
  WHERE src IS NOT NULL AND src <> dst),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
seeds AS (SELECT DISTINCT user_id AS node FROM events
          WHERE user_id % 10 = 0),
ns AS (SELECT cast(count(*) AS DOUBLE) AS n_seeds FROM seeds),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
tp AS (SELECT nodes.node,
              CASE WHEN seeds.node IS NOT NULL THEN 1.0 ELSE 0.0 END
                / n_seeds AS tp
       FROM nodes CROSS JOIN ns LEFT JOIN seeds ON seeds.node = nodes.node),
r0 AS (SELECT node, tp AS rank FROM tp),
s1 AS (SELECT e.dst AS node, sum(r.rank / o.deg) AS s
       FROM r0 r JOIN outdeg o ON r.node = o.src
       JOIN edges e ON e.src = r.node GROUP BY e.dst),
r1 AS (SELECT tp.node, 0.15 * tp + 0.85 * coalesce(s, 0) AS rank
       FROM tp LEFT JOIN s1 ON s1.node = tp.node),
s2 AS (SELECT e.dst AS node, sum(r.rank / o.deg) AS s
       FROM r1 r JOIN outdeg o ON r.node = o.src
       JOIN edges e ON e.src = r.node GROUP BY e.dst),
r2 AS (SELECT tp.node, 0.15 * tp + 0.85 * coalesce(s, 0) AS rank
       FROM tp LEFT JOIN s2 ON s2.node = tp.node),
s3 AS (SELECT e.dst AS node, sum(r.rank / o.deg) AS s
       FROM r2 r JOIN outdeg o ON r.node = o.src
       JOIN edges e ON e.src = r.node GROUP BY e.dst),
r3 AS (SELECT tp.node, 0.15 * tp + 0.85 * coalesce(s, 0) AS rank
       FROM tp LEFT JOIN s3 ON s3.node = tp.node)
SELECT node, round(rank, 6) AS rank FROM r3 ORDER BY node
""")
def personalized_pagerank_user0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (operators/graph.personalized_pagerank):
    teleport over the user_id % 10 == 0 seed set — rank concentrates
    in the seeds' co-interaction neighborhood (the related-users
    signal). Oracle unrolls the identical three iterations."""
    from parlerproject_spark.operators.graph import (cointeraction_edges,
                                                     personalized_pagerank)
    ev = _t(spark, sf_dir, "events")
    e = cointeraction_edges(ev)
    seeds = (ev.filter(F.col("user_id") % 10 == 0)
             .select(F.col("user_id").alias("node")))
    return (personalized_pagerank(e, seeds, iters=3, damping=0.85)
            .orderBy("node"))


@register("grouped_split_by_source", """
WITH assigned AS (
  SELECT source,
         ('0x' || substr(md5('split-v1:' || source), 1, 15))::BIGINT
           % 2147483647 % 100 AS bucket
  FROM documents),
tagged AS (
  SELECT source,
         CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM assigned)
SELECT split, cast(count(*) AS BIGINT) AS n_docs,
       cast(count(DISTINCT source) AS BIGINT) AS n_groups
FROM tagged
GROUP BY split
ORDER BY split
""")
def grouped_split_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe grouped split (operators/sampling.grouped_split):
    split assigned per source group, so a template family can never
    straddle train and eval. Oracle replays the md5 group hash and
    the per-split group/doc counts."""
    from parlerproject_spark.operators.sampling import grouped_split
    out = grouped_split(_t(spark, sf_dir, "documents"),
                        group_col="source")
    return (out.groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("source").alias("n_groups"))
            .orderBy("split"))


@register("pretraining_corpus_pipeline", """
WITH base AS (
  SELECT doc_id, source, text,
         list_filter(string_split_regex(text, '\\s+'),
                     w -> w <> '') AS ws
  FROM documents),
gate AS (
  SELECT doc_id, source, text
  FROM base
  WHERE len(ws) BETWEEN 50 AND 100000
    AND round(cast(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
              / greatest(len(ws), 1), 4) BETWEEN 3.0 AND 10.0
    AND round(cast(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))
                   AS DOUBLE) / greatest(len(ws), 1), 6) >= 0.8),
toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM gate),
uni AS (
  SELECT w, count(*) AS c1
  FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w),
v AS (SELECT cast(count(*) AS DOUBLE) AS vsz FROM uni),
idx AS (
  SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS gs
  FROM toks),
big AS (SELECT doc_id, ts[gs] AS w1, ts[gs + 1] AS w2 FROM idx),
bgc AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
scored AS (
  SELECT doc_id, round(avg(ln((c2 + 1.0) / (c1 + vsz))), 6) AS lm_logp
  FROM big
  JOIN bgc USING (w1, w2)
  JOIN uni ON big.w1 = uni.w
  CROSS JOIN v
  GROUP BY doc_id),
cut AS (SELECT quantile_cont(lm_logp, 0.10) AS p10 FROM scored),
kept AS (
  SELECT t.doc_id, t.source, len(t.ts) AS n_toks
  FROM toks t JOIN scored USING (doc_id) CROSS JOIN cut
  WHERE lm_logp >= p10),
tagged AS (
  SELECT *,
         CASE WHEN ('0x' || substr(md5('split-v1:' || source), 1, 15))
                   ::BIGINT % 2147483647 % 100 < 80 THEN 'train'
              WHEN ('0x' || substr(md5('split-v1:' || source), 1, 15))
                   ::BIGINT % 2147483647 % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM kept)
SELECT split, cast(count(*) AS BIGINT) AS n_docs,
       cast(sum(n_toks) AS BIGINT) AS n_tokens,
       cast(count(DISTINCT source) AS BIGINT) AS n_groups
FROM tagged
GROUP BY split
ORDER BY split
""")
def pretraining_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end round-4 pretraining-data pipeline: Gopher
    word-band + mean-length + alpha gates (quality_rules), corpus
    bigram-LM rescoring of the SURVIVORS with a bottom-decile
    perplexity drop (selection/lm_score, quantile edge — no global
    window), then the leakage-safe grouped split (sampling
    .grouped_split) with per-split doc/token/group stats. Every
    stage is one of this round's verified operators composed
    unchanged; the oracle chains the same stages as CTEs.

    The gate's survivor set is MATERIALIZED once (localCheckpoint,
    eager=False — ADVICE r12: eager=True ran the gate job at
    DataFrame-BUILD time, so plan-only consumers like the registry
    meta-test silently executed it; non-eager materializes on the
    first real action and is then reused) at the stage boundary —
    the multi-stage-pipeline idiom a 100 TB run would express as a
    reliable intermediate parquet write (localCheckpoint is
    executor-local; a production run swaps in checkpoint() or an
    explicit write for fault tolerance): the bigram LM rescore reads
    its training/scoring input 4× and the token recount once more,
    so without the stage materialization every consumer re-runs the
    full Gopher gate against the raw corpus (6 corpus scans); with
    it the corpus is scanned exactly twice (flag pass + survivor
    join) and every downstream pass reads the already-filtered
    survivors."""
    from parlerproject_spark.operators.quality_rules import (
        gopher_quality_flags)
    from parlerproject_spark.operators.sampling import grouped_split
    from parlerproject_spark.operators.text_analysis import lm_score
    docs = _t(spark, sf_dir, "documents")
    flags = gopher_quality_flags(docs)
    gate = (docs.join(
        flags.filter(F.col("pass_words") & F.col("pass_mean_len")
                     & F.col("pass_alpha")).select("doc_id"),
        "doc_id", "left_semi")
        .localCheckpoint(eager=False))
    scored = lm_score(gate)
    p10 = scored.agg(F.percentile("lm_logp", F.lit(0.10)).alias("p10"))
    from parlerproject_spark.functions.text import tokenize
    kept = (gate.select("doc_id", "source",
                        F.size(tokenize("text")).cast("long")
                        .alias("n_toks"))
            .join(scored.select("doc_id", "lm_logp"), "doc_id")
            .crossJoin(F.broadcast(p10))
            .filter(F.col("lm_logp") >= F.col("p10")))
    tagged = grouped_split(kept, group_col="source")
    return (tagged.groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_toks").alias("n_tokens"),
                 F.countDistinct("source").alias("n_groups"))
            .orderBy("split"))


# ---------------------------------------------------------------------------
# Round-5: applied exact-substring cutting, in-engine logistic regression,
# n-gram novelty, fixed-size group sampling, centroid coherence
# ---------------------------------------------------------------------------

def _logreg_oracle(n_iters: int = 3, lr: float = 1.0) -> str:
    """Unrolled-GD oracle for logreg_quality_scores_docs: each
    iteration is a (margins, residuals, gradient, update) CTE block —
    the same fixed-iteration-unroll strategy as the PageRank oracles."""
    head = """
WITH lab AS (
  SELECT doc_id,
         CASE WHEN source IN ('src0', 'src1', 'src2')
              THEN 1.0 ELSE 0.0 END AS y
  FROM documents),
toks AS (
  SELECT doc_id, unnest(list_filter(
      string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS w
  FROM documents),
cnt AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 2))::BIGINT AS j,
         cast(count(*) AS DOUBLE) AS c
  FROM toks GROUP BY doc_id, j),
ntok AS (SELECT doc_id, sum(c) AS nt FROM cnt GROUP BY doc_id),
feats AS (
  SELECT doc_id, j, c / nt AS x FROM cnt JOIN ntok USING (doc_id)
  UNION ALL
  SELECT doc_id, 256 AS j, 1.0 AS x FROM ntok),
w0 AS (SELECT DISTINCT j, 0.0 AS wt FROM feats)"""
    body = ""
    for t in range(1, n_iters + 1):
        body += f""",
m{t} AS (SELECT doc_id, sum(x * wt) AS m
        FROM feats JOIN w{t - 1} USING (j) GROUP BY doc_id),
r{t} AS (SELECT doc_id, 1.0 / (1.0 + exp(-m)) - y AS r
        FROM m{t} JOIN lab USING (doc_id)),
g{t} AS (SELECT j, sum(x * r) / (SELECT count(*) FROM documents) AS g
        FROM feats JOIN r{t} USING (doc_id) GROUP BY j),
w{t} AS (SELECT j, wt - {lr} * coalesce(g, 0.0) AS wt
        FROM w{t - 1} LEFT JOIN g{t} USING (j))"""
    tail = f""",
mf AS (SELECT doc_id, sum(x * wt) AS m
       FROM feats JOIN w{n_iters} USING (j) GROUP BY doc_id)
SELECT doc_id, round(m, 6) AS margin,
       round(1.0 / (1.0 + exp(-m)), 6) AS prob,
       cast(CASE WHEN round(m, 6) > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
FROM mf
ORDER BY doc_id"""
    return head + body + tail


@register("logreg_quality_scores_docs", _logreg_oracle())
def logreg_quality_scores_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine logistic-regression quality scorer
    (operators/selection.logreg_quality_classifier): 3 unrolled
    full-batch GD iterations over tf-normalized hashed-unigram
    features, src0-2 as positives — the discriminative sibling of
    the NB classifier. The oracle retrains the identical model with
    the iterations unrolled as CTEs."""
    from parlerproject_spark.operators.selection import (
        logreg_quality_classifier)
    d = (_t(spark, sf_dir, "documents")
         .withColumn("label",
                     F.col("source").isin("src0", "src1", "src2")
                     .cast("int")))
    return logreg_quality_classifier(d).orderBy("doc_id")


@register("cut_substring_spans_docs", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS ts
  FROM documents),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(ts[i:i+7], ' ')) AS g
  FROM toks, unnest(range(1, len(ts) - 6)) AS t(i)
  WHERE len(ts) >= 8),
dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
covered AS (
  SELECT DISTINCT doc_id, pos + off AS pos
  FROM (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dupg)),
       unnest(range(0, 8)) AS o(off)),
pos_tok AS (
  SELECT doc_id, i - 1 AS pos, ts[i] AS tok
  FROM toks, unnest(range(1, len(ts) + 1)) AS t(i)),
kept AS (
  SELECT doc_id, pos, tok FROM pos_tok ANTI JOIN covered USING (doc_id, pos)),
rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id),
totals AS (SELECT doc_id, count(*) AS n_toks FROM pos_tok GROUP BY doc_id)
SELECT doc_id, coalesce(clean_text, '') AS clean_text,
       cast(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       cast(n_toks - coalesce(n_kept, 0) AS BIGINT) AS n_removed
FROM totals LEFT JOIN rebuilt USING (doc_id)
ORDER BY doc_id
""")
def cut_substring_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Applied exact-substring dedup (dedup.cut_substring_spans):
    every token inside a corpus-duplicated >= 8-token run is removed
    and the survivors reassembled in order — the cutting step Lee et
    al. run after span detection. The oracle expands the duplicated
    gram positions directly (the island union equals the per-gram
    interval union by construction) and replays the reassembly with
    ordered string_agg."""
    return dedup.cut_substring_spans(
        _t(spark, sf_dir, "documents"), k=8, min_count=2).orderBy("doc_id")


@register("ngram_novelty_docs", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS ts
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(gram), 1, 15))::BIGINT % 2147483647 AS sh
  FROM (SELECT doc_id, array_to_string(ts[i:i+2], ' ') AS gram
        FROM toks, unnest(range(1, len(ts) - 1)) AS t(i)
        WHERE len(ts) >= 3)),
dfed AS (
  SELECT doc_id, count(*) OVER (PARTITION BY sh) AS df FROM grams)
SELECT doc_id, cast(count(*) AS BIGINT) AS n_grams,
       cast(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) / count(*), 6)
           AS novel_share
FROM dfed GROUP BY doc_id
ORDER BY doc_id
""")
def ngram_novelty_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 3-gram novelty (text_analysis.ngram_novelty): share
    of the doc's distinct shingles found in no other document — the
    memorization/boilerplate axis. Same shingle-hash stream as the
    MinHash family, df counted by a window over one gram-keyed
    exchange."""
    from parlerproject_spark.operators.text_analysis import ngram_novelty
    return ngram_novelty(_t(spark, sf_dir, "documents"), n=3) \
        .orderBy("doc_id")


@register("group_head_sample_docs", """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
             PARTITION BY source
             ORDER BY md5('ghs-v1:' || doc_id::VARCHAR), doc_id)
             AS sample_rank
  FROM documents)
SELECT doc_id, source, cast(sample_rank AS BIGINT) AS sample_rank
FROM ranked WHERE sample_rank <= 10
ORDER BY source, doc_id
""")
def group_head_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size deterministic per-group sample
    (sampling.group_head_sample): exactly min(10, |group|) docs per
    source by md5-hash rank — the replayable reservoir-sampling
    stand-in for balanced eval slices."""
    from parlerproject_spark.operators.sampling import group_head_sample
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return group_head_sample(d, group_col="source", id_col="doc_id",
                             k=10).orderBy("source", "doc_id")


@register("centroid_outlier_embeddings", """
WITH ex AS (
  SELECT vec_id, label,
         unnest(range(1, len(embedding) + 1)) AS d,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings),
cents AS (SELECT label, d, avg(x) AS c FROM ex GROUP BY label, d),
per AS (
  SELECT vec_id, label,
         sum(x * c) AS dot, sum(x * x) AS nx2, sum(c * c) AS nc2
  FROM ex JOIN cents USING (label, d)
  GROUP BY vec_id, label)
SELECT vec_id, label,
       round(CASE WHEN sqrt(nx2) * sqrt(nc2) > 0
                  THEN dot / (sqrt(nx2) * sqrt(nc2)) END, 6)
           AS centroid_sim
FROM per
ORDER BY vec_id
""")
def centroid_outlier_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-group embedding coherence
    (similarity.centroid_outlier_scores): cosine of each vector to
    its label-group mean — the SemScore-style mislabel/noise signal.
    Components cast to double on both sides before any arithmetic so
    float32 rounding never reaches the hash."""
    from parlerproject_spark.operators.similarity import (
        centroid_outlier_scores)
    return centroid_outlier_scores(
        _t(spark, sf_dir, "embeddings"), group_col="label") \
        .orderBy("vec_id")


@register("mahalanobis_outliers_embeddings", """
WITH ex AS (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS d,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings),
mom AS (
  SELECT d, avg(x) AS mu,
         sum(x * x) / count(*) - avg(x) * avg(x) AS vr
  FROM ex GROUP BY d),
score AS (
  SELECT e.vec_id,
         sum(CASE WHEN vr > 0
                  THEN (x - mu) * (x - mu) / vr ELSE 0 END) AS m
  FROM ex e JOIN mom USING (d)
  GROUP BY e.vec_id)
SELECT vec_id, round(m, 6) AS mahal2
FROM score
ORDER BY round(m, 6) DESC, vec_id ASC
LIMIT 50
""")
def mahalanobis_outliers_embeddings(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Top-50 diagonal-Mahalanobis embedding outliers
    (similarity.mahalanobis_outlier_scores): per-dim
    variance-normalized squared distance from the corpus mean — the
    scale-aware outlier ranking cosine-to-centroid misses when
    dimension spreads differ. d-row moment table persisted +
    broadcast; top-k is TakeOrderedAndProject, never a global
    sort."""
    from parlerproject_spark.operators.similarity import (
        mahalanobis_outlier_scores)
    return mahalanobis_outlier_scores(
        _t(spark, sf_dir, "embeddings"), k=50)


@register("dbscan_clusters_embeddings", """
WITH RECURSIVE p AS (
  SELECT id_a, id_b FROM (
    SELECT ia AS id_a, ib AS id_b,
           sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim
    FROM (SELECT a.vec_id AS ia, b.vec_id AS ib,
                 unnest(a.embedding)::DOUBLE AS x,
                 unnest(b.embedding)::DOUBLE AS y
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
    GROUP BY ia, ib)
  WHERE sim >= 0.3),
edges AS (
  SELECT id_a AS s, id_b AS d FROM p
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM p),
deg AS (SELECT s AS v, count(*) AS nn FROM edges GROUP BY s),
core AS (SELECT v FROM deg WHERE nn + 1 >= 5),
ce AS (
  SELECT e.s, e.d FROM edges e
  JOIN core a ON e.s = a.v JOIN core b ON e.d = b.v),
reach(v, r) AS (
  SELECT v, v FROM core
  UNION
  SELECT ce.s, reach.r FROM ce JOIN reach ON ce.d = reach.v),
corecl AS (SELECT v, min(r) AS cid FROM reach GROUP BY v),
bord AS (
  SELECT e.s AS v, min(c.cid) AS cid
  FROM edges e JOIN corecl c ON e.d = c.v
  WHERE e.s NOT IN (SELECT v FROM core)
  GROUP BY e.s),
lab AS (
  SELECT v, cid, TRUE AS is_core FROM corecl
  UNION ALL
  SELECT v, cid, FALSE AS is_core FROM bord)
SELECT emb.vec_id, cast(coalesce(l.cid, -1) AS BIGINT) AS cluster,
       coalesce(l.is_core, FALSE) AS is_core
FROM embeddings emb LEFT JOIN lab l ON emb.vec_id = l.v
ORDER BY emb.vec_id
""")
def dbscan_clusters_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density clustering (density.dbscan): the HDBSCAN-analogue
    half of M3 (reference code/bertopicTest.py:53-61) — ε-neighbor
    graph at cosine sim ≥ 0.3, core points |N_ε| ≥ 5, connected
    components over core-core edges, deterministic min-cluster
    border assignment, noise = -1. Exact pair mode here (the
    oracle); the LSH-bucketed mode is the 100 TB path (pytest
    compares the two). The oracle computes the true transitive
    closure with a recursive CTE — equality proves the pointer-
    jumping CC converged on the same components."""
    from parlerproject_spark.operators.density import dbscan
    return (dbscan(_t(spark, sf_dir, "embeddings"),
                   sim_threshold=0.3, min_pts=5, mode="exact")
            .orderBy("vec_id"))


@register("hard_negatives_embeddings", """
WITH p AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
         unnest(a.embedding)::DOUBLE AS x,
         unnest(b.embedding)::DOUBLE AS y
  FROM embeddings a JOIN embeddings b
    ON a.vec_id <> b.vec_id AND a.label <> b.label),
s AS (
  SELECT anchor_id, neg_id,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS sim
  FROM p GROUP BY anchor_id, neg_id),
r AS (
  SELECT anchor_id, neg_id, sim,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY sim DESC, neg_id ASC) AS rank
  FROM s WHERE sim < 0.98)
SELECT anchor_id, neg_id, sim, rank
FROM r WHERE rank <= 5
ORDER BY anchor_id, rank
""")
def hard_negatives_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (mining.hard_negatives):
    per anchor, the 5 closest different-label vectors under a 0.98
    near-dup cap — the mining step of embedding-model fine-tuning
    over the reference's embedding store (code/embeddings.py).
    Similarity is rounded BEFORE the band filter and ranking window
    (ties on candidate id) so the pair set is engine-stable. Exact
    mode here; the cell-probed mode is the at-scale path (pytest
    recall)."""
    from parlerproject_spark.operators.mining import hard_negatives
    return (hard_negatives(_t(spark, sf_dir, "embeddings"),
                           k=5, group_col="label", sim_hi=0.98,
                           mode="exact")
            .orderBy("anchor_id", "rank"))


@register("embedding_covariance", """
WITH ex AS (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS i,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings),
s AS (
  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sxy
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.i >= a.i
  GROUP BY a.i, b.i),
m AS (SELECT i, avg(x) AS mu FROM ex GROUP BY i),
n AS (SELECT cast(count(*) AS DOUBLE) AS c FROM embeddings)
SELECT s.i, s.j, round(s.sxy / n.c - mi.mu * mj.mu, 6) + 0.0 AS cov
FROM s CROSS JOIN n
JOIN m mi ON mi.i = s.i JOIN m mj ON mj.i = s.j
ORDER BY s.i, s.j
""")
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance of the embedding column (pca.
    embedding_moments): per-Arrow-batch BLAS partial sums emitted as
    (i, j, val) rows — d(d+1)/2 + d + 1 rows per batch regardless of
    batch size — then ONE groupBy reduce and a relational assembly
    cov = Σxy/n − μᵢμⱼ. The moment pass every PCA/whitening/OOD
    monitor at 100 TB starts from; no per-row d² blowup, nothing but
    index metadata shuffles."""
    from parlerproject_spark.operators.pca import embedding_moments
    return (embedding_moments(_t(spark, sf_dir, "embeddings"))
            .orderBy("i", "j"))


def _pca_power_oracle(n_components: int = 8, n_iters: int = 24) -> str:
    """Unrolled oracle for pca_whiten_embeddings (the last
    deterministic rows-only of the r8 verdict besides unigram):
    replays the rounded covariance (the embedding_moments 6-dp
    contract), then power_components' FIXED sequence of rounded
    matvec/normalize iterations, the rounded Rayleigh eigenvalue,
    Hotelling deflation, sign fix, and the whitened projection.
    Every iterate re-rounds at 6 dp, so the replay is bit-exact
    whatever the eigen gaps are. Every multiply-referenced CTE is
    MATERIALIZED (the k-core DuckDB-inlining lesson)."""
    head = """
WITH ex AS MATERIALIZED (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings),
nn AS (SELECT count(*)::DOUBLE AS n FROM embeddings),
sx AS MATERIALIZED (SELECT pos, sum(x) AS s FROM ex GROUP BY pos),
cp AS MATERIALIZED (
  SELECT a.pos AS i, b.pos AS j, sum(a.x * b.x) AS sxy
  FROM ex a JOIN ex b ON b.vec_id = a.vec_id AND b.pos >= a.pos
  GROUP BY a.pos, b.pos),
cov AS MATERIALIZED (
  SELECT cp.i, cp.j,
         round(cp.sxy / nn.n - (si.s / nn.n) * (sj.s / nn.n), 6) + 0.0 AS c
  FROM cp, nn
  JOIN sx si ON si.pos = cp.i
  JOIN sx sj ON sj.pos = cp.j),
a0 AS MATERIALIZED (
  SELECT i, j, c AS a FROM cov
  UNION ALL
  SELECT j AS i, i AS j, c AS a FROM cov WHERE i <> j),
mu AS MATERIALIZED (SELECT pos, round(avg(x), 6) AS mu FROM ex GROUP BY pos),
dd AS (SELECT count(*)::DOUBLE AS d FROM mu)"""
    body = ""
    for c in range(n_components):
        body += f""",
v{c}_0 AS (SELECT pos AS i, round(1.0 / sqrt(dd.d), 6) AS v FROM mu, dd)"""
        for t in range(1, n_iters + 1):
            body += f""",
w{c}_{t} AS MATERIALIZED (
  SELECT a.i, sum(a.a * v.v) AS w
  FROM a{c} a JOIN v{c}_{t - 1} v ON v.i = a.j GROUP BY a.i),
v{c}_{t} AS MATERIALIZED (
  SELECT w.i, round(w.w / nr.nr, 6) AS v
  FROM w{c}_{t} w, (SELECT sqrt(sum(w * w)) AS nr FROM w{c}_{t}) nr)"""
        body += f""",
t{c} AS MATERIALIZED (
  SELECT a.i, sum(a.a * v.v) AS t
  FROM a{c} a JOIN v{c}_{n_iters} v ON v.i = a.j GROUP BY a.i),
lam{c} AS MATERIALIZED (
  SELECT round(sum(v.v * t.t), 6) AS l
  FROM v{c}_{n_iters} v JOIN t{c} t USING (i)),
a{c + 1} AS MATERIALIZED (
  SELECT a.i, a.j, round(a.a - lam.l * v1.v * v2.v, 6) + 0.0 AS a
  FROM a{c} a
  JOIN v{c}_{n_iters} v1 ON v1.i = a.i
  JOIN v{c}_{n_iters} v2 ON v2.i = a.j, lam{c} lam),
sgn{c} AS (
  SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
  FROM (SELECT v FROM v{c}_{n_iters} ORDER BY abs(v) DESC, i ASC LIMIT 1)),
comp{c} AS (SELECT i, v * s AS v FROM v{c}_{n_iters}, sgn{c})"""
    comps_union = "\n  UNION ALL\n".join(
        f"  SELECT {c} AS dim, i, v FROM comp{c}"
        for c in range(n_components))
    lams_union = "\n  UNION ALL\n".join(
        f"  SELECT {c} AS dim, l FROM lam{c}" for c in range(n_components))
    tail = f""",
comps AS MATERIALIZED (
{comps_union}),
lams AS MATERIALIZED (
{lams_union}),
dots AS (
  SELECT e.vec_id, c.dim, sum((e.x - m.mu) * c.v) AS dp
  FROM ex e JOIN mu m ON m.pos = e.pos JOIN comps c ON c.i = e.pos
  GROUP BY e.vec_id, c.dim)
SELECT d.vec_id, d.dim,
       round(d.dp / sqrt(greatest(l.l, 0.0) + 1e-9), 4) + 0.0 AS value
FROM dots d JOIN lams l USING (dim)
ORDER BY d.vec_id, d.dim"""
    return head + body + tail


@register("pca_whiten_embeddings", _pca_power_oracle())
def pca_whiten_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitened 8-component PCA projection, hash-oracled since r9:
    the fit is pca.power_components — the deflated power-iteration
    twin of pca_components (numpy eigh stays the operator default)
    whose FIXED rounded iteration sequence an independent engine can
    replay exactly (SQL cannot eigendecompose, but it can replay 24
    rounded matvec/normalize rounds per component + Hotelling
    deflation). Distributed moments → bounded d×d driver iteration
    → broadcast-literal matmul map, as before.

    Registered output is SCALAR-shaped — (vec_id, dim, value) via
    posexplode — because the driver's canonicalizer sorts the frame
    with pandas, which cannot factorize array cells (round 5's one red
    row was this query returning a raw array<float> column). The
    operator itself keeps its array API; only the registry projection
    explodes. `+ 0.0` folds -0.0 → 0.0 so the value hash is stable
    for components that round to zero."""
    from parlerproject_spark.operators.pca import (pca_project,
                                                   power_components)
    emb = _t(spark, sf_dir, "embeddings")
    mu, comps, evals = power_components(emb, n_components=8)
    proj = pca_project(emb, mu, comps, evals, whiten=True)
    return proj.select(
        "vec_id", F.posexplode("pc").alias("dim", "v")) \
        .select("vec_id", "dim",
                (F.round(F.col("v"), 4) + F.lit(0.0)).alias("value")) \
        .orderBy("vec_id", "dim")


@register("unicode_normalize_docs", """
WITH raw AS (
  SELECT doc_id,
         'Cafe' || chr(769) || chr(8203) || ' ' || chr(8220) || 'Parler'
           || chr(8221) || chr(8230) || chr(160) || substring(text, 1, 60)
           AS t
  FROM documents),
cl AS (
  SELECT doc_id, t,
         regexp_replace(
           replace(
             translate(t,
               chr(160) || chr(8216) || chr(8217) || chr(8220) || chr(8221)
                 || chr(8211) || chr(8212) || chr(8203) || chr(8204)
                 || chr(8205) || chr(65279) || chr(8288),
               ' ' || chr(39) || chr(39) || '""--'),
             chr(8230), '...'),
           '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g') AS c
  FROM raw)
SELECT doc_id, nfc_normalize(c) AS norm_text,
       nfc_normalize(c) <> t AS changed,
       cast(length(nfc_normalize(c)) AS BIGINT) AS n_chars
FROM cl
ORDER BY doc_id
""")
def unicode_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization (functions/unicode.normalize_text):
    typographic-char cleanup as a JVM translate/replace chain, then
    NFC composition via an Arrow pandas_udf. The sf docs are pure
    ASCII, so the query injects a fixed prefix (combining accent,
    zero-width space, curly quotes, ellipsis, NBSP) through the SAME
    expression on both engines — the hash then proves stdlib
    `unicodedata` NFC and DuckDB `nfc_normalize` agree, two
    independent implementations of the Unicode algorithm."""
    from parlerproject_spark.functions.unicode import normalize_text
    d = _t(spark, sf_dir, "documents")
    prefix = ("Cafe\u0301\u200b \u201cParler\u201d\u2026\u00a0")
    raw = F.concat(F.lit(prefix), F.substring("text", 1, 60))
    out = d.select("doc_id", raw.alias("t"))
    norm = normalize_text(F.col("t"))
    return (out.select("doc_id", norm.alias("norm_text"),
                       (norm != F.col("t")).alias("changed"),
                       F.length(norm).cast("long").alias("n_chars"))
            .orderBy("doc_id"))


@register("time_weighted_value_users", """
WITH s AS (
  SELECT user_id, epoch_us(ts) AS us, value::DOUBLE AS v FROM events),
st AS (
  SELECT user_id, v, us,
         lead(v) OVER w AS v2,
         cast(lead(us) OVER w - us AS DOUBLE) AS dt
  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY us, v)),
a AS (
  SELECT user_id, cast(count(*) AS BIGINT) AS n_samples,
         sum(CASE WHEN dt IS NOT NULL THEN (v + v2) / 2 * dt END) AS area,
         sum(CASE WHEN dt IS NOT NULL THEN dt END) AS span,
         min({'us': us, 'v': v}) AS fst
  FROM st GROUP BY user_id)
SELECT user_id, n_samples,
       round(CASE WHEN span > 0 THEN area / span ELSE fst.v END, 6) AS twa
FROM a ORDER BY user_id
""")
def time_weighted_value_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trapezoidal time-weighted mean of `value` per user
    (timeseries.time_weighted_avg) — TimescaleDB's
    time_weight('Linear') re-expressed as lead() windows + one
    groupBy; burst-heavy users no longer over-weight their bursts
    the way a plain avg does."""
    from parlerproject_spark.operators.timeseries import time_weighted_avg
    ev = _t(spark, sf_dir, "events")
    return (time_weighted_avg(ev, key_col="user_id")
            .orderBy("user_id"))


@register("interpolate_hourly_values", """
WITH base0 AS (
  SELECT user_id, epoch_us(ts) AS us, value::DOUBLE AS v
  FROM events WHERE user_id < 12),
base AS (
  SELECT user_id, us, avg(v) AS v FROM base0 GROUP BY user_id, us),
bounds AS (
  SELECT user_id, min(us) AS lo, max(us) AS hi FROM base GROUP BY user_id),
grid AS (
  SELECT user_id,
         unnest(range(cast(ceil(lo / 3600000000.0) * 3600000000 AS BIGINT),
                      hi + 1, 3600000000)) AS us
  FROM bounds),
g2 AS (
  SELECT g.user_id, g.us,
         (SELECT max(b.us) FROM base b
          WHERE b.user_id = g.user_id AND b.us <= g.us) AS pt,
         (SELECT min(b.us) FROM base b
          WHERE b.user_id = g.user_id AND b.us >= g.us) AS nt
  FROM grid g),
g3 AS (
  SELECT g2.user_id, g2.us, g2.pt, g2.nt, bp.v AS pv, bn.v AS nv
  FROM g2
  JOIN base bp ON bp.user_id = g2.user_id AND bp.us = g2.pt
  JOIN base bn ON bn.user_id = g2.user_id AND bn.us = g2.nt)
SELECT user_id, make_timestamp(us) AS grid_ts,
       round(CASE WHEN us = pt THEN pv
                  ELSE pv + (nv - pv) * (us - pt) / (nt - pt) END, 6)
         AS v_interp
FROM g3 ORDER BY user_id, grid_ts
""")
def interpolate_hourly_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation onto each user's hourly grid
    (timeseries.interpolate_grid) — TimescaleDB `interpolate`:
    grid expansion by sequence(), previous/next sample via two
    as-of windows on one (user, ts)-ordered exchange, trapezoid
    formula between the surrounding samples. The oracle derives
    the same grid and resolves neighbors with correlated min/max
    subqueries — structurally independent of the window trick."""
    from parlerproject_spark.operators.timeseries import interpolate_grid
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 12)
    return (interpolate_grid(ev, key_col="user_id", step_minutes=60)
            .orderBy("user_id", "grid_ts"))


@register("fuzzy_best_match_parts", """
WITH t AS (
  SELECT DISTINCT p_name AS k, p_name AS n,
         string_split(p_name, ' ')[-1] AS blk
  FROM part),
cand AS (
  SELECT a.k AS name, b.k AS match_name, levenshtein(a.n, b.n) AS dist
  FROM t a JOIN t b ON a.blk = b.blk AND a.k <> b.k
  WHERE levenshtein(a.n, b.n) <= 3),
r AS (
  SELECT name, match_name, cast(dist AS INTEGER) AS dist,
         row_number() OVER (PARTITION BY name
                            ORDER BY dist ASC, match_name ASC) AS rn
  FROM cand)
SELECT name, match_name, dist FROM r WHERE rn = 1
ORDER BY name
""")
def fuzzy_best_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution over the part-name DICTIONARY
    (fuzzy.fuzzy_best_match): nearest same-noun-block name within 3
    edits, per distinct name. Matching runs on distinct VALUES, not
    records — the production ER shape: a record-level self-match is
    dominated by exact-duplicate strings (distance 0 everywhere) and
    a hub block over repeated values explodes quadratically in the
    record count; the dictionary is bounded by vocabulary size, and
    records join back to their value's match afterwards. Spark's and
    DuckDB's levenshtein share the classic unit-cost definition, so
    the whole pipeline is hash-replayed."""
    from parlerproject_spark.operators.fuzzy import fuzzy_best_match
    names = _t(spark, sf_dir, "part").select("p_name").distinct() \
        .withColumnRenamed("p_name", "name")
    return (fuzzy_best_match(names, id_col="name", text_col="name",
                             max_dist=3)
            .withColumnRenamed("match_id", "match_name")
            .orderBy("name"))


def _unigram_dp_sql(tag: str, voc: str, maxw: int, piece_len: int) -> str:
    """One unrolled Viterbi block over the distinct-word table: DP
    states ride as (word, n, wl, sc, np, sq) rows, position i's
    candidates union over the ≤piece_len predecessors, best picked
    by (score DESC, n_pieces ASC, lex-smaller sequence) — the exact
    _viterbi tie order (sq is a chr(31)-delimited string; the
    delimiter sorts below every [a-z0-9] piece char, so string
    order == piece-tuple order). Ends at f{tag} (word, n, np, sq)
    holding each word's final state."""
    g = "chr(31)"
    out = f""",
b{tag}_0 AS (SELECT word, n, length(word) AS wl, 0.0::DOUBLE AS sc,
                    0 AS np, '' AS sq FROM wf)"""
    for i in range(1, maxw + 1):
        cands = "\n  UNION ALL\n".join(f"""  SELECT b.word, b.n, b.wl, b.sc + v.lp AS sc, b.np + 1 AS np,
         CASE WHEN b.sq = '' THEN v.piece
              ELSE b.sq || {g} || v.piece END AS sq
  FROM b{tag}_{jj} b
  JOIN {voc} v ON v.piece = substring(b.word, {jj + 1}, {i - jj})
  WHERE b.wl >= {i}""" for jj in range(max(0, i - piece_len), i))
        out += f""",
c{tag}_{i} AS (
{cands}),
b{tag}_{i} AS MATERIALIZED (
  SELECT word, n, wl, sc, np, sq FROM (
    SELECT *, row_number() OVER (PARTITION BY word
                                 ORDER BY sc DESC, np ASC, sq ASC) AS rn
    FROM c{tag}_{i})
  WHERE rn = 1)"""
    finals = "\n  UNION ALL\n".join(
        f"  SELECT word, n, np, sq FROM b{tag}_{i} WHERE wl = {i}"
        for i in range(1, maxw + 1))
    out += f""",
f{tag} AS MATERIALIZED (
{finals})"""
    return out


def _unigram_rounds_sql(vocab_size: int = 80, n_iters: int = 2,
                        piece_len: int = 5, n_seed: int = 150,
                        maxw: int = 12) -> str:
    """Unrolled oracle prefix for the unigram-LM trainer: substring
    seeding scored Σ freq·len, char/multi pool, then n_iters
    (Viterbi E-step → char-preserving prune → round-6 log-prob
    M-step) blocks, ending at voc{n_iters}(piece, lp). Rides the
    operator's round_c contract (train_unigram re-rounds log-probs
    HALF_UP at 6 dp every round, so DP score sums are bit-identical
    across engines). Assumes words at the driver's sf are ≤ maxw
    chars (the _ivf_oracle-style bounded-fixture assumption; corpus
    max is 8)."""
    head = f"""
WITH wf AS MATERIALIZED (
  SELECT word, count(*)::BIGINT AS n FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
    FROM documents)
  WHERE word <> '' GROUP BY word),
t1 AS (SELECT word, n, unnest(range(1, length(word) + 1)) AS s FROM wf),
t2 AS (SELECT word, n, s,
              unnest(range(s, least(length(word), s + {piece_len - 1}) + 1))
                AS e
       FROM t1),
sub AS MATERIALIZED (
  SELECT substring(word, s::INT, (e - s + 1)::INT) AS piece,
         sum(n * (e - s + 1))::BIGINT AS score
  FROM t2 GROUP BY 1),
charstab AS MATERIALIZED (
  SELECT piece, score FROM sub WHERE length(piece) = 1),
multi AS (
  SELECT piece, score FROM (
    SELECT piece, score,
           row_number() OVER (ORDER BY score DESC, piece ASC) AS rn
    FROM sub WHERE length(piece) > 1)
  WHERE rn <= {n_seed}),
pool AS MATERIALIZED (
  SELECT piece, score FROM charstab
  UNION ALL SELECT piece, score FROM multi),
tot0 AS (SELECT sum(score)::DOUBLE AS t FROM pool),
voc0 AS MATERIALIZED (
  SELECT piece, round(ln(score / t), 6) AS lp FROM pool, tot0)"""
    body = ""
    for r in range(1, n_iters + 1):
        body += _unigram_dp_sql(f"{r}", f"voc{r - 1}", maxw, piece_len)
        body += f""",
cnt{r} AS MATERIALIZED (
  SELECT piece, sum(n)::BIGINT AS cnt
  FROM (SELECT n, unnest(string_split(sq, chr(31))) AS piece FROM f{r})
  GROUP BY piece),
kept{r} AS (
  SELECT piece, cnt FROM (
    SELECT piece, cnt,
           row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
    FROM cnt{r} WHERE length(piece) > 1)
  WHERE rn <= {vocab_size} - (SELECT count(*) FROM charstab)),
newv{r} AS MATERIALIZED (
  SELECT c.piece, greatest(coalesce(t.cnt, 0), 1) AS cnt
  FROM charstab c LEFT JOIN cnt{r} t USING (piece)
  UNION ALL
  SELECT piece, cnt FROM kept{r}),
tt{r} AS (SELECT sum(cnt)::DOUBLE AS t FROM newv{r}),
voc{r} AS MATERIALIZED (
  SELECT piece, round(ln(cnt / t), 6) AS lp FROM newv{r}, tt{r})"""
    return head + body


@register("unigram_vocab_docs",
          _unigram_rounds_sql() + """
SELECT piece, lp AS logp FROM voc2 ORDER BY piece
""")
def unigram_vocab_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer training
    (operators/unigram.train_unigram): substring seeding, hard-EM
    Viterbi re-estimation, char-preserving prune — the second
    standard subword trainer next to BPE. Hash-oracled since r9:
    train_unigram re-rounds log-probs at 6 dp per M-step (round_c
    contract), so the oracle unrolls both EM rounds — each an
    explicit per-position Viterbi DP whose states ride as delimited
    strings with the exact (score, n_pieces, lex-seq) tie order —
    and lands on the identical vocab. The pure-Python reference
    pytest still pins the distributed impl independently."""
    from parlerproject_spark.operators.unigram import train_unigram
    d = _t(spark, sf_dir, "documents")
    vocab = train_unigram(d, vocab_size=80, n_iters=2,
                          max_piece_len=5, n_seed=150)
    return literal_frame(spark, [(p, round(lp, 6)) for p, lp in vocab],
                         "piece string, logp double")


@register("unigram_segment_docs",
          _unigram_rounds_sql()
          + _unigram_dp_sql("s", "voc2", 12, 5) + """,
dt AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            w -> w <> '')) AS word
  FROM documents)
SELECT dt.doc_id, count(*)::BIGINT AS n_words,
       sum(fs.np)::BIGINT AS n_pieces
FROM dt JOIN fs USING (word)
GROUP BY dt.doc_id
ORDER BY dt.doc_id
""")
def unigram_segment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi encoding under the trained unigram LM
    (operators/unigram.segment_unigram): per-distinct-word dynamic
    programming, joined back to the corpus — text is segmented once
    per TYPE, not per token. Hash-oracled since r9: the oracle
    replays the trained vocab (see unigram_vocab_docs) plus one
    more unrolled Viterbi block and the per-document piece sums."""
    from parlerproject_spark.operators.unigram import (segment_unigram,
                                                       train_unigram)
    d = _t(spark, sf_dir, "documents")
    vocab = train_unigram(d, vocab_size=80, n_iters=2,
                          max_piece_len=5, n_seed=150)
    # pin max_piece_len to the TRAINING value: the oracle's Viterbi
    # unroll uses piece_len=5, and segment_unigram's default (6) only
    # matches today because the vocab happens to hold no 6-char piece.
    return segment_unigram(d, vocab, max_piece_len=5).orderBy("doc_id")


@register("rag_context_budget", """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
p AS (
  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x,
         unnest(q.qv)::DOUBLE AS y
  FROM embeddings e, q
  WHERE e.vec_id <> 0),
sims AS (
  SELECT vec_id,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS sim
  FROM p GROUP BY vec_id),
topk AS (
  SELECT vec_id, sim,
         row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS rank
  FROM sims QUALIFY rank <= 8),
toks AS (
  SELECT t.vec_id, t.sim, t.rank,
         cast(len(list_filter(string_split_regex(lower(d.text),
                                                 '[^a-z0-9]+'),
                              w -> w <> '')) AS BIGINT) AS n_tokens
  FROM topk t JOIN documents d ON d.doc_id = t.vec_id),
run AS (
  SELECT vec_id, sim, rank, n_tokens,
         sum(n_tokens) OVER (ORDER BY rank
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM toks)
SELECT vec_id AS doc_id, rank, sim, n_tokens,
       cast(cum_tokens AS BIGINT) AS cum_tokens
FROM run WHERE cum_tokens <= 400
ORDER BY rank
""")
def rag_context_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval tail as one composed plan: exact cosine top-k
    (the ANN oracle path; swap knn_ivf/probe_ivf_index at scale),
    join retrieved ids to the documents table, and cut the ranked
    list at a token budget with a running-total window — the
    context-assembly step every retrieval pipeline runs between
    index probe and prompt build. The cumulative cut keeps a prefix
    of the ranking, so result rows are fully ordered and
    hash-stable."""
    from parlerproject_spark.functions.text import tokenize
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    q = _query_vec(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") != 0)
    topk = (similarity.knn_bruteforce(corpus, q, k=8)
            .withColumn("rank", F.row_number().over(
                Window.orderBy(F.col("sim").desc(), F.col("vec_id").asc()))
                .cast("long")))
    toks = (topk.join(docs, topk["vec_id"] == docs["doc_id"])
            .select("vec_id", "sim", "rank",
                    F.size(tokenize("text")).cast("long").alias("n_tokens")))
    run = toks.withColumn(
        "cum_tokens",
        F.sum("n_tokens").over(
            Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)))
    return (run.filter(F.col("cum_tokens") <= 400)
            .select(F.col("vec_id").alias("doc_id"), "rank", "sim",
                    "n_tokens", F.col("cum_tokens").cast("long"))
            .orderBy("rank"))


@register("dbscan_clusters_lsh", """
WITH RECURSIVE pl AS MATERIALIZED (
  SELECT t.tbl, p.p, d.d,
         (('0x' || substr(md5('plane:' || t.tbl || ':' || p.p || ':'
                              || d.d), 1, 12))::BIGINT
          / power(16.0, 12)) * 2.0 - 1.0 AS w
  FROM (SELECT unnest(range(0, 8)) AS tbl) t,
       (SELECT unnest(range(0, 6)) AS p) p,
       (SELECT unnest(range(0, 64)) AS d) d),
ex AS MATERIALIZED (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings),
dots AS (
  SELECT e.vec_id, pl.tbl, pl.p, sum(e.x * pl.w) AS dp
  FROM ex e JOIN pl ON pl.d = e.pos
  GROUP BY e.vec_id, pl.tbl, pl.p),
sig AS MATERIALIZED (
  SELECT vec_id, tbl,
         sum(CASE WHEN dp >= 0
                  THEN (1::BIGINT << (5 - p)) ELSE 0 END)::BIGINT AS sig
  FROM dots GROUP BY vec_id, tbl),
candb AS (
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
  FROM sig l JOIN sig r
    ON l.tbl = r.tbl AND l.sig = r.sig AND l.vec_id < r.vec_id),
pp AS (
  SELECT c.id_a, c.id_b,
         unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
  FROM candb c
  JOIN embeddings a ON a.vec_id = c.id_a
  JOIN embeddings b ON b.vec_id = c.id_b),
p AS MATERIALIZED (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
             AS sim
    FROM pp GROUP BY id_a, id_b)
  WHERE sim >= 0.3),
edges AS (
  SELECT id_a AS s, id_b AS d FROM p
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM p),
deg AS (SELECT s AS v, count(*) AS nn FROM edges GROUP BY s),
core AS (SELECT v FROM deg WHERE nn + 1 >= 5),
ce AS (
  SELECT e.s, e.d FROM edges e
  JOIN core a ON e.s = a.v JOIN core b ON e.d = b.v),
reach(v, r) AS (
  SELECT v, v FROM core
  UNION
  SELECT ce.s, reach.r FROM ce JOIN reach ON ce.d = reach.v),
corecl AS (SELECT v, min(r) AS cid FROM reach GROUP BY v),
bord AS (
  SELECT e.s AS v, min(c.cid) AS cid
  FROM edges e JOIN corecl c ON e.d = c.v
  WHERE e.s NOT IN (SELECT v FROM core)
  GROUP BY e.s),
lab AS (
  SELECT v, cid, TRUE AS is_core FROM corecl
  UNION ALL
  SELECT v, cid, FALSE AS is_core FROM bord)
SELECT emb.vec_id, cast(coalesce(l.cid, -1) AS BIGINT) AS cluster,
       coalesce(l.is_core, FALSE) AS is_core
FROM embeddings emb LEFT JOIN lab l ON emb.vec_id = l.v
ORDER BY emb.vec_id
""")
def dbscan_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over LSH-bucketed candidate pairs — the at-scale
    density-clustering path (pair cost follows bucket density, not
    n²), hash-verified end-to-end: the oracle replays plane family,
    signatures, bucket join, cosine verify, then the same core/CC/
    border/noise algebra as the exact-mode oracle. Recall < exact by
    design (pytest proves the noise-superset invariant)."""
    from parlerproject_spark.operators.density import dbscan
    return (dbscan(_t(spark, sf_dir, "embeddings"),
                   sim_threshold=0.3, min_pts=5, mode="lsh", dim=64)
            .orderBy("vec_id"))


@register("density_topic_assignments", """
WITH RECURSIVE samp AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE ('0x' || substr(md5(cast(vec_id AS VARCHAR)), 1, 15))::BIGINT
        % 2147483647 % 4 = 0),
p AS (
  SELECT id_a, id_b FROM (
    SELECT ia AS id_a, ib AS id_b,
           sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim
    FROM (SELECT a.vec_id AS ia, b.vec_id AS ib,
                 unnest(a.embedding)::DOUBLE AS x,
                 unnest(b.embedding)::DOUBLE AS y
          FROM samp a JOIN samp b ON a.vec_id < b.vec_id)
    GROUP BY ia, ib)
  WHERE sim >= 0.3),
edges AS (
  SELECT id_a AS s, id_b AS d FROM p
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM p),
deg AS (SELECT s AS v, count(*) AS nn FROM edges GROUP BY s),
core AS (SELECT v FROM deg WHERE nn + 1 >= 3),
ce AS (
  SELECT e.s, e.d FROM edges e
  JOIN core a ON e.s = a.v JOIN core b ON e.d = b.v),
reach(v, r) AS (
  SELECT v, v FROM core
  UNION
  SELECT ce.s, reach.r FROM ce JOIN reach ON ce.d = reach.v),
corecl AS (SELECT v, min(r) AS cid FROM reach GROUP BY v),
exi AS (
  SELECT cid, v, row_number() OVER (ORDER BY cid, v) - 1 AS idx
  FROM (SELECT cid, v,
               row_number() OVER (PARTITION BY cid ORDER BY v) AS rn
        FROM corecl)
  WHERE rn <= 4),
exv AS (
  SELECT i.idx, i.cid, e.pos, e.x
  FROM exi i JOIN (
    SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS pos,
           unnest(embedding)::DOUBLE AS x
    FROM embeddings) e ON e.vec_id = i.v),
exu AS (
  SELECT idx, cid, pos,
         CASE WHEN nrm > 0 THEN x / nrm ELSE x END AS cu
  FROM (SELECT idx, cid, pos, x,
               sqrt(sum(x * x) OVER (PARTITION BY idx)) AS nrm
        FROM exv)),
ax AS (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings),
best AS (
  SELECT vec_id, cid, s, nv,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY s DESC, idx ASC) AS rn
  FROM (SELECT a.vec_id, u.idx, u.cid,
               sum(a.x * u.cu) AS s, sqrt(sum(a.x * a.x)) AS nv
        FROM ax a JOIN exu u USING (pos)
        GROUP BY a.vec_id, u.idx, u.cid))
SELECT emb.vec_id,
       cast(coalesce(CASE WHEN b.nv > 0 AND b.s / b.nv >= 0.15
                          THEN b.cid ELSE -1 END, -1) AS BIGINT) AS topic
FROM embeddings emb
LEFT JOIN (SELECT vec_id, cid, s, nv FROM best WHERE rn = 1) b
  ON emb.vec_id = b.vec_id
ORDER BY emb.vec_id
""")
def density_topic_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-fit / full-assign density topics
    (density.sampled_density_assign) — the HDBSCAN-analogue half of
    M3 (reference code/bertopicTest.py:53-61), distributed the way
    production BERTopic actually scales: DBSCAN fits a 1/4 hash
    sample, per-cluster core exemplars collect driver-side
    (model-sized), and the FULL corpus assigns by best-exemplar
    cosine in one broadcast Arrow map, below-threshold best -> -1.
    The oracle replays the sample, the exact eps-graph, the
    recursive-CTE components, exemplar pick, and the argmax
    assignment; the int topic output makes ulp-level float drift
    harmless away from exact argmax ties, which identical duplicate
    vectors resolve identically on both engines."""
    from parlerproject_spark.operators.density import (
        sampled_density_assign)
    return (sampled_density_assign(
                _t(spark, sf_dir, "embeddings"), sample_mod=4,
                sim_threshold=0.3, min_pts=3, assign_threshold=0.15,
                exemplars_per_cluster=4, mode="exact")
            .orderBy("vec_id"))


def _hard_neg_cell_oracle(k: int = 5, num_cells: int = 8, nprobe: int = 3,
                          iters: int = 3, mod: int = 8, round_c: int = 6,
                          sim_hi: float = 0.98) -> str:
    """Cell-probed hard-negative oracle: rounded-Lloyd cells (shared
    block, head init over the md5 sample), candidate argmax
    assignment, anchor top-nprobe probes, different-label filter,
    rounded-sim cap + deterministic window."""
    head = f"""
WITH ex AS MATERIALIZED (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings),
s0 AS (
  SELECT vec_id FROM embeddings
  WHERE ('0x' || substr(md5(cast(vec_id AS VARCHAR)), 1, 15))::BIGINT
        % 2147483647 % {mod} = 0),
samp AS (
  SELECT vec_id FROM embeddings
  WHERE (SELECT count(*) FROM s0) < {2 * num_cells}
  UNION ALL
  SELECT vec_id FROM s0 WHERE (SELECT count(*) FROM s0) >= {2 * num_cells}),
sx AS (SELECT e.vec_id, e.pos, e.x FROM ex e JOIN samp USING (vec_id)),
c0 AS (
  SELECT r.t, e.pos, e.x AS c
  FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS t
        FROM samp) r
  JOIN ex e USING (vec_id)
  WHERE r.t < {num_cells})"""
    body = _lloyd_iters_sql(iters, round_c)
    tail = f""",
uf AS (
  SELECT t, pos, CASE WHEN nrm > 0 THEN c / nrm ELSE c END AS cu
  FROM (SELECT t, pos, c,
               sqrt(sum(c * c) OVER (PARTITION BY t)) AS nrm
        FROM c{iters})),
asg AS MATERIALIZED (
  SELECT vec_id, t FROM (
    SELECT e.vec_id, u.t,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY sum(e.x * u.cu) DESC, u.t ASC) AS rn
    FROM ex e JOIN uf u USING (pos)
    GROUP BY e.vec_id, u.t) WHERE rn = 1),
probes AS MATERIALIZED (
  SELECT vec_id, t FROM (
    SELECT e.vec_id, u.t,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY sum(e.x * u.cu) DESC, u.t ASC) AS rn
    FROM ex e JOIN uf u USING (pos)
    GROUP BY e.vec_id, u.t) WHERE rn <= {nprobe}),
cp AS (
  SELECT DISTINCT pr.vec_id AS anchor_id, a2.vec_id AS neg_id
  FROM probes pr
  JOIN asg a2 ON a2.t = pr.t
  JOIN embeddings ea ON ea.vec_id = pr.vec_id
  JOIN embeddings eb ON eb.vec_id = a2.vec_id
  WHERE pr.vec_id <> a2.vec_id AND ea.label <> eb.label),
pp AS (
  SELECT c.anchor_id, c.neg_id,
         unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
  FROM cp c
  JOIN embeddings a ON a.vec_id = c.anchor_id
  JOIN embeddings b ON b.vec_id = c.neg_id),
sc AS (
  SELECT anchor_id, neg_id,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS sim
  FROM pp GROUP BY anchor_id, neg_id),
r AS (
  SELECT anchor_id, neg_id, sim,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY sim DESC, neg_id ASC) AS rank
  FROM sc WHERE sim < {sim_hi})
SELECT anchor_id, neg_id, sim, rank
FROM r WHERE rank <= {k}
ORDER BY anchor_id, rank"""
    return head + body + tail


@register("hard_negatives_cell", _hard_neg_cell_oracle())
def hard_negatives_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-probed hard-negative mining — the at-scale mode of
    hard_negatives_embeddings (candidate generation reads
    ~nprobe/num_cells of the cross product), hash-verified via the
    rounded-Lloyd contract: the oracle replays cell training,
    candidate assignment, anchor probes, the different-label filter,
    and the deterministic rounded-sim window."""
    from parlerproject_spark.operators.mining import hard_negatives
    return (hard_negatives(_t(spark, sf_dir, "embeddings"),
                           k=5, group_col="label", sim_hi=0.98,
                           mode="cell", num_cells=8, nprobe=3,
                           round_c=6)
            .orderBy("anchor_id", "rank"))


@register("funnel_view_click_purchase", """
WITH base AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type IN ('view', 'click', 'purchase')),
t1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id),
t2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t
  WHERE e.event_type = 'click' GROUP BY e.user_id),
t3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT b.user_id,
       cast(CASE WHEN t3.t IS NOT NULL THEN 3
                 WHEN t2.t IS NOT NULL THEN 2
                 WHEN t1.t IS NOT NULL THEN 1
                 ELSE 0 END AS INTEGER) AS depth,
       t3.t IS NOT NULL AS converted
FROM base b
LEFT JOIN t1 ON t1.user_id = b.user_id
LEFT JOIN t2 ON t2.user_id = b.user_id
LEFT JOIN t3 ON t3.user_id = b.user_id
ORDER BY b.user_id
""")
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (analytics.funnel): view → click → purchase
    with strictly-increasing timestamps. The engine folds each
    user's sorted funnel events in-array (one groupBy, no per-step
    self-joins); the oracle uses the equivalent greedy
    earliest-conversion chain as per-step min-subqueries — greedy
    matching is optimal for existence of an ordered chain, so the
    two constructions must agree exactly."""
    from parlerproject_spark.operators.analytics import funnel
    ev = _t(spark, sf_dir, "events")
    return (funnel(ev, ["view", "click", "purchase"])
            .orderBy("user_id"))


@register("cohort_retention_weekly", """
WITH active AS (
  SELECT DISTINCT user_id AS u, date_trunc('week', ts)::DATE AS p
  FROM events),
f0 AS (SELECT u, min(p) AS cohort FROM active GROUP BY u)
SELECT f.cohort, cast((a.p - f.cohort) / 7 AS BIGINT) AS "offset",
       cast(count(*) AS BIGINT) AS n_users
FROM active a JOIN f0 f ON a.u = f.u
GROUP BY f.cohort, "offset"
ORDER BY cohort, "offset"
""")
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle (analytics.cohort_retention):
    cohort = first active ISO week, offset = weeks since cohort,
    n_users = cohort members active that week. Two keyed
    aggregations, no windows, no self-joins."""
    from parlerproject_spark.operators.analytics import cohort_retention
    ev = _t(spark, sf_dir, "events")
    return (cohort_retention(ev, period="week")
            .orderBy("cohort", "offset"))


@register("rolling_features_events", """
SELECT user_id, ts,
       cast(count(*) OVER wr AS BIGINT) AS roll_n,
       round(sum(value::DOUBLE) OVER wr, 4) AS roll_sum,
       min(value::DOUBLE) OVER wr AS roll_min,
       max(value::DOUBLE) OVER wr AS roll_max,
       lag(value::DOUBLE, 1) OVER wl AS lag_1,
       lag(value::DOUBLE, 2) OVER wl AS lag_2
FROM events
WINDOW
  wr AS (PARTITION BY user_id ORDER BY epoch(ts)
         RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW),
  wl AS (PARTITION BY user_id ORDER BY epoch(ts), value::DOUBLE)
ORDER BY user_id, ts
""")
def rolling_features_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window feature matrix (analytics.rolling_features):
    7-day RANGE-frame count/sum/min/max plus two lags per event —
    the per-key forecasting features, all served by one (user, ts)
    exchange. Same-instant ties order by value in the lag window on
    both engines."""
    from parlerproject_spark.operators.analytics import rolling_features
    ev = _t(spark, sf_dir, "events")
    return (rolling_features(ev, days=7, n_lags=2)
            .orderBy("user_id", "ts"))


# ---------------------------------------------------------------------------
# Round 5 additions: graph structure, behavioral models, corpus diagnostics
# ---------------------------------------------------------------------------

_EDGE_CTE = """
keyed AS (
  SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS obj,
         ts, event_id, user_id AS dst
  FROM events
  WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        IS NOT NULL),
edges AS (
  SELECT DISTINCT src, dst
  FROM (SELECT lag(dst) OVER (PARTITION BY obj ORDER BY ts, event_id) AS src,
               dst
        FROM keyed)
  WHERE src IS NOT NULL AND src <> dst),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst)
"""


@register("markov_transitions_events", """
WITH seq AS (
  SELECT event_type AS nxt,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS cur
  FROM events),
c AS (SELECT cur, nxt, count(*) AS n
      FROM seq WHERE cur IS NOT NULL GROUP BY cur, nxt)
SELECT cur, nxt, cast(n AS BIGINT) AS n,
       round(cast(n AS DOUBLE) / sum(n) OVER (PARTITION BY cur), 6) AS p
FROM c ORDER BY cur, nxt
""")
def markov_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences (analytics.markov_transitions): one bounded lag window
    per user + one aggregation over the |states|^2 space. The
    next-action behavioral model every event warehouse derives."""
    from parlerproject_spark.operators.analytics import markov_transitions
    return (markov_transitions(_t(spark, sf_dir, "events"))
            .orderBy("cur", "nxt"))


@register("corpus_zipf_stats_docs", """
WITH tf AS (
  SELECT t AS term, count(*) AS tf
  FROM (SELECT unnest(list_filter(string_split_regex(lower(text),
                                                     '[^a-z0-9]+'),
                      x -> x <> '')) AS t
        FROM documents)
  GROUP BY t),
tot AS (SELECT cast(count(*) AS BIGINT) AS vocab_size,
               cast(sum(tf) AS BIGINT) AS total_tokens FROM tf),
head AS (SELECT tf, row_number() OVER (ORDER BY tf DESC, term ASC) AS rank
         FROM tf ORDER BY tf DESC, term ASC LIMIT 1000),
slope AS (SELECT round(regr_slope(ln(tf), ln(rank)), 6) AS zipf_slope
          FROM head),
ent AS (SELECT round(-sum(p * ln(p)), 6) AS unigram_entropy
        FROM (SELECT tf / (SELECT cast(total_tokens AS DOUBLE) FROM tot)
                     AS p
              FROM tf))
SELECT vocab_size, total_tokens, zipf_slope, unigram_entropy
FROM tot, slope, ent
""")
def corpus_zipf_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level Zipf-slope + unigram-entropy diagnostic
    (text_analysis.corpus_zipf_stats): one token count, a top-1000
    head fit (regr_slope over log-log), one entropy aggregate —
    the cheap pretraining-corpus health gate."""
    return text_analysis.corpus_zipf_stats(_t(spark, sf_dir, "documents"))


@register("triangle_counts_events", """
WITH """ + _EDGE_CTE + """,
deg AS (SELECT node, count(*) AS degree
        FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        GROUP BY node),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
pn AS (SELECT node, count(*) AS triangles
       FROM (SELECT x AS node FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri)
       GROUP BY node)
SELECT d.node, cast(d.degree AS BIGINT) AS degree,
       cast(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
       round(CASE WHEN d.degree >= 2
                  THEN 2.0 * coalesce(pn.triangles, 0)
                       / (d.degree * (d.degree - 1))
                  ELSE 0.0 END, 6) AS clustering
FROM deg d LEFT JOIN pn ON pn.node = d.node
ORDER BY d.node
""")
def triangle_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + clustering coefficient over the
    co-interaction graph (graph.triangle_counts): degree-oriented
    wedge join — O(m^1.5) candidates even on power-law graphs. The
    oracle enumerates triangles canonically (x<y<z 3-way join);
    both count each triangle exactly once."""
    from parlerproject_spark.operators.graph import (cointeraction_edges,
                                                     triangle_counts)
    edges = cointeraction_edges(_t(spark, sf_dir, "events"))
    return (triangle_counts(edges)
            .select(F.col("node"), F.col("degree").cast("long").alias("degree"),
                    "triangles", "clustering")
            .orderBy("node"))


@register("label_propagation_events", """
WITH """ + _EDGE_CTE + """,
sym AS (SELECT a AS src, b AS dst FROM und
        UNION ALL SELECT b, a FROM und),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
n1 AS (SELECT s.src AS node, l.label, count(*) AS cnt
       FROM sym s JOIN l0 l ON l.node = s.dst GROUP BY s.src, l.label),
l1 AS (SELECT node, label FROM (
         SELECT node, label,
                row_number() OVER (PARTITION BY node
                                   ORDER BY cnt DESC, label ASC) AS rn
         FROM n1) WHERE rn = 1),
n2 AS (SELECT s.src AS node, l.label, count(*) AS cnt
       FROM sym s JOIN l1 l ON l.node = s.dst GROUP BY s.src, l.label),
l2 AS (SELECT node, label FROM (
         SELECT node, label,
                row_number() OVER (PARTITION BY node
                                   ORDER BY cnt DESC, label ASC) AS rn
         FROM n2) WHERE rn = 1),
n3 AS (SELECT s.src AS node, l.label, count(*) AS cnt
       FROM sym s JOIN l2 l ON l.node = s.dst GROUP BY s.src, l.label),
l3 AS (SELECT node, label FROM (
         SELECT node, label,
                row_number() OVER (PARTITION BY node
                                   ORDER BY cnt DESC, label ASC) AS rn
         FROM n3) WHERE rn = 1)
SELECT node, label FROM l3 ORDER BY node
""")
def label_propagation_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities over the
    co-interaction graph (graph.label_propagation, 3 rounds,
    deterministic max-count/min-label tie-break). Oracle unrolls
    the identical rounds as CTEs."""
    from parlerproject_spark.operators.graph import (cointeraction_edges,
                                                     label_propagation)
    edges = cointeraction_edges(_t(spark, sf_dir, "events"))
    return label_propagation(edges, iters=3).orderBy("node")


@register("item_cf_similarity_events", """
WITH rated AS (
  SELECT user_id AS u,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
         count(*) AS r
  FROM events
  WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
  GROUP BY 1, 2),
capped AS (SELECT u, item, r FROM (
  SELECT *, row_number() OVER (PARTITION BY u
                               ORDER BY r DESC, item ASC) AS rk
  FROM rated) WHERE rk <= 20),
norms AS (SELECT item, sqrt(sum(r * r)) AS nrm FROM capped GROUP BY item),
dots AS (SELECT a.item AS item_a, b.item AS item_b, sum(a.r * b.r) AS dot
         FROM capped a JOIN capped b ON a.u = b.u AND a.item <> b.item
         GROUP BY 1, 2),
sims AS (SELECT item_a, item_b,
                round(dot / (na.nrm * nb.nrm), 6) AS sim
         FROM dots
         JOIN norms na ON na.item = item_a
         JOIN norms nb ON nb.item = item_b)
SELECT item_a, item_b, sim, cast(rk AS INTEGER) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY item_a
                               ORDER BY sim DESC, item_b ASC) AS rk
  FROM sims)
WHERE rk <= 5 ORDER BY item_a, rk
""")
def item_cf_similarity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-to-item collaborative filtering over props.k
    interactions (analytics.item_cooccurrence_similarity): cosine
    over user-count vectors with the hyperactive-user cap (<=20
    items/user) that keeps candidate pairs linear in users at
    100 TB. Top-5 neighbors per item, rounded-sim + id
    tie-break."""
    from parlerproject_spark.operators.analytics import (
        item_cooccurrence_similarity)
    return (item_cooccurrence_similarity(_t(spark, sf_dir, "events"))
            .orderBy("item_a", "rk"))


@register("stupid_backoff_docs", """
WITH tk AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents),
trn AS (SELECT ts FROM tk WHERE CAST(substr(source, 4) AS INT) < 10),
tst AS (SELECT doc_id, ts FROM tk
        WHERE CAST(substr(source, 4) AS INT) >= 10 AND len(ts) >= 3),
uni AS (SELECT w, count(*) AS c1
        FROM (SELECT unnest(ts) AS w FROM trn) GROUP BY w),
scal AS (SELECT cast(sum(c1) AS DOUBLE) AS N,
                cast(count(*) AS DOUBLE) AS V FROM uni),
bidx AS (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
         FROM trn WHERE len(ts) >= 2),
big AS (SELECT ts[i] AS w1, ts[i + 1] AS w2, count(*) AS c2
        FROM bidx GROUP BY 1, 2),
tidx AS (SELECT ts, unnest(generate_series(1, len(ts) - 2)) AS i
         FROM trn WHERE len(ts) >= 3),
tri AS (SELECT ts[i] AS w1, ts[i + 1] AS w2, ts[i + 2] AS w3,
               count(*) AS c3
        FROM tidx GROUP BY 1, 2, 3),
didx AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 2)) AS i
         FROM tst),
dtri AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2, ts[i + 2] AS w3
         FROM didx),
sc AS (
  SELECT d.doc_id,
         ln(CASE WHEN t.c3 IS NOT NULL THEN t.c3 / b.c2
                 WHEN b2.c2 IS NOT NULL THEN 0.4 * b2.c2 / u2.c1
                 ELSE 0.4 * 0.4 * (coalesce(u3.c1, 0) + 1.0)
                      / (s.N + s.V) END) AS lp
  FROM dtri d
  LEFT JOIN tri t ON t.w1 = d.w1 AND t.w2 = d.w2 AND t.w3 = d.w3
  LEFT JOIN big b ON b.w1 = d.w1 AND b.w2 = d.w2
  LEFT JOIN big b2 ON b2.w1 = d.w2 AND b2.w2 = d.w3
  LEFT JOIN uni u2 ON u2.w = d.w2
  LEFT JOIN uni u3 ON u3.w = d.w3
  CROSS JOIN scal s)
SELECT doc_id, cast(count(*) AS BIGINT) AS n_trigrams,
       round(avg(lp), 6) AS sb_logp
FROM sc GROUP BY doc_id ORDER BY doc_id
""")
def stupid_backoff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram stupid-backoff LM (Brants et al. 2007) trained on the
    src0-src9 half of the corpus, scoring the src10-src19 half
    (text_analysis.stupid_backoff_score) — the cross-split setup
    makes every backoff path execute. Count tables are keyed
    shuffle joins (corpus-scale model, never broadcast)."""
    docs = _t(spark, sf_dir, "documents")
    src_n = F.expr("cast(substring(source, 4, 10) AS int)")
    train = docs.filter(src_n < 10)
    score = docs.filter(src_n >= 10)
    return (text_analysis.stupid_backoff_score(score, train)
            .orderBy("doc_id"))


@register("textrank_keywords_docs", """
WITH tk AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> length(t) >= 3) AS ts
  FROM documents),
idx1 AS (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
         FROM tk WHERE len(ts) >= 2),
p1 AS (SELECT least(ts[i], ts[i + 1]) AS a,
              greatest(ts[i], ts[i + 1]) AS b FROM idx1),
idx2 AS (SELECT ts, unnest(generate_series(1, len(ts) - 2)) AS i
         FROM tk WHERE len(ts) >= 3),
p2 AS (SELECT least(ts[i], ts[i + 2]) AS a,
              greatest(ts[i], ts[i + 2]) AS b FROM idx2),
und AS (SELECT a, b, count(*) AS w
        FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
        WHERE a <> b GROUP BY a, b HAVING count(*) >= 2),
sym AS (SELECT a AS src, b AS dst, w FROM und
        UNION ALL SELECT b, a, w FROM und),
nodes AS (SELECT DISTINCT src AS node FROM sym),
n AS (SELECT cast(count(*) AS DOUBLE) AS nn FROM nodes),
outd AS (SELECT src, cast(sum(w) AS DOUBLE) AS deg
         FROM sym GROUP BY src),
r0 AS (SELECT node, 1.0 / nn AS rank FROM nodes CROSS JOIN n),
c1 AS (SELECT s.dst AS node, sum(r.rank * s.w / o.deg) AS sm
       FROM sym s JOIN r0 r ON r.node = s.src
       JOIN outd o ON o.src = s.src GROUP BY s.dst),
r1 AS (SELECT nodes.node, 0.15 / nn + 0.85 * coalesce(c1.sm, 0) AS rank
       FROM nodes CROSS JOIN n LEFT JOIN c1 ON c1.node = nodes.node),
c2 AS (SELECT s.dst AS node, sum(r.rank * s.w / o.deg) AS sm
       FROM sym s JOIN r1 r ON r.node = s.src
       JOIN outd o ON o.src = s.src GROUP BY s.dst),
r2 AS (SELECT nodes.node, 0.15 / nn + 0.85 * coalesce(c2.sm, 0) AS rank
       FROM nodes CROSS JOIN n LEFT JOIN c2 ON c2.node = nodes.node),
c3 AS (SELECT s.dst AS node, sum(r.rank * s.w / o.deg) AS sm
       FROM sym s JOIN r2 r ON r.node = s.src
       JOIN outd o ON o.src = s.src GROUP BY s.dst),
r3 AS (SELECT nodes.node, 0.15 / nn + 0.85 * coalesce(c3.sm, 0) AS rank
       FROM nodes CROSS JOIN n LEFT JOIN c3 ON c3.node = nodes.node)
SELECT node AS term, round(rank, 6) AS rank
FROM r3 ORDER BY round(rank, 6) DESC, term ASC LIMIT 25
""")
def textrank_keywords_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TextRank keywords
    (text_analysis.textrank_keywords): weighted PageRank over the
    window-2 word co-occurrence graph (len>=3 tokens, support>=2
    edges), 3 fixed iterations, top-25 by (rank, term). The oracle
    rebuilds the graph and unrolls the weighted rank in CTE SQL."""
    return (text_analysis.textrank_keywords(
        _t(spark, sf_dir, "documents"))
        .orderBy(F.col("rank").desc(), F.col("term").asc()))


@register("compression_ratio_docs", None)
def compression_ratio_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc zlib compression ratio + band filter
    (functions/py_udfs.zlib_ratio) — the CCNet-style template/noise
    quality signal. Python is unavoidable (no SQL zlib), so it rides
    ONE Arrow-batched scalar pandas UDF over (doc_id, text) only;
    rows-only driver check, with tests/test_udf_layer.py computing
    the identical ratios in-process as the reference."""
    from parlerproject_spark.functions.py_udfs import zlib_ratio
    docs = _t(spark, sf_dir, "documents")
    zr = zlib_ratio()
    return (docs.select("doc_id", F.round(zr(F.col("text")), 6)
                        .alias("zratio"))
            .withColumn("keep",
                        (F.col("zratio") >= 0.3) & (F.col("zratio") <= 0.9))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Round-5 session-3: spatial join, CUSUM, int8 quantization, BFS,
# mixture weights, A/B testing
# ---------------------------------------------------------------------------

@register("spatial_user_pairs", """
WITH u AS (SELECT DISTINCT user_id FROM events),
p AS (
  SELECT user_id,
         (('0x' || substr(md5('geo-lat:' || user_id), 1, 15))::BIGINT
          % 2147483647 % 12001) / 100.0 - 60.0 AS lat,
         (('0x' || substr(md5('geo-lon:' || user_id), 1, 15))::BIGINT
          % 2147483647 % 34001) / 100.0 - 170.0 AS lon
  FROM u)
SELECT a.user_id AS id_a, b.user_id AS id_b,
       round(2 * 6371.0 * asin(sqrt(
           sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
           + cos(radians(a.lat)) * cos(radians(b.lat))
             * sin(radians(b.lon - a.lon) / 2)
             * sin(radians(b.lon - a.lon) / 2))), 4) AS dist_km
FROM p a JOIN p b ON a.user_id < b.user_id
WHERE round(2 * 6371.0 * asin(sqrt(
          sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
          + cos(radians(a.lat)) * cos(radians(b.lat))
            * sin(radians(b.lon - a.lon) / 2)
            * sin(radians(b.lon - a.lon) / 2))), 4) <= 500.0
ORDER BY id_a, id_b
""")
def spatial_user_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius self-join over user locations (operators/spatial
    .grid_distance_pairs): users within 500 km, via a 3x3
    neighbor-cell equi-join — never a cross join. Locations are
    md5-derived decimal degrees (lat in [-60, 60], lon in
    [-170, 170.01]) so the oracle can rebuild them; cell_deg=9.0
    satisfies the completeness contract at the worst-case latitude
    (500 km / (111.32 km/deg x cos 60deg) = 8.98 < 9). The oracle is
    an INDEPENDENT construction — a brute-force O(n^2) distance
    join — so the hash match proves the bucketed join is exact,
    the same exact-vs-bucketed strategy as dbscan_clusters_lsh."""
    from parlerproject_spark.functions.text import stable_hash31
    from parlerproject_spark.operators.spatial import grid_distance_pairs
    users = _t(spark, sf_dir, "events").select("user_id").distinct()
    uid = F.col("user_id").cast("string")
    pts = users.select(
        F.col("user_id").alias("id"),
        ((stable_hash31(F.concat(F.lit("geo-lat:"), uid)) % 12001)
         / F.lit(100.0) - F.lit(60.0)).alias("lat"),
        ((stable_hash31(F.concat(F.lit("geo-lon:"), uid)) % 34001)
         / F.lit(100.0) - F.lit(170.0)).alias("lon"))
    return (grid_distance_pairs(pts, radius_km=500.0, cell_deg=9.0)
            .orderBy("id_a", "id_b"))


@register("cusum_changepoints_events", """
WITH RECURSIVE
ordered AS (
  SELECT user_id, value::DOUBLE AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS i
  FROM events),
st1 AS (SELECT user_id, avg(v) AS mu, count(*) AS n
        FROM ordered GROUP BY user_id),
st2 AS (SELECT o.user_id, mu, n,
               sqrt(sum((v - mu) * (v - mu)) / n) AS sd
        FROM ordered o JOIN st1 USING (user_id)
        GROUP BY o.user_id, mu, n),
z AS (SELECT o.user_id, i, (v - mu) / sd AS z
      FROM ordered o JOIN st2 USING (user_id)
      WHERE n >= 5 AND sd > 0),
cusum(user_id, i, s) AS (
  SELECT user_id, i, greatest(0.0, z - 0.5) FROM z WHERE i = 1
  UNION ALL
  SELECT zz.user_id, zz.i, greatest(0.0, c.s + zz.z - 0.5)
  FROM cusum c JOIN z zz
    ON zz.user_id = c.user_id AND zz.i = c.i + 1),
m AS (SELECT user_id, max(s) AS ms, count(*) AS n
      FROM cusum GROUP BY user_id)
SELECT c.user_id,
       cast(m.n AS BIGINT) AS n_events,
       round(m.ms, 6) AS max_cusum,
       cast(CASE WHEN m.ms > 0
                 THEN min(CASE WHEN c.s = m.ms THEN c.i END)
                 ELSE 0 END AS BIGINT) AS peak_idx,
       cast(sum(CASE WHEN c.s > 5.0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_alarms
FROM cusum c JOIN m USING (user_id)
GROUP BY c.user_id, m.ms, m.n
ORDER BY user_id
""")
def cusum_changepoints_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM drift detection (operators/timeseries
    .cusum_changepoints): standardized one-sided CUSUM fold over
    each user's time-ordered value sequence — peak statistic, peak
    position, alarm count. Spark folds the recursion with one JVM
    `aggregate` HOF per user (one exchange total); the oracle
    replays it as a recursive CTE stepping i -> i+1. First-peak
    semantics: the engine's strict-improvement argmax equals the
    oracle's min(i at max) whenever the max is positive, and both
    pin peak_idx=0 when the statistic never rises above zero."""
    from parlerproject_spark.operators.timeseries import cusum_changepoints
    return (cusum_changepoints(_t(spark, sf_dir, "events"))
            .orderBy("user_id"))


@register("int8_quantize_embeddings", """
WITH ex AS (
  SELECT vec_id,
         unnest(range(1, len(embedding) + 1)) AS d,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings),
sc AS (SELECT d, max(abs(x)) / 127.0 AS scale FROM ex GROUP BY d),
coded AS (
  SELECT vec_id, x, scale,
         CASE WHEN scale > 0
              THEN greatest(-127, least(127,
                   cast(round(x / scale, 0) AS BIGINT)))
              ELSE 0 END AS code
  FROM ex JOIN sc USING (d))
SELECT vec_id,
       cast(count(*) AS BIGINT) AS n_dims,
       cast(sum(code) AS BIGINT) AS code_sum,
       cast(sum(abs(code)) AS BIGINT) AS code_abs_sum,
       round(avg((x - code * scale) * (x - code * scale)), 6)
           AS recon_mse
FROM coded
GROUP BY vec_id
ORDER BY vec_id
""")
def int8_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dimension int8 quantization of the embedding
    store (operators/similarity.int8_quantize) — the 4x serving
    compression pass. Codes are exact integers on both engines
    (identical absmax -> identical scale -> identical round), so
    code_sum/code_abs_sum hash-pin the entire code matrix without
    shipping it through the compare; recon_mse audits the error."""
    from parlerproject_spark.operators.similarity import int8_quantize
    return (int8_quantize(_t(spark, sf_dir, "embeddings"))
            .orderBy("vec_id"))


@register("mixture_weights_sources", """
WITH per AS (
  SELECT source,
         cast(sum(len(string_split_regex(trim(text), '\\s+')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
tot AS (SELECT sum(n_tokens) AS tt FROM per),
pa AS (
  SELECT source, n_tokens, n_tokens / tt AS p_raw,
         pow(n_tokens / tt, 0.7) AS pa
  FROM per CROSS JOIN tot),
z AS (SELECT sum(pa) AS z FROM pa)
SELECT source, n_tokens,
       round(p_raw, 6) AS p_raw,
       round(pa / z, 6) AS weight,
       cast(round(pa / z * 1000000.0, 0) AS BIGINT) AS budget_tokens,
       round(pa / z * 1000000.0 / n_tokens, 6) AS epochs
FROM pa CROSS JOIN z
ORDER BY source
""")
def mixture_weights_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data-mixture weights per source domain
    (operators/sampling.mixture_weights, alpha=0.7, budget=1M
    tokens) — the GPT-3/XLM-R domain-sampling scheme: token share
    flattened by p^alpha, renormalized, apportioned to a budget and
    re-expressed as per-domain epochs."""
    from parlerproject_spark.operators.sampling import mixture_weights
    return (mixture_weights(_t(spark, sf_dir, "documents"))
            .orderBy("source"))


@register("epochs_to_exhaust_sources", """
WITH fp AS (
  SELECT source AS g, doc_id AS i,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f,
         len(list_filter(string_split_regex(text, '\\s+'),
                         t -> t <> '')) AS n_tok
  FROM documents),
marked AS (
  SELECT g, n_tok,
         row_number() OVER (PARTITION BY f ORDER BY i) AS rn
  FROM fp),
per AS (
  SELECT g, count(*)::BIGINT AS n_docs,
         sum(n_tok)::BIGINT AS raw_tokens,
         sum(CASE WHEN rn = 1 THEN n_tok ELSE 0 END)::BIGINT
           AS effective_tokens
  FROM marked GROUP BY g),
tot AS (SELECT sum(power(effective_tokens::DOUBLE, 0.7)) AS z,
               sum(effective_tokens)::DOUBLE AS eff_total FROM per)
SELECT g AS source, n_docs, raw_tokens, effective_tokens,
       round(1.0 - effective_tokens / raw_tokens, 6) AS dup_token_share,
       round(power(effective_tokens::DOUBLE, 0.7) / z, 6)
         AS budget_share,
       round(4.0 * eff_total * (power(effective_tokens::DOUBLE, 0.7) / z)
             / effective_tokens, 6) AS epochs,
       round(4.0 * eff_total * (power(effective_tokens::DOUBLE, 0.7) / z)
             / effective_tokens, 6) > 4.0 AS over_plateau
FROM per CROSS JOIN tot
ORDER BY source
""")
def epochs_to_exhaust_sources(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Data-constrained scaling audit
    (operators/sampling.epochs_to_exhaust, Muennighoff et al.
    2023): per-source DEDUP-EFFECTIVE token mass (md5-canonical
    docs only), duplicate token share, τ=0.7 budget share, and the
    epochs a 4-epoch-plateau budget implies — the honest companion
    of mixture_weights' raw-token epochs; over_plateau flags
    sources being repeated past the value plateau."""
    from parlerproject_spark.operators.sampling import epochs_to_exhaust
    return (epochs_to_exhaust(_t(spark, sf_dir, "documents"))
            .orderBy("source"))


@register("user_entropy_events", """
WITH g AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY 1, 2),
t AS (
  SELECT user_id, c,
         sum(c) OVER (PARTITION BY user_id) AS n
  FROM g)
SELECT user_id, cast(max(n) AS BIGINT) AS n_events,
       count(*)::BIGINT AS n_types,
       round(sum(-(c * 1.0 / n) * ln(c * 1.0 / n)), 6) AS entropy
FROM t GROUP BY user_id
ORDER BY user_id
""")
def user_entropy_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type mix
    (operators/analytics.behavioral_entropy) — the behavioral-
    diversity axis segmentation and bot detection rank on (all-one-
    type scripted traffic reads H = 0). One (user, type) map-side-
    combined count; per-user totals ride a window over the same
    user-keyed exchange."""
    from parlerproject_spark.operators.analytics import (
        behavioral_entropy)
    return (behavioral_entropy(_t(spark, sf_dir, "events"))
            .orderBy("user_id"))


@register("activity_profile_events", """
WITH per AS (
  SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hour,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2),
tot AS (SELECT sum(n)::DOUBLE AS t FROM per),
grid AS (
  SELECT d.dow, h.hour
  FROM (SELECT unnest(range(1, 8)) AS dow) d,
       (SELECT unnest(range(0, 24)) AS hour) h),
sc AS (
  SELECT g.dow, g.hour, coalesce(per.n, 0)::BIGINT AS n, t,
         coalesce(per.n, 0) / t AS share
  FROM grid g CROSS JOIN tot
  LEFT JOIN per ON per.dow = g.dow AND per.hour = g.hour),
c2 AS (
  SELECT sum(t * (share - 1.0 / 168.0) * (share - 1.0 / 168.0)
             * 168.0) AS chi2
  FROM sc)
SELECT cast(dow AS BIGINT) AS dow, cast(hour AS BIGINT) AS hour, n,
       round(share, 6) AS share, round(chi2, 6) AS chi2
FROM sc CROSS JOIN c2
ORDER BY dow, hour
""")
def activity_profile_events(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heat profile with global
    uniformity chi-square (operators/analytics.activity_profile):
    the weekly-rhythm fingerprint behind load shaping and anomaly
    baselines; empty calendar slots still contribute their
    (0 − 1/168)² term via the full grid. One map-side-combined agg
    collapses the corpus to ≤168 rows."""
    from parlerproject_spark.operators.analytics import activity_profile
    return (activity_profile(_t(spark, sf_dir, "events"))
            .withColumn("dow", F.col("dow").cast("long"))
            .withColumn("hour", F.col("hour").cast("long"))
            .orderBy("dow", "hour"))


@register("token_gini_sources", """
WITH base AS (
  SELECT source AS g, doc_id AS i,
         len(list_filter(string_split_regex(text, '\\s+'),
                         t -> t <> '')) AS x
  FROM documents),
ranked AS (
  SELECT g, x,
         row_number() OVER (PARTITION BY g ORDER BY x, i)::DOUBLE * x
           AS ix
  FROM base)
SELECT g AS source,
       count(*)::BIGINT AS n_docs,
       cast(sum(x) AS BIGINT) AS total_tokens,
       round(CASE WHEN sum(x) > 0
             THEN 2.0 * sum(ix) / (count(*) * sum(x))
                  - (count(*) + 1.0) / count(*) END, 6) AS gini
FROM ranked GROUP BY g
ORDER BY source
""")
def token_gini_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini concentration of document token mass
    (operators/text_analysis.token_gini) — the corpus-balance
    readout mixture design needs beside raw totals: equal token
    mass spread over a million docs vs packed into a thousand
    giants behaves differently under dedup, packing, and per-doc
    quality gates. One scan, one group-keyed rank exchange,
    rank taken as double before the mass product (int64-overflow
    bug class)."""
    from parlerproject_spark.operators.text_analysis import token_gini
    return (token_gini(_t(spark, sf_dir, "documents"))
            .orderBy("source"))


@register("wasserstein_drift_events", """
WITH tagged AS (
  SELECT event_type, value::DOUBLE AS v,
         CASE WHEN ts < TIMESTAMP '2024-01-08' THEN 1 ELSE 0 END AS r,
         CASE WHEN ts < TIMESTAMP '2024-01-08' THEN 0 ELSE 1 END AS c
  FROM events),
g AS (
  SELECT event_type, v, sum(r) AS c_ref, sum(c) AS c_cur
  FROM tagged GROUP BY event_type, v),
cum AS (
  SELECT event_type, v,
         sum(c_ref) OVER (PARTITION BY event_type ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum_r,
         sum(c_cur) OVER (PARTITION BY event_type ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum_c,
         sum(c_ref) OVER (PARTITION BY event_type) AS n_r,
         sum(c_cur) OVER (PARTITION BY event_type) AS n_c,
         lead(v) OVER (PARTITION BY event_type ORDER BY v) - v AS gap
  FROM g)
SELECT event_type,
       round(sum(abs(cum_r * 1.0 / n_r - cum_c * 1.0 / n_c) * gap), 6)
         AS w1,
       cast(max(n_r) AS BIGINT) AS n_ref,
       cast(max(n_c) AS BIGINT) AS n_cur
FROM cum
WHERE n_r > 0 AND n_c > 0 AND gap IS NOT NULL
GROUP BY event_type
ORDER BY event_type
""")
def wasserstein_drift_events(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Per-event-type 1-D Wasserstein-1 drift
    (operators/stats.wasserstein_drift) of the value distribution,
    first week vs rest of January — the magnitude-aware companion
    of ks_drift: W1 reports the shift in the value's own units
    (how far mass moved), where KS reports only that it moved.
    Same one-keyed-exchange CDF shape as ks_drift plus a lead()
    over the same ordering."""
    from parlerproject_spark.operators.stats import wasserstein_drift
    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-08").cast("timestamp_ntz")
    return (wasserstein_drift(ev.filter(F.col("ts") < cut),
                              ev.filter(F.col("ts") >= cut),
                              key_col="event_type", val_col="value")
            .orderBy("event_type"))


@register("fd_audit_orders", """
WITH s AS (
  SELECT 'pk_orderkey_custkey' AS fd, o_orderkey::VARCHAR AS det,
         o_custkey::VARCHAR AS dep FROM orders
  UNION ALL
  SELECT 'pk_orderkey_status', o_orderkey::VARCHAR, o_orderstatus
  FROM orders
  UNION ALL
  SELECT 'custkey_priority', o_custkey::VARCHAR, o_orderpriority
  FROM orders
  UNION ALL
  SELECT 'custkey_status', o_custkey::VARCHAR, o_orderstatus
  FROM orders
  UNION ALL
  SELECT 'orderdate_priority', o_orderdate::VARCHAR, o_orderpriority
  FROM orders),
per AS (
  SELECT fd, det, count(DISTINCT dep) AS nd
  FROM s GROUP BY fd, det)
SELECT fd, count(*)::BIGINT AS n_groups,
       sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
       round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS violation_share,
       sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM per GROUP BY fd
ORDER BY fd
""")
def fd_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit over orders
    (operators/profiling.fd_audit): five candidate FDs — the two
    primary-key dependencies must HOLD, the three
    customer/date-determined ones report their violation share —
    the data-quality gate that catches a key that silently stopped
    being a key or a stale denormalization. One stacked scan, one
    (fd, det)-keyed aggregation, |candidates|-row report."""
    from parlerproject_spark.operators.profiling import fd_audit
    o = _t(spark, sf_dir, "orders")
    return (fd_audit(o, [
        ("pk_orderkey_custkey", "o_orderkey", "o_custkey"),
        ("pk_orderkey_status", "o_orderkey", "o_orderstatus"),
        ("custkey_priority", "o_custkey", "o_orderpriority"),
        ("custkey_status", "o_custkey", "o_orderstatus"),
        ("orderdate_priority", "o_orderdate", "o_orderpriority"),
    ]).orderBy("fd"))


@register("seasonal_decompose_events", """
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS period,
         dayofweek(ts) + 1 AS dow,
         round(sum(value::DOUBLE), 6) AS total
  FROM events GROUP BY 1, 2),
tr AS (
  SELECT *, round(avg(total) OVER (ORDER BY period
            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 6) AS trend
  FROM daily),
se AS (
  SELECT *, total - trend AS dt,
         round(avg(total - trend) OVER (PARTITION BY dow), 6) AS seasonal
  FROM tr),
re AS (
  SELECT period, dow, total, trend, seasonal,
         round(dt - seasonal, 6) AS residual
  FROM se)
SELECT period, cast(dow AS BIGINT) AS dow, total, trend, seasonal,
       residual,
       abs(residual) > round(2.0 * stddev_pop(residual) OVER (), 6)
         AS is_anomaly
FROM re ORDER BY period
""")
def seasonal_decompose_events(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily value total
    (operators/timeseries.seasonal_decompose): 7-day centered-MA
    trend + day-of-week seasonal means + residual, anomalies at
    |residual| > 2σ — the decomposition a monitoring stack runs so
    weekend dips don't page. Corpus collapses to the calendar-
    bounded day table in one map-side-combined agg; every window
    after runs over days."""
    from parlerproject_spark.operators.timeseries import (
        seasonal_decompose)
    ev = _t(spark, sf_dir, "events")
    return (seasonal_decompose(ev, time_col="ts", value_col="value")
            .withColumn("dow", F.col("dow").cast("long"))
            .orderBy("period"))


@register("ab_test_purchase_events", """
WITH pu AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS conv,
         ((user_id % 2) + 2) % 2 AS arm
  FROM events GROUP BY user_id),
a AS (SELECT arm, count(*) AS n, sum(conv) AS c FROM pu GROUP BY arm),
w AS (SELECT
        max(CASE WHEN arm = 0 THEN n END) AS n0,
        max(CASE WHEN arm = 0 THEN c END) AS c0,
        max(CASE WHEN arm = 1 THEN n END) AS n1,
        max(CASE WHEN arm = 1 THEN c END) AS c1
      FROM a),
s AS (SELECT n0, c0, n1, c1,
             (c0 + c1) * 1.0 / (n0 + n1) AS pp
      FROM w)
SELECT cast(n0 AS BIGINT) AS n_0, cast(n1 AS BIGINT) AS n_1,
       cast(c0 AS BIGINT) AS conv_0, cast(c1 AS BIGINT) AS conv_1,
       round(c0 * 1.0 / n0, 6) AS p_0,
       round(c1 * 1.0 / n1, 6) AS p_1,
       round(CASE WHEN sqrt(pp * (1 - pp) * (1.0 / n0 + 1.0 / n1)) > 0
                  THEN (c1 * 1.0 / n1 - c0 * 1.0 / n0)
                       / sqrt(pp * (1 - pp) * (1.0 / n0 + 1.0 / n1))
             END, 6) AS z_score,
       coalesce(abs(CASE WHEN sqrt(pp * (1 - pp) * (1.0 / n0 + 1.0 / n1)) > 0
                THEN (c1 * 1.0 / n1 - c0 * 1.0 / n0)
                     / sqrt(pp * (1 - pp) * (1.0 / n0 + 1.0 / n1))
           END) > 1.96, false) AS significant_95
FROM s
""")
def ab_test_purchase_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between deterministic experiment arms
    (operators/analytics.ab_test_proportions): unit = user, success
    = any purchase event, arm = user_id % 2. Users collapse before
    any statistics, so activity volume cannot bias the test."""
    from parlerproject_spark.operators.analytics import ab_test_proportions
    return ab_test_proportions(_t(spark, sf_dir, "events"))


@register("bfs_distances_events", """
WITH keyed AS (
  SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS obj,
         ts, event_id, user_id AS dst
  FROM events
  WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        IS NOT NULL),
edges AS (
  SELECT DISTINCT src, dst
  FROM (SELECT lag(dst) OVER (PARTITION BY obj
                              ORDER BY ts, event_id) AS src, dst
        FROM keyed)
  WHERE src IS NOT NULL AND src <> dst),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
d0 AS (SELECT min(node) AS node, 0 AS dist FROM nodes),
f1 AS (SELECT DISTINCT e.dst AS node, 1 AS dist
       FROM edges e JOIN d0 ON e.src = d0.node
       WHERE e.dst NOT IN (SELECT node FROM d0)),
v1 AS (SELECT node, dist FROM d0 UNION ALL SELECT node, dist FROM f1),
f2 AS (SELECT DISTINCT e.dst AS node, 2 AS dist
       FROM edges e JOIN f1 ON e.src = f1.node
       WHERE e.dst NOT IN (SELECT node FROM v1)),
v2 AS (SELECT node, dist FROM v1 UNION ALL SELECT node, dist FROM f2),
f3 AS (SELECT DISTINCT e.dst AS node, 3 AS dist
       FROM edges e JOIN f2 ON e.src = f2.node
       WHERE e.dst NOT IN (SELECT node FROM v2)),
v3 AS (SELECT node, dist FROM v2 UNION ALL SELECT node, dist FROM f3)
SELECT node, cast(dist AS BIGINT) AS dist
FROM v3
ORDER BY dist, node
""")
def bfs_distances_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-source BFS over the co-interaction handoff
    graph (operators/graph.bfs_distances): hop distance from the
    minimum user node, 3 levels, level-synchronous frontier
    expansion (join frontier -> anti-join visited). The oracle
    unrolls the three frontiers as CTEs — the same fixed-iteration
    strategy as the PageRank oracles."""
    from parlerproject_spark.operators.graph import (bfs_distances,
                                                     cointeraction_edges)
    # materialize the derived co-interaction graph ONCE: the seed
    # pick, and every BFS hop all read it — without the barrier the
    # events self-join cascade re-runs per consumer (r8: 7.5 s ->
    # ~4 s warm at sf0.1)
    edges = (cointeraction_edges(_t(spark, sf_dir, "events"))
             .select("src", "dst").distinct()
             .localCheckpoint(eager=True))
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct())
    seeds = nodes.agg(F.min("node").alias("node"))
    return (bfs_distances(edges, seeds, max_hops=3, materialized=True)
            .orderBy("dist", "node"))



@register("mmr_rerank_embeddings", """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
rp AS (
  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x,
         unnest(q.qv)::DOUBLE AS y
  FROM embeddings e, q WHERE e.vec_id <> 0),
rel0 AS (
  SELECT vec_id,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
             AS rel
  FROM rp GROUP BY vec_id),
cand AS (SELECT vec_id, rel FROM rel0
         ORDER BY rel DESC, vec_id ASC LIMIT 20),
cp AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         unnest(a.embedding)::DOUBLE AS x,
         unnest(b.embedding)::DOUBLE AS y
  FROM embeddings a, embeddings b
  WHERE a.vec_id IN (SELECT vec_id FROM cand)
    AND b.vec_id IN (SELECT vec_id FROM cand)
    AND a.vec_id <> b.vec_id),
p AS (
  SELECT ia, ib,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
             AS s
  FROM cp GROUP BY ia, ib),
p1 AS (SELECT vec_id, rel, rel AS mmr_score FROM cand
       ORDER BY rel DESC, vec_id ASC LIMIT 1),
sel1 AS (SELECT vec_id FROM p1),
m2 AS (SELECT c.vec_id, c.rel, max(p.s) AS ms
       FROM cand c JOIN p ON p.ia = c.vec_id
       JOIN sel1 s ON p.ib = s.vec_id
       WHERE c.vec_id NOT IN (SELECT vec_id FROM sel1)
       GROUP BY c.vec_id, c.rel),
p2 AS (SELECT vec_id, rel, round(0.7 * rel - (1.0 - 0.7) * ms, 6)
           AS mmr_score
       FROM m2 ORDER BY mmr_score DESC, vec_id ASC LIMIT 1),
sel2 AS (SELECT vec_id FROM sel1 UNION ALL SELECT vec_id FROM p2),
m3 AS (SELECT c.vec_id, c.rel, max(p.s) AS ms
       FROM cand c JOIN p ON p.ia = c.vec_id
       JOIN sel2 s ON p.ib = s.vec_id
       WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
       GROUP BY c.vec_id, c.rel),
p3 AS (SELECT vec_id, rel, round(0.7 * rel - (1.0 - 0.7) * ms, 6)
           AS mmr_score
       FROM m3 ORDER BY mmr_score DESC, vec_id ASC LIMIT 1),
sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM p3),
m4 AS (SELECT c.vec_id, c.rel, max(p.s) AS ms
       FROM cand c JOIN p ON p.ia = c.vec_id
       JOIN sel3 s ON p.ib = s.vec_id
       WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
       GROUP BY c.vec_id, c.rel),
p4 AS (SELECT vec_id, rel, round(0.7 * rel - (1.0 - 0.7) * ms, 6)
           AS mmr_score
       FROM m4 ORDER BY mmr_score DESC, vec_id ASC LIMIT 1),
sel4 AS (SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM p4),
m5 AS (SELECT c.vec_id, c.rel, max(p.s) AS ms
       FROM cand c JOIN p ON p.ia = c.vec_id
       JOIN sel4 s ON p.ib = s.vec_id
       WHERE c.vec_id NOT IN (SELECT vec_id FROM sel4)
       GROUP BY c.vec_id, c.rel),
p5 AS (SELECT vec_id, rel, round(0.7 * rel - (1.0 - 0.7) * ms, 6)
           AS mmr_score
       FROM m5 ORDER BY mmr_score DESC, vec_id ASC LIMIT 1)
SELECT cast(1 AS BIGINT) AS rank, vec_id, rel, mmr_score FROM p1
UNION ALL SELECT 2, vec_id, rel, mmr_score FROM p2
UNION ALL SELECT 3, vec_id, rel, mmr_score FROM p3
UNION ALL SELECT 4, vec_id, rel, mmr_score FROM p4
UNION ALL SELECT 5, vec_id, rel, mmr_score FROM p5
ORDER BY rank
""")
def mmr_rerank_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diverse re-ranking (operators/similarity.mmr_rerank):
    top-20 cosine candidates for the vec_id-0 query (query row
    excluded), then 5 greedy picks maximizing
    0.7*rel − 0.3*max-sim-to-selected. Selection compares rounded
    sims with id tie-breaks, and 1−λ is written as (1.0 − 0.7) on
    both engines, so every arithmetic step is bit-identical and the
    oracle replays the greedy path pick-by-pick as unrolled CTEs."""
    from parlerproject_spark.operators.similarity import mmr_rerank
    embs = _t(spark, sf_dir, "embeddings")
    return mmr_rerank(embs.filter(F.col("vec_id") != 0),
                      _query_vec(spark, sf_dir)).orderBy("rank")


@register("source_overlap_jaccard", """
WITH toks AS (
  SELECT source, doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents),
grams AS (
  SELECT DISTINCT source,
         ('0x' || substr(md5(gram), 1, 15))::BIGINT % 2147483647 AS sh
  FROM (
    SELECT source, array_to_string(ts[i:i+2], ' ') AS gram
    FROM toks, unnest(range(1, len(ts) - 1)) AS t(i)
    WHERE len(ts) >= 3)),
sizes AS (SELECT source, count(*) AS n FROM grams GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
  FROM grams a JOIN grams b ON a.sh = b.sh AND a.source < b.source
  GROUP BY a.source, b.source)
SELECT src_a, src_b,
       cast(sa.n AS BIGINT) AS n_a, cast(sb.n AS BIGINT) AS n_b,
       cast(n_common AS BIGINT) AS n_common,
       round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
ORDER BY src_a, src_b
""")
def source_overlap_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-domain shingle overlap audit (operators/dedup
    .source_overlap_jaccard): exact pairwise Jaccard between source
    domains' distinct 3-gram sets via the bounded in-list posting
    expansion — posting lists are capped by the domain count itself,
    so the pair generation never touches a document cross join."""
    return (dedup.source_overlap_jaccard(_t(spark, sf_dir, "documents"))
            .orderBy("src_a", "src_b"))


@register("fk_integrity_audit", """
SELECT 'orders->customer' AS relation,
       cast((SELECT count(*) FROM orders) AS BIGINT) AS n_child,
       cast((SELECT count(*) FROM orders o WHERE NOT EXISTS
             (SELECT 1 FROM customer c
              WHERE c.c_custkey = o.o_custkey)) AS BIGINT) AS n_orphans
UNION ALL
SELECT 'lineitem->orders',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'lineitem->part',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'lineitem->supplier',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
UNION ALL
SELECT 'customer->nation',
       (SELECT count(*) FROM customer),
       (SELECT count(*) FROM customer c WHERE NOT EXISTS
        (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
UNION ALL
SELECT 'supplier->nation',
       (SELECT count(*) FROM supplier),
       (SELECT count(*) FROM supplier s WHERE NOT EXISTS
        (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
UNION ALL
SELECT 'nation->region',
       (SELECT count(*) FROM nation),
       (SELECT count(*) FROM nation n WHERE NOT EXISTS
        (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
ORDER BY relation
""")
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the seven TPC-H foreign
    keys: child row count + orphan count per relation. ONE pass per
    table (round-13 restructure, was lineitem×4): each child table's
    FK columns unpivot via `stack` into a tagged (relation, k)
    stream in a single column-pruned scan; the parent key sets union
    into the same shape; one keyed left join (hit-marking, parents
    deduped so NOT-EXISTS semantics hold even with duplicate parent
    keys) + one map-side-combined groupBy(relation) emits all seven
    report rows. At 100 TB: the only wide op is a single shuffle on
    (relation, key) — no table is read more than twice (child-side
    FK stack + parent-side key set)."""
    def stack(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
        args = ", ".join(f"'{rel}', {col}" for rel, col in pairs)
        return df.select(F.expr(
            f"stack({len(pairs)}, {args}) as (relation, k)"))

    children = [
        stack(_t(spark, sf_dir, "lineitem"),
              [("lineitem->orders", "l_orderkey"),
               ("lineitem->part", "l_partkey"),
               ("lineitem->supplier", "l_suppkey")]),
        stack(_t(spark, sf_dir, "orders"),
              [("orders->customer", "o_custkey")]),
        stack(_t(spark, sf_dir, "customer"),
              [("customer->nation", "c_nationkey")]),
        stack(_t(spark, sf_dir, "supplier"),
              [("supplier->nation", "s_nationkey")]),
        stack(_t(spark, sf_dir, "nation"),
              [("nation->region", "n_regionkey")]),
    ]
    parents = [
        stack(_t(spark, sf_dir, "customer"),
              [("orders->customer", "c_custkey")]),
        stack(_t(spark, sf_dir, "orders"),
              [("lineitem->orders", "o_orderkey")]),
        stack(_t(spark, sf_dir, "part"),
              [("lineitem->part", "p_partkey")]),
        stack(_t(spark, sf_dir, "supplier"),
              [("lineitem->supplier", "s_suppkey")]),
        # nation backs two relations from the one scan
        stack(_t(spark, sf_dir, "nation"),
              [("customer->nation", "n_nationkey"),
               ("supplier->nation", "n_nationkey")]),
        stack(_t(spark, sf_dir, "region"),
              [("nation->region", "r_regionkey")]),
    ]
    child = children[0]
    for p in children[1:]:
        child = child.unionByName(p)
    parent = parents[0]
    for p in parents[1:]:
        parent = parent.unionByName(p)
    parent = parent.dropDuplicates(["relation", "k"]) \
        .withColumn("hit", F.lit(1))
    return (child.join(parent, ["relation", "k"], "left")
            .groupBy("relation")
            .agg(F.count("*").alias("n_child"),
                 F.sum(F.when(F.col("hit").isNull(), F.lit(1))
                       .otherwise(F.lit(0))).alias("n_orphans"))
            .orderBy("relation"))


# ---------------------------------------------------------------------------
# Dataset profiling + phrase retrieval (operators/profiling.py, retrieval.py)
# ---------------------------------------------------------------------------

@register("groundedness_docs", """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents),
ans AS (
  SELECT doc_id,
         list_filter(string_split_regex(
             lower(array_to_string(toks[1:10], ' ') || ' zzz9 qqq8'),
             '[^a-z0-9]+'), x -> x <> '') AS atoks
  FROM t),
ag AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(atoks)),
                               i -> atoks[i] || ' ' || atoks[i + 1])) AS g
  FROM ans WHERE len(atoks) >= 2),
sg AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS g
  FROM t WHERE len(toks) >= 2)
SELECT a.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN s.g IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_supported,
       round(sum(CASE WHEN s.g IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS support
FROM ag a LEFT JOIN sg s ON a.doc_id = s.doc_id AND a.g = s.g
GROUP BY a.doc_id
ORDER BY a.doc_id
""")
def groundedness_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG groundedness / attribution (evaluation.groundedness): each
    doc's 'answer' is its first 10 tokens plus two hallucinated
    tokens; support = share of answer bigrams present in the source
    text. The prefix bigrams are supported by construction, the
    hallucinated tail is not — so every row exercises both sides of
    the metric. Per-(doc, gram) keyed joins only; no cross join."""
    from parlerproject_spark.operators.evaluation import groundedness
    from parlerproject_spark.functions.text import tokenize
    docs = _t(spark, sf_dir, "documents")
    ans = docs.select(
        "doc_id",
        F.concat(F.array_join(F.slice(tokenize("text"), 1, 10), " "),
                 F.lit(" zzz9 qqq8")).alias("answer"))
    return (groundedness(ans, docs, n=2)
            .orderBy("doc_id"))


def _citation_fixture(spark: SparkSession, sf_dir: str):
    """Shared multi-source RAG-citation fixture: each doc's 'answer'
    = its own first 10 tokens + the NEXT doc's first 5 tokens + two
    hallucinated tokens; each answer cites itself and doc_id+2 (a
    mostly-wrong citation). So the self-citation supports the prefix
    grams, the borrowed-from-next grams are uncited (recall < 1),
    and the +2 citation is usually decorative (precision < 1) —
    every branch of the metric is exercised on real corpus text.

    The tokenized stream localCheckpoints ONCE (round-13, the
    pretraining_corpus_pipeline stage-boundary idiom; eager=False so
    plan-only consumers never trigger the job — ADVICE r12) and all
    three fixture tables derive from it: answers from the
    checkpointed tokens, citations from its key column, and the
    source side from the rejoined canonical text (tokenize is
    idempotent on space-joined lowercase tokens, so the operator's
    gram sets are bit-identical). The operator's true 3-input shape
    shows through: 1 documents scan total, inside the checkpoint."""
    from parlerproject_spark.functions.text import tokenize
    docs = _t(spark, sf_dir, "documents")
    toks = (docs.select("doc_id", tokenize("text").alias("tk"))
            .localCheckpoint(eager=False))
    nxt = toks.select((F.col("doc_id") - 1).alias("doc_id"),
                      F.col("tk").alias("tk2"))
    ans = (toks.join(nxt, "doc_id", "left")
           .select("doc_id",
                   F.concat_ws(
                       " ",
                       F.array_join(F.slice("tk", 1, 10), " "),
                       F.coalesce(F.array_join(F.slice("tk2", 1, 5), " "),
                                  F.lit("")),
                       F.lit("zzz9 qqq8")).alias("answer")))
    cites = (toks.select("doc_id", F.col("doc_id").alias("src_id"))
             .unionByName(toks.select(
                 "doc_id", (F.col("doc_id") + 2).alias("src_id"))))
    src = toks.select("doc_id", F.array_join("tk", " ").alias("text"))
    return ans, cites, src


_CITATION_HEAD_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents),
ans AS (
  SELECT t.doc_id,
         list_filter(string_split_regex(
             lower(array_to_string(t.toks[1:10], ' ') || ' ' ||
                   coalesce(array_to_string(t2.toks[1:5], ' '), '')
                   || ' zzz9 qqq8'),
             '[^a-z0-9]+'), x -> x <> '') AS atoks
  FROM t LEFT JOIN t t2 ON t2.doc_id = t.doc_id + 1),
ag AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(atoks)),
                               i -> atoks[i] || ' ' || atoks[i + 1])) AS g
  FROM ans WHERE len(atoks) >= 2),
cit AS (
  SELECT doc_id, doc_id AS src_id FROM documents
  UNION ALL
  SELECT doc_id, doc_id + 2 FROM documents),
sg AS (
  SELECT DISTINCT doc_id AS src_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS g
  FROM t WHERE len(toks) >= 2)"""


@register("citation_support_docs", _CITATION_HEAD_SQL + """
SELECT a.doc_id, c.src_id,
       count(*)::BIGINT AS n_grams,
       sum(CASE WHEN s.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_supported,
       round(sum(CASE WHEN s.g IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS support
FROM ag a JOIN cit c USING (doc_id)
LEFT JOIN sg s ON s.src_id = c.src_id AND s.g = a.g
GROUP BY a.doc_id, c.src_id
ORDER BY a.doc_id, c.src_id
""")
def citation_support_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(answer, cited source) RAG attribution
    (evaluation.citation_support — the multi-source extension of
    groundedness, VERDICT r8 item 6): for every citation edge, the
    share of the answer's bigrams present in THAT source. Keyed
    joins only — answer grams fan out to their own citation edges,
    then probe (src, gram); a citation to a missing source keeps
    its row at support 0."""
    from parlerproject_spark.operators.evaluation import citation_support
    ans, cites, docs = _citation_fixture(spark, sf_dir)
    return (citation_support(ans, cites, docs, n=2)
            .orderBy("doc_id", "src_id"))


@register("citation_pr_docs", _CITATION_HEAD_SQL + """,
agv AS (SELECT doc_id, g, count(*)::BIGINT AS cnt
        FROM ag GROUP BY doc_id, g),
cov AS (
  SELECT DISTINCT v.doc_id, v.g
  FROM agv v JOIN cit c USING (doc_id)
  JOIN sg s ON s.src_id = c.src_id AND s.g = v.g),
perkey AS (
  SELECT v.doc_id, sum(v.cnt)::BIGINT AS n_grams,
         sum(CASE WHEN cov.g IS NOT NULL THEN v.cnt ELSE 0 END)::BIGINT
           AS n_covered
  FROM agv v LEFT JOIN cov ON cov.doc_id = v.doc_id AND cov.g = v.g
  GROUP BY v.doc_id),
sup AS (
  SELECT DISTINCT v.doc_id, c.src_id
  FROM agv v JOIN cit c USING (doc_id)
  JOIN sg s ON s.src_id = c.src_id AND s.g = v.g),
cs AS (
  SELECT c.doc_id, count(*)::BIGINT AS n_cited,
         sum(CASE WHEN sup.src_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_supporting
  FROM cit c LEFT JOIN sup ON sup.doc_id = c.doc_id
                          AND sup.src_id = c.src_id
  GROUP BY c.doc_id)
SELECT p.doc_id, cs.n_cited, cs.n_supporting, p.n_grams, p.n_covered,
       round(cs.n_supporting * 1.0 / cs.n_cited, 6) AS "precision",
       round(p.n_covered * 1.0 / p.n_grams, 6) AS recall
FROM perkey p JOIN cs USING (doc_id)
ORDER BY p.doc_id
""")
def citation_pr_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-answer citation precision/recall
    (evaluation.citation_precision_recall): precision = share of
    citations supporting >= 1 answer gram, recall = share of answer
    gram occurrences covered by >= 1 cited source. Gram values dedup
    before the probe and re-weight by occurrence count — one lookup
    per (answer, gram value, citation)."""
    from parlerproject_spark.operators.evaluation import (
        citation_precision_recall)
    ans, cites, docs = _citation_fixture(spark, sf_dir)
    return (citation_precision_recall(ans, cites, docs, n=2)
            .orderBy("doc_id"))


@register("maxsim_rerank_embeddings", """
WITH ex AS (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings),
qv AS (SELECT pos, x AS qx FROM ex WHERE vec_id = 0),
stage1 AS (
  SELECT e.vec_id,
         round(sum(e.x * q.qx)
               / (sqrt(sum(e.x * e.x)) * sqrt(sum(q.qx * q.qx))), 6) AS sim
  FROM ex e JOIN qv q ON e.pos = q.pos
  GROUP BY e.vec_id
  ORDER BY sim DESC, vec_id ASC LIMIT 50),
tok AS (
  SELECT e.vec_id, e.pos // 16 AS tok, e.pos % 16 AS d, e.x
  FROM ex e JOIN stage1 s ON e.vec_id = s.vec_id),
q AS (SELECT pos // 16 AS qtok, pos % 16 AS d, x AS qx
      FROM ex WHERE vec_id = 0 AND pos // 16 < 2),
sims AS (
  SELECT t.vec_id, t.tok, q.qtok,
         round(sum(t.x * q.qx)
               / (sqrt(sum(t.x * t.x)) * sqrt(sum(q.qx * q.qx))), 6) AS s
  FROM tok t JOIN q ON t.d = q.d
  GROUP BY t.vec_id, t.tok, q.qtok),
mx AS (SELECT vec_id, qtok, max(s) AS m FROM sims GROUP BY vec_id, qtok)
SELECT vec_id, round(sum(m), 6) AS score
FROM mx GROUP BY vec_id
ORDER BY score DESC, vec_id ASC LIMIT 10
""")
def maxsim_rerank_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLAID-shaped two-stage retrieval: single-vector cosine RECALL
    (knn_bruteforce top-50 — the cheap stage that bounds everything
    downstream) then late-interaction MaxSim RERANK over only those
    candidates (similarity.late_interaction_topk on the 4x16-d token
    slices). Stage 2's token table is semi-joined to the candidate
    ids, so rerank cost is candidates x query tokens regardless of
    corpus size — the serving shape multi-vector systems actually
    deploy. Hash-verified end-to-end through both stages."""
    from parlerproject_spark.operators.similarity import (
        knn_bruteforce, late_interaction_topk)
    emb = _t(spark, sf_dir, "embeddings")
    cands = knn_bruteforce(emb, _query_vec(spark, sf_dir), k=50) \
        .select("vec_id")
    tok = (emb.join(F.broadcast(cands), "vec_id", "left_semi")
           .select("vec_id",
                   F.posexplode(F.array(*[F.slice("embedding", j * 16 + 1, 16)
                                          for j in range(4)]))
                   .alias("tok", "vec")))
    qemb = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    qs = [[float(x) for x in qemb[0:16]], [float(x) for x in qemb[16:32]]]
    return late_interaction_topk(tok, qs, k=10, id_col="vec_id",
                                 vec_col="vec")


@register("late_interaction_topk_embeddings", """
WITH ex AS (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings),
tok AS (
  SELECT vec_id, pos // 16 AS tok, pos % 16 AS d, x FROM ex),
q AS (SELECT tok AS qtok, d, x AS qx FROM tok WHERE vec_id = 0 AND tok < 2),
sims AS (
  SELECT t.vec_id, t.tok, q.qtok,
         round(sum(t.x * q.qx)
               / (sqrt(sum(t.x * t.x)) * sqrt(sum(q.qx * q.qx))), 6) AS s
  FROM tok t JOIN q ON t.d = q.d
  GROUP BY t.vec_id, t.tok, q.qtok),
mx AS (SELECT vec_id, qtok, max(s) AS m FROM sims GROUP BY vec_id, qtok)
SELECT vec_id, round(sum(m), 6) AS score
FROM mx GROUP BY vec_id
ORDER BY score DESC, vec_id ASC LIMIT 10
""")
def late_interaction_topk_embeddings(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction (MaxSim) top-k
    (operators/similarity.late_interaction_topk): each 64-d
    embedding is treated as a 4-token multi-vector doc (16-d
    slices), the query is vec 0's first two token slices, and
    score = Σ_i max_j cos(q_i, d_j). Query tokens ride as literals
    (broadcast by construction); MaxSim is one doc-keyed aggregation
    + a TakeOrdered cut."""
    from parlerproject_spark.operators.similarity import late_interaction_topk
    emb = _t(spark, sf_dir, "embeddings")
    tok = emb.select(
        "vec_id",
        F.posexplode(F.array(*[F.slice("embedding", j * 16 + 1, 16)
                               for j in range(4)])).alias("tok", "vec"))
    qemb = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    qs = [[float(x) for x in qemb[0:16]], [float(x) for x in qemb[16:32]]]
    return late_interaction_topk(tok, qs, k=10, id_col="vec_id",
                                 vec_col="vec")


@register("purged_time_folds_events", """
WITH b AS (
  SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi FROM events),
f AS (SELECT unnest(range(1, 6)) AS fold),
r AS (
  SELECT e.event_id, f.fold,
         epoch_us(e.ts) AS t, b.lo, b.hi,
         (b.hi - b.lo + 1) / 5.0 AS width
  FROM events e CROSS JOIN b CROSS JOIN f),
rolled AS (
  SELECT event_id, CAST(fold AS BIGINT) AS fold,
         CASE WHEN t >= lo + (fold - 1) * width
                   AND t < (CASE WHEN fold = 5 THEN hi + 1
                                 ELSE lo + fold * width END)
              THEN 'test'
              WHEN t >= lo + (fold - 1) * width - 43200000000
                   AND t < (CASE WHEN fold = 5 THEN hi + 1
                                 ELSE lo + fold * width END)
                       + 43200000000
              THEN 'embargoed'
              ELSE 'train' END AS role
  FROM r)
SELECT fold, role, CAST(count(*) AS BIGINT) AS n,
       CAST(min(event_id) AS BIGINT) AS min_id,
       CAST(max(event_id) AS BIGINT) AS max_id
FROM rolled GROUP BY fold, role ORDER BY fold, role
""")
def purged_time_folds_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged time-series CV folds with a 12 h embargo
    (operators/sampling.purged_time_folds — López de Prado's leakage
    guard for temporally autocorrelated labels): 5 equal-width test
    windows, boundary-adjacent rows embargoed out of training.
    Summarized per (fold, role) with id ranges so the driver hash
    pins every row's assignment. One min/max broadcast + a ×5 fold
    explode; no sort anywhere."""
    from parlerproject_spark.operators.sampling import purged_time_folds
    out = purged_time_folds(_t(spark, sf_dir, "events"), n_folds=5,
                            embargo_seconds=43200)
    return (out.groupBy("fold", "role")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("event_id").alias("min_id"),
                 F.max("event_id").alias("max_id"))
            .orderBy("fold", "role"))


@register("profile_drift_events", """
WITH ref AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-15'),
cur AS (SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-15'),
pr AS (
  SELECT 'user_id' AS col_name, count(*) AS n, count(user_id) AS nn,
         count(DISTINCT user_id) AS d,
         CAST(min(user_id) AS VARCHAR) AS mn,
         CAST(max(user_id) AS VARCHAR) AS mx FROM ref
  UNION ALL
  SELECT 'event_type', count(*), count(event_type),
         count(DISTINCT event_type),
         CAST(min(event_type) AS VARCHAR),
         CAST(max(event_type) AS VARCHAR) FROM ref
  UNION ALL
  SELECT 'value', count(*), count(value), count(DISTINCT value),
         CAST(min(value) AS VARCHAR), CAST(max(value) AS VARCHAR)
  FROM ref),
pc AS (
  SELECT 'user_id' AS col_name, count(*) AS n, count(user_id) AS nn,
         count(DISTINCT user_id) AS d,
         CAST(min(user_id) AS VARCHAR) AS mn,
         CAST(max(user_id) AS VARCHAR) AS mx FROM cur
  UNION ALL
  SELECT 'event_type', count(*), count(event_type),
         count(DISTINCT event_type),
         CAST(min(event_type) AS VARCHAR),
         CAST(max(event_type) AS VARCHAR) FROM cur
  UNION ALL
  SELECT 'value', count(*), count(value), count(DISTINCT value),
         CAST(min(value) AS VARCHAR), CAST(max(value) AS VARCHAR)
  FROM cur)
SELECT r.col_name,
       CAST(r.n AS BIGINT) AS n_ref, CAST(c.n AS BIGINT) AS n_cur,
       round((r.n - r.nn) * 1.0 / r.n, 6) AS null_rate_ref,
       round((c.n - c.nn) * 1.0 / c.n, 6) AS null_rate_cur,
       round(round((c.n - c.nn) * 1.0 / c.n, 6)
             - round((r.n - r.nn) * 1.0 / r.n, 6), 6) AS null_rate_delta,
       CAST(r.d AS BIGINT) AS distinct_ref,
       CAST(c.d AS BIGINT) AS distinct_cur,
       (r.mn IS DISTINCT FROM c.mn OR r.mx IS DISTINCT FROM c.mx)
         AS range_changed
FROM pr r JOIN pc c ON r.col_name = c.col_name
ORDER BY r.col_name
""")
def profile_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift report (operators/profiling.profile_drift):
    null-rate / distinct-count / range movement per column between
    the pre- and post-2024-01-15 halves of the events table — the
    data-contract check before retraining on a refreshed corpus. Two
    single-aggregation profile scans joined on a |cols|-row key."""
    from parlerproject_spark.operators.profiling import profile_drift
    e = _t(spark, sf_dir, "events")
    c = F.lit("2024-01-15").cast("timestamp")
    return (profile_drift(e.filter(F.col("ts") < c),
                          e.filter(F.col("ts") >= c),
                          ["user_id", "event_type", "value"])
            .orderBy("col_name"))


@register("profile_events_table", """
WITH s AS (
  SELECT event_id, user_id, event_type,
         value::DECIMAL(18,2) AS value_d,
         strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s
  FROM events)
SELECT 'event_id' AS col_name, count(*) AS n_rows,
       count(*) - count(event_id) AS n_nulls,
       count(DISTINCT event_id) AS n_distinct,
       min(event_id)::VARCHAR AS min_s, max(event_id)::VARCHAR AS max_s
FROM s
UNION ALL
SELECT 'user_id', count(*), count(*) - count(user_id),
       count(DISTINCT user_id), min(user_id)::VARCHAR, max(user_id)::VARCHAR
FROM s
UNION ALL
SELECT 'event_type', count(*), count(*) - count(event_type),
       count(DISTINCT event_type), min(event_type), max(event_type)
FROM s
UNION ALL
SELECT 'value_d', count(*), count(*) - count(value_d),
       count(DISTINCT value_d), min(value_d)::VARCHAR, max(value_d)::VARCHAR
FROM s
UNION ALL
SELECT 'ts_s', count(*), count(*) - count(ts_s),
       count(DISTINCT ts_s), min(ts_s), max(ts_s)
FROM s
ORDER BY col_name
""")
def profile_events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profile (operators/profiling.profile_table)
    of the events table — the distributed analogue of the reference's
    interactive `df.info()`/`describe()` (preview_data.ipynb cell 8).
    Floats are profiled as DECIMAL(18,2) and timestamps as a fixed
    6-digit-microsecond string so the min/max string rendering is
    engine-neutral (double→string and ts→string formatting differ
    between engines; decimal and fixed-format strings do not)."""
    from parlerproject_spark.operators.profiling import profile_table
    ev = (_t(spark, sf_dir, "events")
          .select("event_id", "user_id", "event_type",
                  F.col("value").cast("decimal(18,2)").alias("value_d"),
                  F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
                  .alias("ts_s")))
    return profile_table(
        ev, ["event_id", "user_id", "event_type", "value_d", "ts_s"]) \
        .orderBy("col_name")


@register("key_skew_events", """
WITH c AS (SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id),
t AS (SELECT sum(n_rows) AS tt FROM c),
k AS (SELECT user_id, n_rows FROM c
      ORDER BY n_rows DESC, user_id ASC LIMIT 20)
SELECT user_id, n_rows,
       round(n_rows / tt, 6) AS share,
       round(sum(n_rows) OVER (ORDER BY n_rows DESC, user_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) / tt, 6) AS cum_share
FROM k CROSS JOIN t
ORDER BY n_rows DESC, user_id ASC
""")
def key_skew_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew pre-flight (operators/profiling.key_skew_report):
    top-20 user_id keys by row mass with per-key share and cumulative
    share — the diagnostic that decides whether skew.salted_join /
    salted_agg is warranted before a 100 TB shuffle melts one
    reducer. The windows run over the 20-row top-k only."""
    from parlerproject_spark.operators.profiling import key_skew_report
    ev = _t(spark, sf_dir, "events")
    return (key_skew_report(ev, "user_id", top=20)
            .orderBy(F.col("n_rows").desc(), F.col("user_id").asc()))


@register("heavy_hitters_users", """
SELECT user_id, count(*) AS n_rows
FROM events
GROUP BY user_id
HAVING count(*) * 200 > (SELECT count(*) FROM events)
ORDER BY user_id
""")
def heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass bounded-memory heavy hitters (operators/profiling.
    heavy_hitters, k=199): per-partition Misra-Gries summaries
    propose candidates in O(k) memory, one exact semi-joined count
    pass verifies against the n/(k+1) threshold. Result is provably
    identical to the oracle's full GROUP BY ... HAVING — the sketch
    only bounds pass-2 state, it never changes the answer."""
    from parlerproject_spark.operators.profiling import heavy_hitters
    ev = _t(spark, sf_dir, "events")
    return (heavy_hitters(ev, "user_id", k=199)
            .select("user_id", F.col("n_rows").cast("long").alias("n_rows"))
            .orderBy("user_id"))


@register("phrase_count_docs", """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS ts
  FROM documents)
SELECT doc_id,
       cast(len(list_filter(range(1, len(ts)),
                            s -> ts[s] = 'hash' AND ts[s + 1] = 'join'))
            AS BIGINT) AS n_matches
FROM t
WHERE len(list_filter(range(1, len(ts)),
                      s -> ts[s] = 'hash' AND ts[s + 1] = 'join')) > 0
ORDER BY doc_id
""")
def phrase_count_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval ("hash join") via the zero-shuffle
    array-expression scan (operators/retrieval.phrase_count) — the
    quoted-query primitive BM25 cannot express. The persisted
    positional-index variant (build_positional_index /
    probe_phrase_index) is proven result-identical in
    tests/test_retrieval_selection_graph.py."""
    from parlerproject_spark.operators.retrieval import phrase_count
    docs = _t(spark, sf_dir, "documents")
    return phrase_count(docs, "hash join").orderBy("doc_id")


@register("incremental_near_dup_docs", f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS ts
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(gram), 1, 15))::BIGINT % 2147483647 AS sh
  FROM (
    SELECT doc_id,
           array_to_string(ts[i:i+2], ' ') AS gram
    FROM toks, unnest(range(1, len(ts) - 1)) AS t(i)
    WHERE len(ts) >= 3)),
sig AS (
  SELECT doc_id,
       {_MINHASH_MINS}
  FROM grams GROUP BY doc_id),
buckets AS (
  {_MINHASH_BANDS}),
cand AS (
  SELECT DISTINCT p.doc_id AS new_id, s.doc_id AS seen_id
  FROM buckets p JOIN buckets s
    ON p.band = s.band AND p.key = s.key AND p.doc_id <> s.doc_id
  WHERE p.doc_id % 3 = 0 AND s.doc_id % 2 = 0),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM grams GROUP BY doc_id),
inter AS (
  SELECT new_id, seen_id, count(*) AS n_common
  FROM cand
  JOIN grams a ON a.doc_id = new_id
  JOIN grams b ON b.doc_id = seen_id AND a.sh = b.sh
  GROUP BY new_id, seen_id)
SELECT new_id, seen_id,
       round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = new_id
JOIN sizes sb ON sb.doc_id = seen_id
WHERE round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.5
ORDER BY new_id, seen_id
""")
def incremental_near_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-batch near-dup against a standing corpus store
    (dedup.write_minhash_store / incremental_near_dup_minhash):
    history (doc_id %% 2 = 0) is touched only through its banded
    bucket + shingle tables; the batch (doc_id %% 3 = 0) probes
    buckets on (band, key) and exact-verifies candidates only.
    Self-matches (docs in both sets) are id-excluded. The oracle
    rebuilds the identical deterministic pipeline corpus-wide and
    applies the same set filters."""
    docs = _t(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    from parlerproject_spark.operators.dedup import (
        incremental_near_dup_minhash, minhash_band_buckets,
        minhash_signatures, shingles)
    seen_sh = shingles(seen).repartition("doc_id")
    seen_sig = minhash_signatures(seen, _shingles_df=seen_sh)
    seen_buckets = minhash_band_buckets(seen_sig)
    out = incremental_near_dup_minhash(new, seen_buckets, seen_sh,
                                       threshold=0.5)
    return out.orderBy("new_id", "seen_id")


@register("canonical_docs_near_dup", f"""
WITH RECURSIVE np AS ({_NGRAM_PAIRS_SQL}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM np
  UNION
  SELECT id_b AS s, id_a AS d FROM np),
nodes AS (SELECT DISTINCT s AS v FROM edges),
reach(v, r) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.v),
cl AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
m AS (
  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
         round(least(length(d.text) / 500.0, 1.0) *
               (CASE WHEN length(d.text) > 0
                     THEN length(regexp_replace(d.text, '[^A-Za-z ]', '', 'g'))
                          * 1.0 / length(d.text)
                     ELSE 0.0 END), 6) AS score
  FROM documents d LEFT JOIN cl USING (doc_id)),
w AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
                               ORDER BY score DESC, doc_id ASC) AS rn
  FROM m)
SELECT doc_id, cluster_id, score
FROM w WHERE rn = 1
ORDER BY doc_id
""")
def canonical_docs_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection (dedup.keep_best_per_cluster):
    n-gram-Jaccard pairs -> connected components -> keep the
    highest-quality member per duplicate cluster (ties -> lowest
    id), singletons survive as themselves. One max_by aggregate on
    struct(score, -id) — never a corpus-wide window. The oracle
    replays pairs + transitive closure (recursive CTE) + the same
    argmax policy."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=128)
    clusters = dedup.duplicate_clusters(pairs)
    from parlerproject_spark.operators.dedup import keep_best_per_cluster
    return keep_best_per_cluster(docs, clusters).orderBy("doc_id")


@register("psi_drift_events", """
WITH ref AS (
  SELECT event_type, value FROM events
  WHERE ts < TIMESTAMP '2024-02-01'),
cur AS (
  SELECT event_type, value FROM events
  WHERE ts >= TIMESTAMP '2024-02-01'),
edges AS (
  SELECT event_type, min(value)::DOUBLE AS mn, max(value)::DOUBLE AS mx
  FROM ref GROUP BY event_type),
rb AS (
  SELECT r.event_type,
         (CASE WHEN mx = mn THEN 0
               ELSE least(greatest(floor((value::DOUBLE - mn)
                                         / ((mx - mn) / 10.0)), 0), 9)
          END)::INT AS bin,
         count(*) AS c_ref
  FROM ref r JOIN edges USING (event_type) GROUP BY 1, 2),
cb AS (
  SELECT c.event_type,
         (CASE WHEN mx = mn THEN 0
               ELSE least(greatest(floor((value::DOUBLE - mn)
                                         / ((mx - mn) / 10.0)), 0), 9)
          END)::INT AS bin,
         count(*) AS c_cur
  FROM cur c JOIN edges USING (event_type) GROUP BY 1, 2),
j AS (
  SELECT coalesce(rb.event_type, cb.event_type) AS event_type,
         coalesce(rb.bin, cb.bin) AS bin,
         coalesce(c_ref, 0) AS c_ref, coalesce(c_cur, 0) AS c_cur
  FROM rb FULL OUTER JOIN cb
    ON rb.event_type = cb.event_type AND rb.bin = cb.bin),
p AS (
  SELECT event_type, c_ref, c_cur,
         (c_ref + 0.5) / (sum(c_ref) OVER (PARTITION BY event_type) + 5.0)
           AS p_ref,
         (c_cur + 0.5) / (sum(c_cur) OVER (PARTITION BY event_type) + 5.0)
           AS p_cur
  FROM j)
SELECT event_type,
       round(sum((p_cur - p_ref) * ln(p_cur / p_ref)), 6) AS psi,
       cast(sum(c_ref) AS BIGINT) AS n_ref,
       cast(sum(c_cur) AS BIGINT) AS n_cur
FROM p GROUP BY event_type
ORDER BY event_type
""")
def psi_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor (operators/stats.psi_drift):
    Population Stability Index of the value distribution per
    event_type between the January reference snapshot and everything
    after — fixed-width reference bins (exact IEEE edge arithmetic
    both engines reproduce), smoothed proportions, out-of-range mass
    clamped to the edge bins. The standing data-quality gate a
    100 TB ingest runs before mixing a new snapshot into training."""
    from parlerproject_spark.operators.stats import psi_drift
    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-02-01").cast("timestamp_ntz")
    return (psi_drift(ev.filter(F.col("ts") < cut),
                      ev.filter(F.col("ts") >= cut),
                      key_col="event_type", val_col="value", bins=10)
            .orderBy("event_type"))


@register("psi_timeline_events", """
WITH ref AS (SELECT value FROM events WHERE ts < TIMESTAMP '2024-01-08'),
cur AS (SELECT strftime(ts, '%Y-%m-%d') AS period, value FROM events
        WHERE ts >= TIMESTAMP '2024-01-08'),
edges AS (SELECT min(value)::DOUBLE AS mn, max(value)::DOUBLE AS mx
          FROM ref),
rb AS (
  SELECT (CASE WHEN mx = mn THEN 0
          ELSE least(greatest(floor((value::DOUBLE - mn)
                                    / ((mx - mn) / 10.0)), 0), 9)
          END)::INT AS bin,
         count(*) AS c_ref
  FROM ref, edges GROUP BY 1),
allbins AS (
  SELECT b.bin, coalesce(rb.c_ref, 0) AS c_ref
  FROM (SELECT unnest(range(0, 10))::INT AS bin) b
  LEFT JOIN rb USING (bin)),
cb AS (
  SELECT period,
         (CASE WHEN mx = mn THEN 0
          ELSE least(greatest(floor((value::DOUBLE - mn)
                                    / ((mx - mn) / 10.0)), 0), 9)
          END)::INT AS bin,
         count(*) AS c_cur
  FROM cur, edges GROUP BY 1, 2),
periods AS (SELECT period, sum(c_cur) AS n_events FROM cb GROUP BY period),
grid AS (
  SELECT p.period, p.n_events, a.bin, a.c_ref,
         coalesce(cb.c_cur, 0) AS c_cur
  FROM periods p CROSS JOIN allbins a
  LEFT JOIN cb ON cb.period = p.period AND cb.bin = a.bin),
terms AS (
  SELECT period, n_events,
         ((c_cur + 0.5) / (n_events + 5.0) - (c_ref + 0.5) / (nr + 5.0))
         * ln(((c_cur + 0.5) / (n_events + 5.0))
              / ((c_ref + 0.5) / (nr + 5.0))) AS t
  FROM grid, (SELECT sum(c_ref)::DOUBLE AS nr FROM allbins) r)
SELECT period, cast(n_events AS BIGINT) AS n_events,
       round(sum(t), 6) AS psi
FROM terms GROUP BY period, n_events
ORDER BY period
""")
def psi_timeline_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day PSI timeline (operators/stats.psi_timeline) of the
    post-week-1 value stream against the frozen first-week reference
    — the drift-ONSET curve a standing ingest monitor plots, where
    psi_drift gives one number per key. Reference collapses to a
    broadcast 10-row histogram; the stream crosses one (day, bin)
    map-side-combined aggregation; the day×bin grid is bounded-table
    algebra."""
    from parlerproject_spark.operators.stats import psi_timeline
    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-08").cast("timestamp_ntz")
    return (psi_timeline(ev.filter(F.col("ts") < cut),
                         ev.filter(F.col("ts") >= cut),
                         time_col="ts", val_col="value", bins=10)
            .orderBy("period"))


@register("training_shard_manifest", """
WITH plan AS (
  SELECT doc_id,
         ('0x' || substr(md5('shard-v1:' || doc_id::VARCHAR), 1, 8))::BIGINT
           AS skey,
         len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
           AS n_tokens
  FROM documents)
SELECT floor(skey / 4294967296.0 * 16)::INT AS shard,
       count(*) AS n_docs,
       cast(sum(n_tokens) AS BIGINT) AS n_tokens,
       cast(sum(skey) % 2147483647 AS BIGINT) AS checksum
FROM plan
GROUP BY 1
ORDER BY shard
""")
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded-corpus export accounting (operators/export
    .shard_manifest, n_shards=16): hash-assigned shard membership
    (no global sort, no driver state), per-shard doc/token counts
    and a mergeable order-insensitive checksum — the manifest the
    write_training_shards sink materializes next to the shard dirs
    (pytest covers the physical write + determinism)."""
    from parlerproject_spark.operators.export import shard_manifest
    docs = _t(spark, sf_dir, "documents")
    return (shard_manifest(docs, n_shards=16)
            .select(F.col("shard").cast("int").alias("shard"),
                    "n_docs", "n_tokens", "checksum")
            .orderBy("shard"))


@register("ks_drift_events", """
WITH tagged AS (
  SELECT event_type, value AS v,
         CASE WHEN ts < TIMESTAMP '2024-02-01' THEN 1 ELSE 0 END AS r,
         CASE WHEN ts < TIMESTAMP '2024-02-01' THEN 0 ELSE 1 END AS c
  FROM events),
g AS (
  SELECT event_type, v, sum(r) AS c_ref, sum(c) AS c_cur
  FROM tagged GROUP BY event_type, v),
cum AS (
  SELECT event_type,
         sum(c_ref) OVER (PARTITION BY event_type ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum_r,
         sum(c_cur) OVER (PARTITION BY event_type ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum_c,
         sum(c_ref) OVER (PARTITION BY event_type) AS n_r,
         sum(c_cur) OVER (PARTITION BY event_type) AS n_c
  FROM g)
SELECT event_type,
       round(max(abs(cum_r * 1.0 / n_r - cum_c * 1.0 / n_c)), 6) AS ks,
       cast(max(n_r) AS BIGINT) AS n_ref,
       cast(max(n_c) AS BIGINT) AS n_cur
FROM cum
WHERE n_r > 0 AND n_c > 0
GROUP BY event_type
ORDER BY event_type
""")
def ks_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binless drift gate (operators/stats.ks_drift): two-sample KS
    statistic of the value distribution per event_type across the
    same snapshot split as psi_drift_events — one keyed aggregation
    + per-key windows inside one exchange; integer count arithmetic
    until the final division, so both engines agree exactly."""
    from parlerproject_spark.operators.stats import ks_drift
    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-02-01").cast("timestamp_ntz")
    return (ks_drift(ev.filter(F.col("ts") < cut),
                     ev.filter(F.col("ts") >= cut),
                     key_col="event_type", val_col="value")
            .orderBy("event_type"))


@register("split_skew_join_events", """
WITH dim AS (
  SELECT user_id, min(event_type) AS first_type,
         round(avg(value), 4) AS avg_value
  FROM events GROUP BY user_id)
SELECT e.user_id, d.first_type,
       cast(count(*) AS BIGINT) AS n_events,
       round(sum(e.value - d.avg_value), 4) + 0.0 AS total_dev
FROM events e JOIN dim d USING (user_id)
GROUP BY e.user_id, d.first_type
ORDER BY e.user_id
""")
def split_skew_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid skew join (operators/skew.split_skew_join): keys above
    the hot threshold route through the salted join, cold keys
    through the plain equi-join — result-identical to the oracle's
    plain JOIN (the split only reshapes the shuffle). The dim side
    is a per-user profile derived from the same events."""
    from parlerproject_spark.operators.skew import split_skew_join
    ev = _t(spark, sf_dir, "events")
    dim = (ev.groupBy("user_id")
           .agg(F.min("event_type").alias("first_type"),
                F.round(F.avg("value"), 4).alias("avg_value")))
    joined = split_skew_join(ev.select("user_id", "value"), dim,
                             "user_id", hot_threshold=400)
    return (joined.groupBy("user_id", "first_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 (F.round(F.sum(F.col("value") - F.col("avg_value")), 4)
                  + F.lit(0.0)).alias("total_dev"))
            .orderBy("user_id"))


@register("bootstrap_ci_events", """
WITH reps AS (
  SELECT event_type, value, event_id, r
  FROM events, unnest(range(0, 100)) AS t(r)),
wtd AS (
  SELECT event_type, value, r,
         (CASE
            WHEN u < 0.36787944117 THEN 0
            WHEN u < 0.73575888234 THEN 1
            WHEN u < 0.91969860293 THEN 2
            WHEN u < 0.98101184313 THEN 3
            WHEN u < 0.99634015317 THEN 4
            WHEN u < 0.99940581518 THEN 5
            WHEN u < 0.99991675944 THEN 6
            WHEN u < 0.99998974847 THEN 7
            WHEN u < 0.99999886011 THEN 8
            ELSE 9 END) AS w
  FROM (
    SELECT event_type, value, r,
           ('0x' || substr(md5('boot-v1:' || r::VARCHAR || ':'
                                || event_id::VARCHAR), 1, 8))::BIGINT
             / 4294967296.0 AS u
    FROM reps)),
means AS (
  SELECT event_type, r, sum(w * value) / sum(w) AS m
  FROM wtd GROUP BY event_type, r
  HAVING sum(w) > 0),
ranked AS (
  SELECT event_type, m,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY m ASC, r ASC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS surv
  FROM means),
picks AS (
  SELECT event_type, round(min(m), 6) AS ci_lo, round(max(m), 6) AS ci_hi
  FROM ranked
  WHERE rn IN (cast(floor((25 * surv + 999) / 1000.0) AS BIGINT),
               cast(floor((975 * surv + 999) / 1000.0) AS BIGINT))
  GROUP BY event_type),
obs AS (
  SELECT event_type, round(avg(value), 6) AS mean_obs
  FROM events GROUP BY event_type)
SELECT o.event_type, mean_obs, ci_lo, ci_hi
FROM obs o JOIN picks p ON o.event_type = p.event_type
ORDER BY o.event_type
""")
def bootstrap_ci_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean value per event_type
    (operators/stats.bootstrap_ci, 100 replicas): i.i.d. per-row
    Poisson(1) weights make every replica materialize in ONE explode
    with map-side-combined aggregation — the bootstrap that
    distributes (no per-replica global resample). Deterministic
    md5-derived weights and order-statistic percentiles make the
    whole estimator replayable in SQL. 100 replicas (was 200 through
    round 11): the md5-per-(row,replica) weight derivation is the
    whole cost, linear in replicas, and 100 keeps the percentile
    ranks (2.5th/97.5th) meaningful while halving the scan volume —
    the SCALE.md-recorded cost/variance trade."""
    from parlerproject_spark.operators.stats import bootstrap_ci
    ev = _t(spark, sf_dir, "events")
    return (bootstrap_ci(ev, key_col="event_type", val_col="value",
                         id_col="event_id", n_replicas=100)
            .orderBy("event_type"))


@register("except_all_priorities", """
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
EXCEPT ALL
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
""")
def except_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL (engine add completing the §2.7 set-op
    family): bag difference keeps surplus MULTIPLICITY, not mere
    membership — Spark exceptAll plans it as a count-difference
    generate, one aggregation, no join explosion."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    return a.exceptAll(b)


@register("intersect_all_priorities", """
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
INTERSECT ALL
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
""")
def intersect_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL — min-of-multiplicities bag
    intersection (Spark intersectAll)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    return a.intersectAll(b)


@register("format_signals_docs", r"""
WITH b AS (
  SELECT doc_id, text, length(text)::DOUBLE AS nc,
         list_filter(string_split(text, chr(10)), l -> len(l) > 0) AS ls
  FROM documents
  WHERE length(text) > 0),
b2 AS (SELECT * FROM b WHERE len(ls) > 0),
m AS (
  SELECT doc_id, text, nc, ls, len(ls)::DOUBLE AS nl,
         list_sum(list_transform(ls, l -> len(l)::DOUBLE)) / len(ls)
           AS mean
  FROM b2),
v AS (
  SELECT doc_id, nc, nl, mean,
         list_sum(list_transform(ls,
             l -> (len(l)::DOUBLE - mean) * (len(l)::DOUBLE - mean)))
           / nl AS var,
         len(list_filter(ls, l -> left(l, 1) IN (' ', chr(9))))::DOUBLE
           / nl AS ind,
         length(regexp_replace(text, '[A-Za-z0-9 \n]', '', 'g'))::DOUBLE
           / nc AS sym,
         length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
           / nc AS dig,
         length(regexp_replace(text, '[^{}();=<>\[\]]', '', 'g'))::DOUBLE
           / nc AS pc
  FROM m)
SELECT doc_id, nl::BIGINT AS n_lines,
       round(ind, 6) AS indent_ratio,
       round(CASE WHEN mean > 0 THEN sqrt(var) / mean
                  ELSE 0.0 END, 6) AS line_cv,
       round(sym, 6) AS symbol_ratio,
       round(dig, 6) AS digit_ratio,
       round(2.0 * pc + sym + ind / 2.0, 6) AS code_score,
       CASE WHEN 2.0 * pc + sym + ind / 2.0 >= 0.08
            THEN 'code' ELSE 'prose' END AS label
FROM v
ORDER BY doc_id
""")
def format_signals_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural format signals + code/prose router label per
    document (text_analysis.format_signals): indent discipline,
    line-length CV, symbol/digit/code-punctuation densities, and
    the fixed-weight code_score — the mixture router that sends
    code-like documents to code-aware tokenization/quality rules
    instead of rejecting them under prose heuristics. Zero-shuffle
    scan-stage algebra; the oracle rebuilds every ratio from the
    same integer counts."""
    from parlerproject_spark.operators.text_analysis import format_signals
    return (format_signals(_t(spark, sf_dir, "documents"))
            .orderBy("doc_id"))


@register("acf_users", """
WITH b AS (
  SELECT user_id, ts, event_id,
         value - avg(value) OVER (PARTITION BY user_id) AS xc
  FROM events),
l AS (
  SELECT user_id, xc,
         lag(xc, 1) OVER w AS l1,
         lag(xc, 2) OVER w AS l2,
         lag(xc, 3) OVER w AS l3
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, count(*)::BIGINT AS n,
       CASE WHEN sum(xc * xc) > 0
            THEN round(sum(xc * l1) / sum(xc * xc), 6) END AS r1,
       CASE WHEN sum(xc * xc) > 0
            THEN round(sum(xc * l2) / sum(xc * xc), 6) END AS r2,
       CASE WHEN sum(xc * xc) > 0
            THEN round(sum(xc * l3) / sum(xc * xc), 6) END AS r3
FROM l GROUP BY user_id
ORDER BY user_id
""")
def acf_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1..3 autocorrelation of value over time
    (timeseries.autocorrelation): the serial-dependence diagnostic
    next to ses_forecast/cusum — one keyed scan, per-key-mean via a
    keyed full-frame window, lags over one keyed sort, one
    map-side-combined groupBy. Oracle replays the identical window
    algebra."""
    from parlerproject_spark.operators.timeseries import autocorrelation
    return (autocorrelation(_t(spark, sf_dir, "events"))
            .orderBy("user_id"))


@register("ses_forecast_users", """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket,
         round(sum(value), 4) AS x
  FROM events WHERE user_id < 20
  GROUP BY user_id, date_trunc('hour', ts)),
idx AS (
  SELECT user_id, x,
         row_number() OVER (PARTITION BY user_id ORDER BY bucket) - 1 AS t,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM hourly)
SELECT user_id,
       cast(max(n) AS BIGINT) AS n_buckets,
       round(sum((CASE WHEN t = 0 THEN pow(0.5, n - 1)
                       ELSE 0.5 * pow(0.5, n - 1 - t) END) * x), 6)
         AS level
FROM idx GROUP BY user_id
ORDER BY user_id
""")
def ses_forecast_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user simple-exponential-smoothing level over hourly value
    sums (operators/timeseries.ses_level, alpha=0.5): the recursion
    collapsed to its closed-form weighted sum — one window + one
    aggregation per key, no iterative fold; power-of-two weights so
    both engines' pow() agree exactly."""
    from parlerproject_spark.operators.timeseries import ses_level
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    hourly = (ev.groupBy("user_id",
                         F.date_trunc("hour", "ts").alias("bucket"))
              .agg(F.round(F.sum("value"), 4).alias("x")))
    return (ses_level(hourly, key_col="user_id", bucket_col="bucket",
                      val_col="x", alpha=0.5)
            .orderBy("user_id"))


@register("trimmed_mean_events", """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value ASC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events),
kept AS (
  SELECT event_type, value, floor(n * 0.05) AS k, n
  FROM ranked
  WHERE rn > floor(n * 0.05) AND rn <= n - floor(n * 0.05))
SELECT event_type,
       cast(count(*) AS BIGINT) AS n_used,
       cast(max(k) AS BIGINT) AS n_trimmed_each,
       round(avg(value), 6) AS tmean
FROM kept GROUP BY event_type
ORDER BY event_type
""")
def trimmed_mean_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location estimate (operators/stats.trimmed_mean, 5%
    symmetric trim): rank-based trimming — no percentile
    interpolation to drift between engines — one keyed window + one
    aggregation."""
    from parlerproject_spark.operators.stats import trimmed_mean
    ev = _t(spark, sf_dir, "events")
    return (trimmed_mean(ev, key_col="event_type", val_col="value",
                         trim=0.05)
            .orderBy("event_type"))


@register("negative_samples_docs", """
WITH counts AS (
  SELECT token, count(*) AS c
  FROM (SELECT unnest(list_filter(
                  string_split_regex(lower(text), '[^a-z0-9]+'),
                  t -> t <> '')) AS token
        FROM documents)
  GROUP BY token HAVING count(*) >= 5),
bounds AS (
  SELECT token,
         sum(sqrt(c) * sqrt(sqrt(c))) OVER (ORDER BY token
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
         sum(sqrt(c) * sqrt(sqrt(c))) OVER (ORDER BY token
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - sqrt(c) * sqrt(sqrt(c)) AS lo
  FROM counts),
total AS (SELECT max(hi) AS W FROM bounds),
draws AS (
  SELECT i AS draw_id,
         ('0x' || substr(md5('neg-v1:' || i::VARCHAR), 1, 8))::BIGINT
           / 4294967296.0 * W AS u
  FROM range(0, 500) AS t(i) CROSS JOIN total)
SELECT draw_id, token
FROM draws JOIN bounds ON u >= lo AND u < hi
ORDER BY draw_id
""")
def negative_samples_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style negative sampling (operators/sampling
    .negative_sampling_draws): 500 deterministic draws from the
    unigram^0.75 noise distribution via inverse-CDF range join
    against broadcast vocabulary bounds. The 0.75 temper is
    sqrt(c)*sqrt(sqrt(c)) — exactly-rounded sqrt, not libm pow — so
    both engines build the identical cumulative table."""
    from parlerproject_spark.operators.sampling import (
        negative_sampling_draws)
    docs = _t(spark, sf_dir, "documents")
    return (negative_sampling_draws(docs, 500, min_count=5)
            .orderBy("draw_id"))


@register("retractable_rollup_events", """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
       event_type,
       cast(count(*) AS BIGINT) AS n_rows,
       round(sum(value), 4) + 0.0 AS sum_value
FROM events WHERE event_id % 7 <> 0
GROUP BY 1, 2
ORDER BY bucket, event_type
""")
def retractable_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-aware incremental rollup (operators/rollup
    .retractable_rollup/merge_retractable): the full event stream as
    +1 upserts merged with a retraction stream (event_id %% 7 == 0
    as -1) must equal the oracle's direct recompute over the
    surviving rows — the CDC-maintained linear-aggregate view."""
    from parlerproject_spark.operators.rollup import (merge_retractable,
                                                      retractable_rollup)
    ev = _t(spark, sf_dir, "events")
    ins = ev.withColumn("op", F.lit(1))
    dels = ev.filter(F.col("event_id") % 7 == 0) \
             .withColumn("op", F.lit(-1))
    bucket = F.date_format(F.date_trunc("day", F.col("ts")),
                           "yyyy-MM-dd")
    parts = [retractable_rollup(d, bucket=bucket,
                                key_cols=["event_type"],
                                value_col="value", op_col="op")
             for d in (ins, dels)]
    return (merge_retractable(*parts)
            .select("bucket", "event_type",
                    F.col("n_rows").cast("long").alias("n_rows"),
                    (F.round("sum_value", 4) + F.lit(0.0))
                    .alias("sum_value"))
            .orderBy("bucket", "event_type"))


@register("erase_audit_events", """
SELECT 'events' AS table_name,
       (SELECT count(*) FROM events) AS n_before,
       (SELECT count(*) FROM events WHERE user_id IN (1, 2, 3))
         AS n_dropped
UNION ALL
SELECT 'orders',
       (SELECT count(*) FROM orders),
       (SELECT count(*) FROM orders WHERE o_custkey IN (1, 2, 3))
ORDER BY table_name
""")
def erase_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten audit (operators/privacy.erase_keys):
    subjects {1,2,3} erased across events (user_id) and orders
    (o_custkey) via broadcast anti-joins; the audit rows are the
    compliance record and must equal the oracle's direct counts."""
    from parlerproject_spark.operators.privacy import erase_keys
    _, audit = erase_keys(
        {"events": _t(spark, sf_dir, "events"),
         "orders": _t(spark, sf_dir, "orders")},
        {"events": "user_id", "orders": "o_custkey"},
        [1, 2, 3], spark=spark)
    return audit.orderBy("table_name")


@register("k_anonymity_events", """
WITH classes AS (
  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n,
         count(DISTINCT user_id) AS l
  FROM events GROUP BY event_type, CAST(ts AS DATE))
SELECT cast(sum(n) AS BIGINT) AS n_rows,
       cast(count(*) AS BIGINT) AS n_classes,
       cast(min(n) AS BIGINT) AS min_class_size,
       cast(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
         AS rows_below_k,
       round(sum(CASE WHEN n < 5 THEN n ELSE 0 END)::DOUBLE / sum(n), 6)
         AS pct_below_k,
       cast(min(l) AS BIGINT) AS min_l_diversity,
       cast(sum(CASE WHEN l < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_below_l
FROM classes
""")
def k_anonymity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity release audit
    (operators/privacy.k_anonymity_audit) over events with
    quasi-identifiers (event_type, event date) and user_id as the
    sensitive attribute at k=5 — the disclosure-risk companion to
    the erase/redact pipeline: one quasi-keyed aggregation + one
    global rollup, no joins against the raw frame."""
    from parlerproject_spark.operators.privacy import k_anonymity_audit
    ev = _t(spark, sf_dir, "events")
    return k_anonymity_audit(
        ev.select("event_type", F.col("ts").cast("date").alias("d"),
                  "user_id"),
        ["event_type", "d"], k=5, sensitive_col="user_id")


def _bt_iter_sql(iters: int) -> str:
    """Unrolled Bradley-Terry MM iterations: each round is a
    raw-update CTE (W_i / Sum n/(p_i+p_j)) + a mean-1 renormalize +
    round(6) CTE — the same fixed-iteration-unroll strategy as the
    Lloyd/PageRank/logreg oracles, with the division order mirroring
    the engine exactly (z = N/Sum r computed first, then r*z)."""
    out = []
    prev = "p0"
    for k in range(1, iters + 1):
        out.append(f""",
raw{k} AS (
  SELECT m.i AS item, max(wt.W) / sum(m.n / (pi.p + pj.p)) AS r
  FROM m JOIN wt ON wt.i = m.i
  JOIN {prev} pi ON pi.item = m.i
  JOIN {prev} pj ON pj.item = m.j
  GROUP BY m.i),
p{k} AS (
  SELECT item,
         round(r * ((SELECT count(*) FROM raw{k})
                    / (SELECT sum(r) FROM raw{k})), 6) AS p
  FROM raw{k})""")
        prev = f"p{k}"
    return "".join(out)


@register("preference_pairs_events", """
WITH r AS (
  SELECT try_cast(json_extract_string(props, '$.k') AS BIGINT) AS g,
         event_id AS i, value AS s
  FROM events
  WHERE try_cast(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL),
ranked AS (
  SELECT g, i, s,
         row_number() OVER (PARTITION BY g ORDER BY s DESC, i ASC) AS rb,
         row_number() OVER (PARTITION BY g ORDER BY s ASC, i ASC) AS rw
  FROM r),
best AS (SELECT g, i AS chosen_id, s AS chosen_score
         FROM ranked WHERE rb = 1),
worst AS (SELECT g, i AS rejected_id, s AS rejected_score
          FROM ranked WHERE rw = 1)
SELECT b.g AS prompt_id, chosen_id, rejected_id,
       round(chosen_score, 6) AS chosen_score,
       round(rejected_score, 6) AS rejected_score,
       round(chosen_score - rejected_score, 6) AS margin
FROM best b JOIN worst w ON b.g = w.g
WHERE chosen_id <> rejected_id
  AND round(chosen_score - rejected_score, 6) >= 50.0
ORDER BY prompt_id
""")
def preference_pairs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/reward-model pair construction
    (operators/preference.preference_pairs): per object key, the
    best-scored event vs the worst-scored one, kept only when the
    score margin clears 50 — the standard high-signal chosen/rejected
    pairing with noise-pair filtering. Two group-partitioned rank
    windows over one exchange; nothing global."""
    from parlerproject_spark.operators.preference import preference_pairs
    e = _t(spark, sf_dir, "events")
    r = e.select(
        F.expr("try_cast(get_json_object(props, '$.k') AS bigint)")
        .alias("prompt_id"),
        F.col("event_id").alias("item_id"),
        F.col("value").alias("score")).filter(F.col("prompt_id").isNotNull())
    return (preference_pairs(r, margin=50.0)
            .orderBy("prompt_id"))


@register("bradley_terry_sources", """
WITH cmp AS (
  SELECT CASE WHEN a.n_chars > b.n_chars THEN a.source ELSE b.source END
           AS winner,
         CASE WHEN a.n_chars > b.n_chars THEN b.source ELSE a.source END
           AS loser
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.source <> b.source AND a.n_chars <> b.n_chars),
d AS (SELECT winner AS i, loser AS j, count(*)::DOUBLE AS w
      FROM cmp GROUP BY winner, loser),
m AS (
  SELECT coalesce(d.i, r.i) AS i, coalesce(d.j, r.j) AS j,
         coalesce(d.w, 0) + 0.5 AS w,
         coalesce(d.w, 0) + coalesce(r.l, 0) + 1.0 AS n
  FROM d FULL OUTER JOIN (SELECT j AS i, i AS j, w AS l FROM d) r
    ON d.i = r.i AND d.j = r.j),
wt AS (SELECT i, sum(w) AS W FROM m GROUP BY i),
p0 AS (SELECT i AS item, 1.0 AS p FROM wt)""" + _bt_iter_sql(3) + """
SELECT p3.item, p3.p AS strength,
       cast(coalesce(w.nw, 0) AS BIGINT) AS n_wins,
       cast(coalesce(w.nw, 0) + coalesce(l.nl, 0) AS BIGINT) AS n_games
FROM p3
LEFT JOIN (SELECT winner, count(*) AS nw FROM cmp GROUP BY winner) w
  ON w.winner = p3.item
LEFT JOIN (SELECT loser, count(*) AS nl FROM cmp GROUP BY loser) l
  ON l.loser = p3.item
ORDER BY item
""")
def bradley_terry_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference strengths
    (operators/preference.bradley_terry) over per-SOURCE pairwise
    comparisons synthesized deterministically from the corpus:
    consecutive doc pairs (doc_id, doc_id+1) across different
    sources, winner = the longer document — the "which source wins
    head-to-head" readout an RLHF pipeline computes over judge
    verdicts. 3 MM iterations, Laplace 0.5 smoothing, round-6
    re-sync each round; the oracle unrolls the identical updates."""
    from parlerproject_spark.operators.preference import bradley_terry
    docs = _t(spark, sf_dir, "documents")
    a = docs.select("doc_id", F.col("source").alias("sa"),
                    F.col("n_chars").alias("ca"))
    b = docs.select((F.col("doc_id") - 1).alias("doc_id"),
                    F.col("source").alias("sb"),
                    F.col("n_chars").alias("cb"))
    cmp = (a.join(b, "doc_id")
           .filter((F.col("sa") != F.col("sb"))
                   & (F.col("ca") != F.col("cb")))
           .select(F.when(F.col("ca") > F.col("cb"), F.col("sa"))
                   .otherwise(F.col("sb")).alias("winner"),
                   F.when(F.col("ca") > F.col("cb"), F.col("sb"))
                   .otherwise(F.col("sa")).alias("loser")))
    return bradley_terry(cmp).orderBy("item")


@register("token_js_divergence_sources", """
WITH tok AS (
  SELECT source AS g,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS t
  FROM documents),
gt AS (SELECT g, t, count(*)::DOUBLE AS c_g FROM tok GROUP BY g, t),
tot_t AS (SELECT t, sum(c_g) AS c FROM gt GROUP BY t),
tot_g AS (SELECT g, sum(c_g) AS n_g FROM gt GROUP BY g),
n AS (SELECT sum(c) AS n FROM tot_t),
j AS (
  SELECT gt.g, gt.c_g / tg.n_g AS p, tt.c / n.n AS q, tg.n_g
  FROM gt JOIN tot_t tt USING (t) JOIN tot_g tg USING (g) CROSS JOIN n),
per_g AS (
  SELECT g,
         sum(0.5 * p * ln(p / ((p + q) / 2.0))
             + 0.5 * q * ln(q / ((p + q) / 2.0))) AS in_mass,
         sum(q) AS qmass, max(n_g) AS n_g
  FROM j GROUP BY g)
SELECT g AS source, cast(n_g AS BIGINT) AS n_tokens,
       round(in_mass + 0.5 * 0.6931471805599453 * (1.0 - qmass), 6)
         AS js_divergence
FROM per_g
ORDER BY source
""")
def token_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram Jensen-Shannon divergence vs the corpus
    distribution (operators/text_analysis.token_js_divergence) — the
    lexical drift / mixture diagnostic. The out-of-group vocabulary
    mass collapses to a closed form (ln2 * (1 - covered q-mass)), so
    the plan is one (source, token) aggregation + one token-keyed
    join + one per-source rollup — no full-outer against the
    vocabulary."""
    from parlerproject_spark.operators.text_analysis import (
        token_js_divergence)
    docs = _t(spark, sf_dir, "documents")
    return token_js_divergence(docs).orderBy("source")


@register("embedding_drift_snapshots", """
WITH old AS (SELECT * FROM embeddings WHERE vec_id % 2 = 0),
new_ AS (SELECT * FROM embeddings WHERE vec_id % 2 = 1),
exo AS (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM old),
exn AS (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM new_),
mo AS (SELECT pos, avg(x) AS m_old FROM exo GROUP BY pos),
mn AS (SELECT pos, avg(x) AS m_new FROM exn GROUP BY pos),
comp AS (
  SELECT sum((m_old - m_new) * (m_old - m_new)) AS sq,
         sum(m_old * m_new) AS dp,
         sum(m_old * m_old) AS na, sum(m_new * m_new) AS nb
  FROM mo JOIN mn USING (pos)),
so AS (
  SELECT count(*) AS n_old, avg(nrm) AS avg_old
  FROM (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM exo GROUP BY vec_id)),
sn AS (
  SELECT count(*) AS n_new, avg(nrm) AS avg_new
  FROM (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM exn GROUP BY vec_id))
SELECT cast(n_old AS BIGINT) AS n_old, cast(n_new AS BIGINT) AS n_new,
       round(sqrt(sq), 6) AS mean_l2_shift,
       round(dp / (sqrt(na) * sqrt(nb)), 6) AS mean_cosine,
       round(avg_new / avg_old, 6) AS norm_ratio
FROM so CROSS JOIN sn CROSS JOIN comp
""")
def embedding_drift_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between two deterministic snapshot
    halves of the embeddings table (vec_id parity stands in for
    old/new) via operators/profiling.embedding_drift: mean-vector L2
    shift + cosine + norm ratio — the vector companion of the PSI/KS
    scalar drift monitors; two narrow scans, two d-row exchanges, no
    corpus joins."""
    from parlerproject_spark.operators.profiling import embedding_drift
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_drift(emb.filter(F.col("vec_id") % 2 == 0),
                           emb.filter(F.col("vec_id") % 2 == 1))


@register("source_scorecard_docs", """
WITH fp AS (
  SELECT doc_id, source,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f,
         length(text) AS n_chars,
         len(list_filter(string_split_regex(text, '\\s+'),
                         t -> t <> '')) AS n_tokens,
         round(least(length(text) / 500.0, 1.0) *
               (CASE WHEN length(text) > 0
                     THEN length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
                          * 1.0 / length(text)
                     ELSE 0.0 END), 6) AS q
  FROM documents),
dupes AS (
  SELECT f, count(*) AS df FROM fp GROUP BY f)
SELECT source,
       cast(count(*) AS BIGINT) AS n_docs,
       round(avg(q), 6) AS mean_quality,
       round(avg(n_tokens), 4) AS mean_tokens,
       round(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS dup_share
FROM fp JOIN dupes USING (f)
GROUP BY source
ORDER BY source
""")
def source_scorecard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus scorecard — the ingest-review dashboard
    row: volume, mean heuristic quality, mean token length, and the
    share of docs whose exact-dedup fingerprint collides anywhere in
    the corpus. One scan; the fingerprint df rides a window over one
    fingerprint exchange (capped_shingles pattern — no join-back
    recompute of the scan)."""
    from parlerproject_spark.functions.text import (fingerprint_md5,
                                                    quality_score,
                                                    token_count)
    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        "source", fingerprint_md5("text").alias("f"),
        quality_score("text").alias("q"),
        token_count("text").alias("n_tokens")).repartition("f")
    dfw = F.count(F.lit(1)).over(Window.partitionBy("f"))
    return (fp.withColumn("df", dfw)
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.round(F.avg("q"), 6).alias("mean_quality"),
                 F.round(F.avg("n_tokens"), 4).alias("mean_tokens"),
                 F.round(F.sum((F.col("df") > 1).cast("int"))
                         / F.count(F.lit(1)), 6).alias("dup_share"))
            .orderBy("source"))


_REFRESH_SQL = """
WITH batch AS (
  SELECT doc_id, source, text FROM documents WHERE doc_id % 3 = 0),
bfp AS (
  SELECT doc_id, source, text,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
  FROM batch),
cfp AS (
  SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
           AS f
  FROM documents WHERE doc_id % 3 <> 0),
ex AS (
  SELECT doc_id, source, text FROM bfp
  WHERE f NOT IN (SELECT f FROM cfp)),
toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS ts
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(gram), 1, 15))::BIGINT % 2147483647 AS sh
  FROM (
    SELECT doc_id,
           array_to_string(ts[i:i+2], ' ') AS gram
    FROM toks, unnest(range(1, len(ts) - 1)) AS t(i)
    WHERE len(ts) >= 3)),
sig AS (
  SELECT doc_id,
       @MINS@
  FROM grams GROUP BY doc_id),
buckets AS (
  @BANDS@),
cand AS (
  SELECT DISTINCT p.doc_id AS new_id, s.doc_id AS seen_id
  FROM buckets p JOIN buckets s
    ON p.band = s.band AND p.key = s.key
  WHERE p.doc_id IN (SELECT doc_id FROM ex) AND s.doc_id % 3 <> 0),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM grams GROUP BY doc_id),
nd AS (
  SELECT DISTINCT new_id
  FROM (
    SELECT new_id, seen_id, count(*) AS n_common
    FROM cand
    JOIN grams a ON a.doc_id = new_id
    JOIN grams b ON b.doc_id = seen_id AND a.sh = b.sh
    GROUP BY new_id, seen_id) i
  JOIN sizes sa ON sa.doc_id = i.new_id
  JOIN sizes sb ON sb.doc_id = i.seen_id
  WHERE round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.5),
near AS (
  SELECT * FROM ex WHERE doc_id NOT IN (SELECT new_id FROM nd)),
gbase AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(text, '\\s+'),
                     w -> w <> '') AS ws
  FROM near),
kept AS (
  SELECT doc_id, source, len(ws) AS n_tokens
  FROM gbase
  WHERE len(ws) BETWEEN 50 AND 100000
    AND round(cast(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
              / greatest(len(ws), 1), 4) BETWEEN 3.0 AND 10.0
    AND round(cast(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))
                   AS DOUBLE) / greatest(len(ws), 1), 6) >= 0.8),
s_batch AS (SELECT source, count(*) AS n_batch FROM batch GROUP BY source),
s_ex AS (SELECT source, count(*) AS n_exact FROM ex GROUP BY source),
s_near AS (SELECT source, count(*) AS n_near FROM near GROUP BY source),
s_kept AS (
  SELECT source, count(*) AS n_kept, sum(n_tokens) AS n_tokens
  FROM kept GROUP BY source),
joined AS (
  SELECT b.source, b.n_batch,
         coalesce(e.n_exact, 0) AS n_exact,
         coalesce(n.n_near, 0) AS n_near,
         coalesce(k.n_kept, 0) AS n_kept,
         coalesce(k.n_tokens, 0) AS n_tokens,
         sqrt(coalesce(k.n_tokens, 0))
           * sqrt(sqrt(coalesce(k.n_tokens, 0))) AS tw
  FROM s_batch b
  LEFT JOIN s_ex e USING (source)
  LEFT JOIN s_near n USING (source)
  LEFT JOIN s_kept k USING (source)),
total AS (SELECT sum(tw) AS tt FROM joined)
SELECT source,
       cast(n_batch AS BIGINT) AS n_batch,
       cast(n_exact AS BIGINT) AS n_exact,
       cast(n_near AS BIGINT) AS n_near,
       cast(n_kept AS BIGINT) AS n_kept,
       cast(n_tokens AS BIGINT) AS n_tokens,
       round(tw / tt, 6) AS weight
FROM joined CROSS JOIN total
ORDER BY source
""".replace("@MINS@", _MINHASH_MINS).replace("@BANDS@", _MINHASH_BANDS)


@register("corpus_refresh_pipeline", _REFRESH_SQL)
def corpus_refresh_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CORPUS REFRESH: an incoming snapshot (doc_id % 3
    == 0) folds into a standing corpus (the rest) through the full
    ingest gauntlet — exact dedup against the corpus fingerprint set
    (anti-join), incremental MinHash near-dup against the corpus's
    banded store (dedup.incremental_near_dup_minhash — history text
    never re-read), the Gopher word-band/mean-length/alpha quality
    gate, then tempered (p^0.75, sqrt-composed) per-source mixture
    weights over the surviving token mass. Every stage is a verified
    operator composed unchanged; the oracle chains the same stages
    as CTEs. Output: per-source funnel counts + final weight."""
    from parlerproject_spark.functions.text import (fingerprint_md5,
                                                    token_count)
    from parlerproject_spark.operators.dedup import (
        incremental_near_dup_minhash, minhash_band_buckets,
        minhash_signatures, shingles)
    from parlerproject_spark.operators.quality_rules import (
        gopher_quality_flags)
    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 3 == 0) \
        .select("doc_id", "source", "text")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    # no distinct(): anti-join semantics ignore right-side duplicates,
    # so deduping the fingerprint set is a pure extra aggregation
    cset = corpus.select(fingerprint_md5("text").alias("f"))
    # ex and near each feed multiple funnel branches (their own
    # count + every later stage); Spark shares no subplans, so
    # persist() the two batch-sized branch points — the cached unit
    # is the INGEST BATCH, not the standing corpus, so the cache is
    # bounded by design at any corpus scale
    ex = (batch.withColumn("f", fingerprint_md5("text"))
          .join(cset, "f", "left_anti").drop("f").persist())
    # the standing corpus's shingle + bucket tables are the STORE —
    # in production they are written tables the ingest job reads; the
    # persist stands in for that materialization so the corpus text
    # is shingled exactly once (r6 re-derived it in three branches:
    # signatures, intersection join, |B| counts)
    seen_sh = shingles(corpus).repartition("doc_id").persist()
    seen_sig = minhash_signatures(corpus, _shingles_df=seen_sh)
    nd = (incremental_near_dup_minhash(
        ex, minhash_band_buckets(seen_sig).persist(), seen_sh,
        threshold=0.5)
        .select(F.col("new_id").alias("doc_id")).distinct())
    near = ex.join(nd, "doc_id", "left_anti").persist()
    flags = gopher_quality_flags(near)
    kept = (near.join(
        flags.filter(F.col("pass_words") & F.col("pass_mean_len")
                     & F.col("pass_alpha")).select("doc_id"),
        "doc_id", "left_semi")
        .select("doc_id", "source", token_count("text").alias("n_tokens")))
    s_batch = batch.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batch"))
    s_ex = ex.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    s_near = near.groupBy("source").agg(F.count(F.lit(1)).alias("n_near"))
    s_kept = (kept.groupBy("source")
              .agg(F.count(F.lit(1)).alias("n_kept"),
                   F.sum("n_tokens").alias("n_tokens")))
    tw = (F.sqrt(F.col("n_tokens"))
          * F.sqrt(F.sqrt(F.col("n_tokens"))))
    joined = (s_batch
              .join(s_ex, "source", "left")
              .join(s_near, "source", "left")
              .join(s_kept, "source", "left")
              .select("source", "n_batch",
                      F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
                      F.coalesce("n_near", F.lit(0)).alias("n_near"),
                      F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                      F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"))
              .withColumn("tw", tw))
    total = joined.agg(F.sum("tw").alias("tt"))
    return (joined.crossJoin(F.broadcast(total))
            .select("source",
                    F.col("n_batch").cast("long").alias("n_batch"),
                    F.col("n_exact").cast("long").alias("n_exact"),
                    F.col("n_near").cast("long").alias("n_near"),
                    F.col("n_kept").cast("long").alias("n_kept"),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.round(F.col("tw") / F.col("tt"), 6).alias("weight"))
            .orderBy("source"))


@register("search_snippets_docs", """
WITH s AS (
  SELECT doc_id,
         ' ' || regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g') || ' '
           AS st,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents),
hit AS (
  SELECT doc_id, st,
         least(nullif(instr(st, ' hash '), 0),
               nullif(instr(st, ' join '), 0)) AS first_pos,
         len(list_filter(ts, t -> t IN ('hash', 'join'))) AS n_hits
  FROM s)
SELECT doc_id, cast(first_pos AS BIGINT) AS first_pos,
       cast(n_hits AS BIGINT) AS n_hits,
       trim(substr(st, greatest(first_pos - 60, 1), 120)) AS snippet
FROM hit WHERE first_pos IS NOT NULL
ORDER BY doc_id
""")
def search_snippets_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval snippets (operators/retrieval.search_snippets) for
    the query {hash, join}: earliest-occurrence character window +
    total hit count per matching doc — zero-shuffle scalar pipeline
    (literal instr probes, one boundary regexp_count, one
    substring). The oracle rebuilds the stream and counts hits via
    the token list (RE2 has no lookbehind)."""
    from parlerproject_spark.operators.retrieval import search_snippets
    docs = _t(spark, sf_dir, "documents")
    return (search_snippets(docs, ["hash", "join"])
            .orderBy("doc_id"))


@register("hybrid_rerank_docs", """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents),
lens AS (SELECT doc_id, len(ts) AS dl FROM toks),
stats AS (SELECT cast(count(*) AS DOUBLE) AS n_docs,
                 avg(dl) AS avgdl FROM lens),
post AS (
  SELECT doc_id, w AS term, cast(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(ts) AS w FROM toks)
  WHERE w IN ('spark', 'join', 'query')
  GROUP BY doc_id, w),
wdf AS (SELECT term, cast(count(*) AS DOUBLE) AS df FROM post GROUP BY term),
scored AS (
  SELECT p.doc_id,
         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * 2.2)
           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
  FROM post p
  JOIN wdf USING (term)
  JOIN lens USING (doc_id)
  CROSS JOIN stats),
cand AS (
  SELECT doc_id, round(sum(s), 6) AS score
  FROM scored GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC
  LIMIT 50),
cov AS (
  SELECT doc_id,
         round(count(DISTINCT term) / 3.0, 6) AS coverage
  FROM post WHERE doc_id IN (SELECT doc_id FROM cand)
  GROUP BY doc_id),
mx AS (SELECT max(score) AS m FROM cand),
rr AS (
  SELECT c.doc_id, c.score, v.coverage,
         round(0.5 * v.coverage + 0.5 * c.score / m, 6) AS rerank_score
  FROM cand c JOIN cov v USING (doc_id) CROSS JOIN mx)
SELECT doc_id, score, coverage, rerank_score,
       cast(row_number() OVER (ORDER BY rerank_score DESC, doc_id ASC)
            AS BIGINT) AS rank
FROM rr
ORDER BY rerank_score DESC, doc_id ASC
LIMIT 10
""")
def hybrid_rerank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (operators/retrieval.hybrid_rerank): BM25
    recall (50 candidates) then a bounded lexical rerank — the
    retrieve→rerank serving shape with the rerank stage as the
    model-scorer seam. Stage 2 re-reads only the broadcast candidate
    set, never the corpus."""
    from parlerproject_spark.operators.retrieval import hybrid_rerank
    return hybrid_rerank(_t(spark, sf_dir, "documents"),
                         ["spark", "join", "query"],
                         k_candidates=50, top_k=10)


_LEXICON = ["table scan", "hash join", "sort merge", "data stream",
            "window agg", "slow query", "fast table", "batch window",
            "key scan", "row group"]

_LEXICON_VALUES = ",\n       ".join(f"('{p}')" for p in _LEXICON)

@register("dictionary_tag_docs", f"""
WITH dict(phrase) AS (VALUES {_LEXICON_VALUES}),
c AS (
  SELECT d.doc_id, t.phrase,
         CAST((length(d.text) - length(replace(d.text, t.phrase, '')))
              // length(t.phrase) AS BIGINT) AS n
  FROM documents d CROSS JOIN dict t)
SELECT doc_id, phrase, n FROM c WHERE n > 0
ORDER BY doc_id, phrase
""")
def dictionary_tag_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary tagging (operators/lexicon.dictionary_tag): greedy
    non-overlapping occurrence counts for a 10-phrase lexicon over
    every document in ONE corpus scan (per-phrase replace-length
    expressions, no join, no Python) — the blocklist-audit /
    weak-label / brand-safety primitive. The arrow impl (Aho-
    Corasick, one pass regardless of dictionary size) is proved
    equivalent by pytest; the oracle replays the expr contract."""
    from parlerproject_spark.operators.lexicon import dictionary_tag
    return (dictionary_tag(_t(spark, sf_dir, "documents"), _LEXICON)
            .orderBy("doc_id", "phrase"))


@register("dictionary_tag_arrow_docs", f"""
WITH dict(phrase) AS (VALUES {_LEXICON_VALUES}),
c AS (
  SELECT d.doc_id, t.phrase,
         CAST((length(d.text) - length(replace(d.text, t.phrase, '')))
              // length(t.phrase) AS BIGINT) AS n
  FROM documents d CROSS JOIN dict t)
SELECT doc_id, phrase, n FROM c WHERE n > 0
ORDER BY doc_id, phrase
""")
def dictionary_tag_arrow_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Aho-Corasick ONE-PASS path of dictionary tagging
    (operators/lexicon.dictionary_tag impl='arrow') driver-verified
    against the same replace-contract oracle as the expr path: the
    automaton builds once per worker, scans each document once
    regardless of dictionary size, and greedy per-phrase suppression
    reproduces the non-overlapping count bit-for-bit — so the 100 TB
    path carries its own hash-match, not just an equivalence pytest."""
    from parlerproject_spark.operators.lexicon import dictionary_tag
    return (dictionary_tag(_t(spark, sf_dir, "documents"), _LEXICON,
                           impl="arrow")
            .orderBy("doc_id", "phrase"))


@register("blocklist_filter_docs", """
WITH s AS (
  SELECT doc_id,
         ' ' || regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g') || ' '
           AS st
  FROM documents)
SELECT doc_id,
       cast((CASE WHEN instr(st, ' spill ') > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN instr(st, ' leak ') > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN instr(st, ' corrupt ') > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_blocked_terms,
       ((CASE WHEN instr(st, ' spill ') > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN instr(st, ' leak ') > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN instr(st, ' corrupt ') > 0 THEN 1 ELSE 0 END)) = 0
         AS keep
FROM s
ORDER BY doc_id
""")
def blocklist_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist gate (operators/quality_rules
    .blocklist_filter) with a placeholder blocklist {spill, leak,
    corrupt}: token-boundary literal probes, zero shuffle, flags
    kept for funnel auditing rather than silently dropping."""
    from parlerproject_spark.operators.quality_rules import blocklist_filter
    return (blocklist_filter(_t(spark, sf_dir, "documents"),
                             ["spill", "leak", "corrupt"])
            .orderBy("doc_id"))


@register("touch_attribution_events", """
WITH w AS (
  SELECT user_id, event_id, ts, event_type, value,
         first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                     IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS first_ch,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_ch
  FROM events),
conv AS (
  SELECT coalesce(first_ch, '(none)') AS fc,
         coalesce(last_ch, '(none)') AS lc, value
  FROM w WHERE event_type = 'purchase'),
stacked AS (
  SELECT 'first' AS model, fc AS channel, value FROM conv
  UNION ALL
  SELECT 'last' AS model, lc AS channel, value FROM conv)
SELECT model, channel, count(*) AS n_conv,
       round(sum(value), 4) AS total_value
FROM stacked GROUP BY model, channel
ORDER BY model, channel
""")
def touch_attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch conversion attribution
    (operators/analytics.touch_attribution): every purchase credits
    its value to the user's first and most recent preceding
    non-purchase event type via one deterministic user-keyed window
    (ts, event_id ordering), then a channel rollup over conversions
    only."""
    from parlerproject_spark.operators.analytics import touch_attribution
    return (touch_attribution(_t(spark, sf_dir, "events"))
            .orderBy("model", "channel"))


@register("srm_check_events", """
WITH pu AS (SELECT DISTINCT user_id FROM events),
arms AS (SELECT CAST(((user_id % 2) + 2) % 2 AS BIGINT) AS arm FROM pu),
c AS (
  SELECT cast(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_0,
         cast(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1
  FROM arms),
s AS (
  SELECT n_0, n_1,
         CAST(n_0 AS DOUBLE) AS d0, CAST(n_1 AS DOUBLE) AS d1,
         (CAST(n_0 AS DOUBLE) + CAST(n_1 AS DOUBLE)) * 0.5 AS e0,
         (CAST(n_0 AS DOUBLE) + CAST(n_1 AS DOUBLE)) * 0.5 AS e1
  FROM c)
SELECT n_0, n_1,
       round(power(d0 - e0, 2) / e0 + power(d1 - e1, 2) / e1, 6) AS chi2,
       (power(d0 - e0, 2) / e0 + power(d1 - e1, 2) / e1) > 3.841
         AS srm_alarm
FROM s
""")
def srm_check_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail
    (operators/analytics.srm_check): chi-square of the observed
    user_id%2 arm sizes against the intended 50/50 split — the
    assignment-validity gate run before any A/B effect readout."""
    from parlerproject_spark.operators.analytics import srm_check
    return srm_check(_t(spark, sf_dir, "events"))


@register("weighted_sample_docs", """
WITH k AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
         round(ln((('0x' || substr(md5('wrs-v1:' || doc_id::VARCHAR),
                                   1, 8))::BIGINT + 1) / 4294967296.0)
               / n_chars, 6) + 0.0 AS key
  FROM documents WHERE n_chars > 0)
SELECT doc_id, weight, key
FROM k ORDER BY key DESC, doc_id ASC LIMIT 64
""")
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A-ES weighted reservoir sample
    (operators/sampling.weighted_reservoir_sample): 64 docs drawn
    without replacement with probability proportional to length —
    md5-uniform keys ranked by ln(u)/w, TakeOrderedAndProject cut,
    no global sort."""
    from parlerproject_spark.operators.sampling import (
        weighted_reservoir_sample)
    return weighted_reservoir_sample(_t(spark, sf_dir, "documents"), 64)


@register("calibrate_scores_docs", """
SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS score,
       round(percent_rank() OVER (PARTITION BY source
                                  ORDER BY n_chars ASC, doc_id ASC), 6)
         AS pct,
       CASE WHEN stddev_pop(n_chars) OVER (PARTITION BY source) > 0
            THEN round((n_chars - avg(n_chars) OVER (PARTITION BY source))
                       / stddev_pop(n_chars) OVER (PARTITION BY source), 6)
       END AS z
FROM documents
ORDER BY doc_id
""")
def calibrate_scores_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source score calibration
    (operators/selection.calibrate_scores): percent-rank and
    population z-score of the document length score within each
    source — the cross-domain normalization run before global
    quality thresholds; one source-keyed exchange serves both
    windows."""
    from parlerproject_spark.operators.selection import calibrate_scores
    d = _t(spark, sf_dir, "documents").withColumn(
        "score", F.col("n_chars").cast("double"))
    return (calibrate_scores(d, group_col="source", score_col="score")
            .orderBy("doc_id"))


@register("fim_transform_docs", """
WITH c AS (
  SELECT doc_id, text, length(text) AS L,
         ('0x' || substr(md5('fim-v1:' || doc_id::VARCHAR), 1, 8))::BIGINT
           % (length(text) + 1) AS a,
         ('0x' || substr(md5('fim-v1:' || doc_id::VARCHAR), 9, 8))::BIGINT
           % (length(text) + 1) AS b
  FROM documents),
d AS (SELECT doc_id, text, L, least(a, b) AS lo, greatest(a, b) AS hi
      FROM c)
SELECT doc_id, L AS n_chars, lo AS cut_a, hi AS cut_b,
       '<PRE>' || substr(text, 1, lo) || '<SUF>'
         || substr(text, hi + 1, L - hi) || '<MID>'
         || substr(text, lo + 1, hi - lo) AS fim_text
FROM d ORDER BY doc_id
""")
def fim_transform_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle corpus transform
    (operators/text_analysis.fim_transform): deterministic
    md5-derived cut points, PSM token order — zero-shuffle Column
    algebra inside the scan stage."""
    from parlerproject_spark.operators.text_analysis import fim_transform
    return fim_transform(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@register("scene_cuts_media", """
WITH f AS (
  SELECT p_partkey AS doc_id,
         unnest(range(0, p_size * 7 + 5, 10)) AS frame_no
  FROM part),
h AS (
  SELECT doc_id, frame_no,
         ('0x' || substr(md5('scene-v1:' || doc_id::VARCHAR || ':'
                             || frame_no::VARCHAR), 1, 15))::BIGINT AS ph
  FROM f),
l AS (
  SELECT doc_id, frame_no,
         lag(frame_no) OVER w AS prev_frame,
         lag(ph) OVER w AS prev_ph, ph
  FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)),
o AS (
  SELECT doc_id, frame_no, prev_frame,
         cast(bit_count(xor(ph, prev_ph)) AS BIGINT) AS hamming
  FROM l)
SELECT doc_id, frame_no, prev_frame, hamming,
       coalesce(hamming > 20, false) AS is_cut
FROM o ORDER BY doc_id, frame_no
""")
def scene_cuts_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over sampled frames
    (operators/multimodal.scene_cuts): consecutive sampled frames'
    60-bit perceptual hashes compared via one lag window per video;
    the per-frame hash is the deterministic decode-seam fake (a real
    pHash plugs into the same int64 contract)."""
    from parlerproject_spark.operators.multimodal import scene_cuts
    vids = (_t(spark, sf_dir, "part")
            .select(F.col("p_partkey").alias("doc_id"),
                    (F.col("p_size") * 7 + 5).alias("n_frames")))
    return (scene_cuts(vids, every=10)
            .withColumn("frame_no", F.col("frame_no").cast("long"))
            .withColumn("prev_frame", F.col("prev_frame").cast("long"))
            .withColumn("hamming", F.col("hamming").cast("long"))
            .orderBy("doc_id", "frame_no"))


@register("ranking_metrics_docs", """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents),
tf AS (
  SELECT w AS query_id, doc_id, count(*) AS tf
  FROM (SELECT doc_id, unnest(ts) AS w FROM toks)
  WHERE w IN ('spark', 'join', 'query') GROUP BY w, doc_id),
res AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY tf DESC, doc_id ASC) AS rnk
  FROM tf QUALIFY rnk <= 10),
jud AS (SELECT query_id, doc_id, CAST(doc_id % 3 AS DOUBLE) AS rel
        FROM tf),
joined AS (
  SELECT r.query_id, r.rnk, coalesce(j.rel, 0.0) AS rel
  FROM res r LEFT JOIN jud j USING (query_id, doc_id)),
sys AS (
  SELECT query_id, count(*) AS n_retrieved,
         sum((power(2.0, rel) - 1.0) / log2(rnk + 1.0)) AS dcg,
         coalesce(max(CASE WHEN rel > 0 THEN 1.0 / rnk END), 0.0) AS mrr,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS hits
  FROM joined GROUP BY query_id),
ideal AS (
  SELECT query_id,
         sum(CASE WHEN rn <= 10
                  THEN (power(2.0, rel) - 1.0) / log2(rn + 1.0)
                  ELSE 0.0 END) AS idcg,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_relevant
  FROM (SELECT query_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, doc_id ASC) AS rn
        FROM jud)
  GROUP BY query_id)
SELECT s.query_id,
       CAST(n_retrieved AS BIGINT) AS n_retrieved,
       CAST(n_relevant AS BIGINT) AS n_relevant,
       round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6) AS ndcg,
       round(mrr, 6) AS mrr,
       round(CASE WHEN n_relevant > 0
                  THEN CAST(hits AS DOUBLE) / n_relevant
                  ELSE 0.0 END, 6) AS recall
FROM sys s JOIN ideal USING (query_id)
ORDER BY query_id
""")
def ranking_metrics_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked-retrieval evaluation (operators/evaluation
    .ranking_metrics): NDCG@10 / MRR / recall@10 for a deterministic
    tf ranker over three single-term queries, judged against graded
    doc_id%3 relevance — the offline eval harness for any of the
    engine's retrieval stacks (BM25, hybrid rerank, ANN). The oracle
    replays ranker, judgments, and every metric."""
    from parlerproject_spark.operators.evaluation import ranking_metrics
    docs = _t(spark, sf_dir, "documents")
    terms = ["spark", "join", "query"]
    tf = (docs.select("doc_id", F.explode(tokenize("text")).alias("w"))
          .filter(F.col("w").isin(terms))
          .groupBy(F.col("w").alias("query_id"), "doc_id")
          .agg(F.count("*").alias("tf")))
    w = Window.partitionBy("query_id").orderBy(F.col("tf").desc(),
                                               F.col("doc_id").asc())
    results = (tf.withColumn("rank", F.row_number().over(w).cast("long"))
               .filter(F.col("rank") <= 10)
               .select("query_id", "doc_id", "rank"))
    judgments = tf.select("query_id", "doc_id",
                          (F.col("doc_id") % 3).alias("rel"))
    return (ranking_metrics(results, judgments, k=10)
            .orderBy("query_id"))


@register("roc_auc_docs", """
WITH base AS (
  SELECT CAST(n_chars AS DOUBLE) / (n_chars + 100.0) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents),
per AS (SELECT s, sum(y) AS pos, sum(1 - y) AS neg FROM base GROUP BY s),
cum AS (
  SELECT pos, neg,
         coalesce(sum(neg) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND 1 PRECEDING), 0) AS nb
  FROM per)
SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(sum(neg) AS BIGINT) AS n_neg,
       round(sum(pos * (CAST(nb AS DOUBLE) + neg / 2.0))
             / (CAST(sum(pos) AS DOUBLE) * CAST(sum(neg) AS DOUBLE)), 6)
         AS auc
FROM cum
""")
def roc_auc_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC-AUC (operators/evaluation.roc_auc) of
    a length-based quality score against the lang=='en' weak label —
    the discrimination readout for every quality classifier in
    selection.py. The score n_chars/(n_chars+100) is IEEE-exact on
    both engines (single correctly-rounded division), so the
    distinct-score histogram groups identically; the AUC itself uses
    the cumulative-histogram identity, never a corpus-wide rank."""
    from parlerproject_spark.operators.evaluation import roc_auc
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        (F.col("n_chars").cast("double")
         / (F.col("n_chars") + 100.0)).alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"))
    return roc_auc(d)


@register("calibration_docs", """
WITH base AS (
  SELECT CAST(n_chars AS DOUBLE) / (n_chars + 300.0) AS p,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents),
bins AS (
  SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
         count(*) AS n, round(avg(p), 6) AS mean_prob,
         round(avg(y), 6) AS frac_pos
  FROM base GROUP BY 1),
b AS (SELECT round(avg((p - y) * (p - y)), 6) AS brier FROM base)
SELECT bin, CAST(n AS BIGINT) AS n, mean_prob, frac_pos, brier
FROM bins CROSS JOIN b
ORDER BY bin
""")
def calibration_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Brier score (operators/evaluation
    .calibration_report) for a pseudo-probability of the lang=='en'
    label — the calibration companion to roc_auc_docs (a classifier
    can discriminate well and still be badly calibrated; threshold
    choices need this table). The probability n_chars/(n_chars+300)
    is IEEE-exact on both engines, so bin assignment is identical."""
    from parlerproject_spark.operators.evaluation import calibration_report
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        (F.col("n_chars").cast("double")
         / (F.col("n_chars") + 300.0)).alias("prob"),
        (F.col("lang") == "en").cast("int").alias("label"))
    return calibration_report(d, n_bins=10).orderBy("bin")


@register("fleiss_kappa_docs", """
WITH base AS (
  SELECT doc_id,
         CASE WHEN n_chars < 300 THEN 'short'
              WHEN n_chars < 700 THEN 'medium'
              ELSE 'long' END AS band
  FROM documents),
ratings AS (
  SELECT doc_id,
         CASE WHEN ('0x' || substr(md5('rater-v1:' || doc_id::VARCHAR
                    || ':' || r::VARCHAR), 1, 8))::BIGINT % 10 = 0
              THEN ['short', 'medium', 'long'][
                   CAST(('0x' || substr(md5('rater-v1:' || doc_id::VARCHAR
                        || ':' || r::VARCHAR), 9, 8))::BIGINT % 3
                        AS INTEGER) + 1]
              ELSE band END AS label
  FROM base CROSS JOIN (SELECT unnest([1, 2, 3]) AS r)),
cell AS (SELECT doc_id, label, count(*) AS n
         FROM ratings GROUP BY doc_id, label),
items AS (
  SELECT doc_id, sum(n) AS tot, sum(n * n) AS sq
  FROM cell GROUP BY doc_id HAVING sum(n) = 3),
pi AS (SELECT (CAST(sq AS DOUBLE) - 3) / (3 * 2.0) AS p_i FROM items),
shares AS (
  SELECT label, sum(n) AS c
  FROM cell JOIN items USING (doc_id) GROUP BY label),
pe AS (SELECT sum(CAST(c AS DOUBLE) * c)
              / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)) AS p_e
       FROM shares),
pb AS (SELECT CAST(count(*) AS BIGINT) AS n_items, avg(p_i) AS p_bar
       FROM pi)
SELECT n_items, CAST(3 AS BIGINT) AS n_raters,
       round(p_bar, 6) AS p_bar, round(p_e, 6) AS p_e,
       round((p_bar - p_e) / (1.0 - p_e), 6) AS kappa
FROM pb CROSS JOIN pe
""")
def fleiss_kappa_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement (operators/evaluation.fleiss_kappa):
    Fleiss' kappa over a 3-rater labeling campaign at the annotation
    seam — deterministic raters emit the doc's length band with a 10%
    md5-derived disagreement, exactly the shape a human labeling job
    feeds back. The oracle replays raters, the contingency counts,
    and the kappa algebra."""
    from parlerproject_spark.operators.evaluation import fleiss_kappa
    docs = _t(spark, sf_dir, "documents")
    band = (F.when(F.col("n_chars") < 300, "short")
            .when(F.col("n_chars") < 700, "medium").otherwise("long"))
    base = docs.select("doc_id", band.alias("band"))
    r = F.col("r")
    key = F.concat_ws(":", F.lit("rater-v1"), F.col("doc_id"), r)
    h1 = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(F.md5(key), 9, 8), 16, 10).cast("bigint")
    noisy = F.element_at(F.array(F.lit("short"), F.lit("medium"),
                                 F.lit("long")), (h2 % 3 + 1).cast("int"))
    ratings = (base
               .select("doc_id", "band",
                       F.explode(F.array(F.lit(1), F.lit(2), F.lit(3)))
                       .alias("r"))
               .select(F.col("doc_id").alias("item_id"),
                       F.when(h1 % 10 == 0, noisy)
                       .otherwise(F.col("band")).alias("label")))
    return fleiss_kappa(ratings, n_raters=3, item_col="item_id")


@register("kaplan_meier_users", """
WITH ev AS (SELECT * FROM events WHERE event_id % 11 = 0),
pu AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS f, CAST(max(ts) AS DATE) AS l,
         max(ts) AS lt
  FROM ev GROUP BY user_id),
life AS (
  SELECT date_diff('day', f, l) AS t_days,
         (SELECT max(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END)
          FROM ev e
          WHERE e.user_id = pu.user_id AND e.ts = pu.lt) AS obs
  FROM pu),
per_day AS (SELECT t_days, count(*) AS n, sum(obs) AS n_events
            FROM life GROUP BY t_days),
risk AS (
  SELECT t_days, n_events,
         sum(n) OVER (ORDER BY t_days ROWS BETWEEN CURRENT ROW AND
                      UNBOUNDED FOLLOWING) AS n_risk
  FROM per_day),
curve AS (
  SELECT t_days, n_risk, n_events,
         max(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END) OVER w
           AS dead,
         sum(CASE WHEN n_events < n_risk
                  THEN ln(1.0 - CAST(n_events AS DOUBLE) / n_risk)
                  ELSE 0.0 END) OVER w AS logs
  FROM risk WHERE n_events > 0
  WINDOW w AS (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW))
SELECT t_days, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(n_events AS BIGINT) AS n_events,
       round(CASE WHEN dead = 1 THEN 0.0 ELSE exp(logs) END, 6)
         AS survival
FROM curve ORDER BY t_days
""")
def kaplan_meier_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Censoring-aware user-retention curve (operators/analytics
    .kaplan_meier): KM survival over user lifetimes where a journey
    ending in an 'error' event is an observed churn and every other
    user is censored — the unbiased churn readout (naive retention
    miscounts still-active users as churned). Oracle replays the
    last-event death flag, risk sets, and the product-limit
    estimator."""
    from parlerproject_spark.operators.analytics import kaplan_meier
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 11 == 0)
    return (kaplan_meier(ev, death_filter="event_type = 'error'")
            .orderBy("t_days"))


# ---------------------------------------------------------------------------
# Round-7 session 2: curriculum ordering, padding-efficient batching,
# per-group quantile trim, robust outliers, Benford audit
# ---------------------------------------------------------------------------


@register("curriculum_order_docs", """
WITH b AS (
  SELECT doc_id,
         least(cast(floor(n_chars / 256) AS BIGINT), 7) AS band,
         ('0x' || substr(md5(cast(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 2147483647 % 16 AS shard,
         md5('curr-v1:' || cast(doc_id AS VARCHAR)) AS k
  FROM documents)
SELECT doc_id, band, shard,
       cast(row_number() OVER (ORDER BY band, shard, k, doc_id) - 1
            AS BIGINT) AS order_idx
FROM b
ORDER BY order_idx
""")
def curriculum_order_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order (operators/sampling.curriculum_order):
    easy→hard schedule over length bands with a seeded md5 shuffle
    inside each band. The oracle is the one-window global ordering;
    the Spark plan is the two-level prefix sum (broadcast (band,
    shard) offsets + partitionBy(band, shard) row_number) — same
    positions, no global sort, no unpartitioned window."""
    from parlerproject_spark.operators.sampling import curriculum_order
    d = _t(spark, sf_dir, "documents")
    banded = d.withColumn(
        "band", F.least(F.floor(F.col("n_chars") / 256), F.lit(7)))
    return (curriculum_order(banded, id_col="doc_id", band_col="band",
                             shards=16)
            .withColumn("shard", F.col("shard").cast("long")))


@register("length_bucket_batches_docs", """
WITH s AS (
  SELECT doc_id, n_chars AS t,
         least(cast(floor(n_chars / 64) AS BIGINT), 31) AS bucket,
         ('0x' || substr(md5(cast(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 2147483647 % 8 AS shard,
         md5('lbb-v1:' || cast(doc_id AS VARCHAR)) AS k
  FROM documents),
r AS (
  SELECT *, row_number() OVER (PARTITION BY bucket, shard
                               ORDER BY k, doc_id) AS rn
  FROM s)
SELECT bucket, shard,
       cast(floor((rn - 1) / 32) AS BIGINT) AS batch_id,
       cast(count(*) AS BIGINT) AS n_docs,
       cast(max(t) AS BIGINT) AS max_tokens,
       cast(sum(t) AS BIGINT) AS sum_tokens,
       round(sum(t)::DOUBLE / (count(*) * max(t)), 6) AS pad_efficiency
FROM r
GROUP BY bucket, shard, batch_id
ORDER BY bucket, shard, batch_id
""")
def length_bucket_batches_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-efficiency batching (operators/sampling
    .length_bucket_batches): docs bucket by length, deterministic
    batches form inside each (bucket, shard) stream, and each batch
    reports sum/(n·max) token utilization — the batch construction
    that keeps padding waste bounded by the bucket width."""
    from parlerproject_spark.operators.sampling import length_bucket_batches
    d = _t(spark, sf_dir, "documents")
    return (length_bucket_batches(d, id_col="doc_id",
                                  tokens_col="n_chars", batch_size=32,
                                  bucket_width=64, n_buckets=32, shards=8)
            .withColumn("shard", F.col("shard").cast("long")))


@register("quantile_band_docs", """
WITH r AS (
  SELECT source, doc_id, n_chars::DOUBLE AS n_chars,
         cast(row_number() OVER (PARTITION BY source
                                 ORDER BY n_chars::DOUBLE, doc_id)
              AS BIGINT) AS "rank",
         cast(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM documents)
SELECT source, doc_id, n_chars, "rank", n
FROM r
WHERE "rank" > 0.1 * n AND "rank" <= 0.9 * n
ORDER BY source, doc_id
""")
def quantile_band_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact inter-quantile retention (operators/selection
    .quantile_band_filter): keep each source's middle (10%, 90%]
    length band. The oracle ranks with one per-source window; the
    Spark plan is the keyed two-level prefix sum (range buckets +
    per-source ≤512-row offset window + partitionBy(source, bucket)
    row_number) — identical ranks, no whole-source window
    partition."""
    from parlerproject_spark.operators.selection import quantile_band_filter
    d = _t(spark, sf_dir, "documents")
    return quantile_band_filter(d, group_col="source",
                                score_col="n_chars", id_col="doc_id",
                                lo=0.1, hi=0.9).orderBy("source", "doc_id")


@register("robust_outliers_events", """
WITH med AS (
  SELECT user_id, median(value) AS med, count(*) AS n
  FROM events GROUP BY user_id),
dev AS (
  SELECT e.user_id, abs(e.value - m.med) AS ad, m.med, m.n
  FROM events e JOIN med m USING (user_id)),
mad AS (SELECT user_id, median(ad) AS mad FROM dev GROUP BY user_id)
SELECT d.user_id,
       cast(max(d.n) AS BIGINT) AS n,
       round(max(d.med), 6) AS med,
       round(max(m.mad), 6) AS mad,
       cast(sum(CASE WHEN d.ad > 3.5 * 1.4826 * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (user_id)
GROUP BY d.user_id
ORDER BY user_id
""")
def robust_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user median/MAD outlier report (operators/analytics
    .robust_outliers): modified z-score |x−med| > 3.5·1.4826·MAD.
    Exact per-key medians ride the `median` AGGREGATE (keyed agg
    state, no per-key sorted window) + two keyed joins back."""
    from parlerproject_spark.operators.analytics import robust_outliers
    e = _t(spark, sf_dir, "events")
    return (robust_outliers(e, key_col="user_id", value_col="value",
                            k=3.5)
            .orderBy("user_id"))


@register("benford_values_events", """
WITH v AS (
  SELECT abs(value) AS x FROM events
  WHERE abs(value) > 0 AND NOT isnan(value)),
per AS (
  SELECT cast(regexp_extract(cast(x AS VARCHAR), '[1-9]', 0)
              AS BIGINT) AS digit,
         count(*) AS n
  FROM v GROUP BY 1),
tot AS (SELECT sum(n)::DOUBLE AS t FROM per),
sc AS (
  SELECT digit, n, n / t AS share,
         log10(1 + 1.0 / digit) AS expected, t
  FROM per CROSS JOIN tot),
chi AS (
  SELECT sum(t * (share - expected) * (share - expected) / expected)
           AS chi2
  FROM sc)
SELECT digit, cast(n AS BIGINT) AS n, round(share, 6) AS share,
       round(expected, 6) AS expected, round(chi2, 6) AS chi2
FROM sc CROSS JOIN chi
ORDER BY digit
""")
def benford_values_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit (operators/profiling.benford_audit)
    over event values — the fabricated-numbers / broken-ETL smell
    test: observed leading-digit shares vs log10(1+1/d) with the
    global chi-square statistic on every row."""
    from parlerproject_spark.operators.profiling import benford_audit
    e = _t(spark, sf_dir, "events")
    return benford_audit(e, value_col="value").orderBy("digit")


@register("source_minhash_similarity", f"""
WITH toks AS (
  SELECT source, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS ts
  FROM documents),
grams AS (
  SELECT DISTINCT source,
         ('0x' || substr(md5(gram), 1, 15))::BIGINT % 2147483647 AS sh
  FROM (
    SELECT source,
           array_to_string(ts[i:i+2], ' ') AS gram
    FROM toks, unnest(range(1, len(ts) - 1)) AS t(i)
    WHERE len(ts) >= 3)),
sig AS (
  SELECT source, {_MINHASH_MINS.replace("doc_id", "source")}
  FROM grams GROUP BY source),
pair AS (
  SELECT a.source AS src_a, b.source AS src_b,
         (CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END + CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END + CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END + CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END + CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END + CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END + CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END + CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END + CASE WHEN a.h8 = b.h8 THEN 1 ELSE 0 END + CASE WHEN a.h9 = b.h9 THEN 1 ELSE 0 END + CASE WHEN a.h10 = b.h10 THEN 1 ELSE 0 END + CASE WHEN a.h11 = b.h11 THEN 1 ELSE 0 END) AS n_match
  FROM sig a JOIN sig b ON a.source < b.source)
SELECT src_a, src_b, cast(n_match AS BIGINT) AS n_match,
       round(n_match / 12.0, 6) AS est_jaccard
FROM pair
ORDER BY src_a, src_b
""")
def source_minhash_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap estimate from per-source MinHash
    signatures (operators/dedup.group_minhash_similarity) — the
    corpus-composition audit. Signatures are mergeable min-sketches
    (one partial-min row per partition x group reaches the shuffle);
    the G^2 pairwise stage is a broadcast nested-loop over the
    |sources|-row signature frame. The oracle replays the exact
    md5 + permutation family and the match count."""
    d = _t(spark, sf_dir, "documents")
    return (dedup.group_minhash_similarity(d, group_col="source")
            .orderBy("src_a", "src_b"))


@register("vocab_coverage_sources", """
WITH tok AS (
  SELECT source AS g,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS t
  FROM documents),
vocab AS (
  SELECT t FROM (SELECT t, count(*) AS c FROM tok GROUP BY t)
  ORDER BY c DESC, t LIMIT 30),
gt AS (SELECT g, t, count(*) AS c FROM tok GROUP BY g, t),
cov AS (
  SELECT gt.g, gt.c, (v.t IS NOT NULL)::INT AS iv
  FROM gt LEFT JOIN vocab v USING (t))
SELECT g AS source, cast(sum(c) AS BIGINT) AS n_tokens,
       cast(count(*) AS BIGINT) AS n_types,
       round(1.0 - sum(c * iv)::DOUBLE / sum(c)::DOUBLE, 6)
         AS oov_token_rate,
       round(1.0 - sum(iv)::DOUBLE / count(*)::DOUBLE, 6)
         AS oov_type_rate
FROM cov GROUP BY g
ORDER BY source
""")
def vocab_coverage_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source OOV rates vs the corpus top-30 vocabulary
    (operators/text_analysis.group_oov_rates) — the tokenizer-QA
    report: occurrence-mass and type coverage a V-token vocab
    achieves per source. Top-V is TakeOrderedAndProject (partial
    top-k, no global sort), then broadcast into the (source, token)
    counts."""
    from parlerproject_spark.operators.text_analysis import group_oov_rates
    d = _t(spark, sf_dir, "documents")
    return group_oov_rates(d, vocab_size=30, group_col="source") \
        .orderBy("source")


@register("linear_trend_users", """
SELECT user_id, cast(count(*) AS BIGINT) AS n,
       round(regr_slope(value, (epoch(ts) - 1704067200) / 3600.0), 6)
         AS slope,
       round(regr_intercept(value, (epoch(ts) - 1704067200) / 3600.0), 6)
         AS intercept,
       round(regr_r2(value, (epoch(ts) - 1704067200) / 3600.0), 6) AS r2
FROM events
GROUP BY user_id
ORDER BY user_id
""")
def linear_trend_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS value-over-time trend (operators/timeseries
    .linear_trend): slope/intercept/R² from one keyed regr_*
    aggregation — running normal-equation sums, no per-key sort. The
    regressor is hours since 2024-01-01 so the cross-engine float
    parity survives the regr_* subtractions."""
    from parlerproject_spark.operators.timeseries import linear_trend
    e = _t(spark, sf_dir, "events")
    return linear_trend(e).orderBy("user_id")


@register("diff_in_diff_events", """
WITH cells AS (
  SELECT ('0x' || substr(md5(cast(user_id AS VARCHAR)), 1, 15))::BIGINT
           % 2147483647 % 2 AS t,
         (ts >= TIMESTAMP '2024-01-15')::INT AS p,
         avg(value) AS m, count(*) AS n
  FROM events GROUP BY 1, 2)
SELECT cast(sum(n) AS BIGINT) AS n,
       round(max(CASE WHEN t = 0 AND p = 0 THEN m END), 6) AS pre_ctrl,
       round(max(CASE WHEN t = 0 AND p = 1 THEN m END), 6) AS post_ctrl,
       round(max(CASE WHEN t = 1 AND p = 0 THEN m END), 6) AS pre_treat,
       round(max(CASE WHEN t = 1 AND p = 1 THEN m END), 6) AS post_treat,
       round((max(CASE WHEN t = 1 AND p = 1 THEN m END)
              - max(CASE WHEN t = 1 AND p = 0 THEN m END))
             - (max(CASE WHEN t = 0 AND p = 1 THEN m END)
                - max(CASE WHEN t = 0 AND p = 0 THEN m END)), 6) AS did
FROM cells
""")
def diff_in_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences launch read-out (operators/timeseries
    .diff_in_diff): unit-hash arms × pre/post 2024-01-15 cutover;
    four-cell aggregation + one-row pivot — the parallel-trends
    effect estimate with nothing above cell granularity shuffling."""
    from parlerproject_spark.operators.timeseries import diff_in_diff
    e = _t(spark, sf_dir, "events")
    return diff_in_diff(e)


@register("stream_enrich_segments", """
SELECT c.c_mktsegment AS segment,
       cast(count(*) AS BIGINT) AS n_events,
       round(sum(e.value), 4) AS total_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY segment NULLS FIRST
""")
def stream_enrich_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment (streaming/events
    .enrich_with_dim): events look up the customer segment via a
    broadcast left join — on a stream the static side re-resolves
    per micro-batch (dim refresh without restart); the oracle checks
    the identical batch plan. Unmatched users keep a null segment
    (the miss-rate is visible, not silently dropped)."""
    from parlerproject_spark.streaming.events import enrich_with_dim
    e = _t(spark, sf_dir, "events")
    dim = (_t(spark, sf_dir, "customer")
           .select(F.col("c_custkey").alias("user_id"),
                   F.col("c_mktsegment").alias("segment")))
    return (enrich_with_dim(e, dim, key_col="user_id", how="left")
            .groupBy("segment")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.round(F.sum("value"), 4).alias("total_value"))
            .orderBy(F.col("segment").asc_nulls_first()))


@register("psi_gate_events", """
WITH b AS (
  SELECT CASE WHEN value < 10 THEN 0 WHEN value < 20 THEN 1
              WHEN value < 40 THEN 2 WHEN value < 80 THEN 3
              ELSE 4 END AS bucket, ts
  FROM events),
ref AS (SELECT bucket, count(*) AS c FROM b
        WHERE ts < TIMESTAMP '2024-01-15' GROUP BY bucket),
spine AS (SELECT unnest(range(0, 5)) AS bucket),
refq AS (
  SELECT s.bucket,
         coalesce(r.c, 0)::DOUBLE / (SELECT sum(c) FROM ref) AS q
  FROM spine s LEFT JOIN ref r USING (bucket)),
cur AS (SELECT bucket, count(*) AS c FROM b
        WHERE ts >= TIMESTAMP '2024-01-15' GROUP BY bucket),
tot AS (SELECT sum(c)::DOUBLE AS t FROM cur),
terms AS (
  SELECT coalesce(cur.c, 0) AS n_b,
         (greatest(coalesce(cur.c, 0) / t, 1e-6)
            - greatest(q, 1e-6))
         * ln(greatest(coalesce(cur.c, 0) / t, 1e-6)
              / greatest(q, 1e-6)) AS term
  FROM refq LEFT JOIN cur USING (bucket) CROSS JOIN tot)
SELECT cast(sum(n_b) AS BIGINT) AS n, round(sum(term), 6) AS psi,
       (sum(n_b) > 0 AND round(sum(term), 6) > 0.2) AS alert
FROM terms
""")
def psi_gate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch PSI drift gate (streaming/events.batch_psi_gate):
    the post-2024-01-15 "batch" gated against the pre-cutover
    reference shares (value_bucket_shares) — one bucket count + a
    5-row broadcast join per trigger. Batch plan == the foreachBatch
    body; the oracle replays buckets, floors and the rounded-psi
    alert rule."""
    from parlerproject_spark.streaming.events import (batch_psi_gate,
                                                      value_bucket_shares)
    e = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-15").cast("timestamp")
    ref = value_bucket_shares(e.filter(F.col("ts") < cut))
    return batch_psi_gate(e.filter(F.col("ts") >= cut), ref)


@register("margin_pairs_embeddings", """
WITH src AS (
  SELECT vec_id AS id_a, embedding AS va FROM embeddings
  WHERE vec_id % 2 = 0),
tgt AS (
  SELECT vec_id AS id_b, embedding AS vb FROM embeddings
  WHERE vec_id % 2 <> 0),
px AS (
  SELECT s.id_a, t.id_b,
         unnest(s.va)::DOUBLE AS x, unnest(t.vb)::DOUBLE AS y
  FROM src s, tgt t),
sims AS (
  SELECT id_a, id_b,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS sim
  FROM px GROUP BY id_a, id_b),
fwd AS (
  SELECT id_a, avg(sim) AS f FROM (
    SELECT id_a, sim,
           row_number() OVER (PARTITION BY id_a
                              ORDER BY sim DESC, id_b ASC) AS rn
    FROM sims) WHERE rn <= 4 GROUP BY id_a),
bwd AS (
  SELECT id_b, avg(sim) AS b FROM (
    SELECT id_b, sim,
           row_number() OVER (PARTITION BY id_b
                              ORDER BY sim DESC, id_a ASC) AS rn
    FROM sims) WHERE rn <= 4 GROUP BY id_b),
m AS (
  SELECT s.id_a, s.id_b, s.sim,
         round(s.sim / ((fwd.f + bwd.b) / 2), 6) AS margin
  FROM sims s JOIN fwd USING (id_a) JOIN bwd USING (id_b)),
ba AS (
  SELECT *, row_number() OVER (PARTITION BY id_a
                               ORDER BY margin DESC, id_b ASC) AS ra
  FROM m),
bb AS (
  SELECT id_a, id_b, row_number() OVER (PARTITION BY id_b
                                        ORDER BY margin DESC, id_a ASC) AS rb
  FROM m)
SELECT a.id_a AS src_id, a.id_b AS tgt_id, a.sim, a.margin
FROM ba a JOIN bb USING (id_a, id_b)
WHERE a.ra = 1 AND rb = 1 AND a.margin >= 1.05
ORDER BY src_id
""")
def margin_pairs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019;
    similarity.margin_pair_mining): the even-id embedding snapshot
    half mines its mutual best-margin partner in the odd half —
    cosine relative to each side's k=4 neighborhood mean, mutual
    argmax, margin ≥ 1.05. The CCMatrix criterion for aligning two
    corpus snapshots (or two languages) by embedding alone; raw
    cosine thresholds can't cancel hubness, the margin ratio does.
    Exact mode here (bounded snapshot sides, broadcast target); the
    lsh mode is the 100 TB bucketed path (recall pytest)."""
    from parlerproject_spark.operators.similarity import margin_pair_mining
    emb = _t(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 != 0)
    return (margin_pair_mining(src, tgt, k=4, margin_threshold=1.05,
                               mutual=True)
            .orderBy("src_id"))


@register("margin_pairs_lsh_embeddings", """
WITH pl AS MATERIALIZED (
  SELECT t.tbl, p.p, d.d,
         (('0x' || substr(md5('plane:' || t.tbl || ':' || p.p || ':'
                              || d.d), 1, 12))::BIGINT
          / power(16.0, 12)) * 2.0 - 1.0 AS w
  FROM (SELECT unnest(range(0, 8)) AS tbl) t,
       (SELECT unnest(range(0, 6)) AS p) p,
       (SELECT unnest(range(0, 64)) AS d) d),
ex AS MATERIALIZED (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings),
dots AS (
  SELECT e.vec_id, pl.tbl, pl.p, sum(e.x * pl.w) AS dp
  FROM ex e JOIN pl ON pl.d = e.pos
  GROUP BY e.vec_id, pl.tbl, pl.p),
sig AS MATERIALIZED (
  SELECT vec_id, tbl,
         sum(CASE WHEN dp >= 0
                  THEN (1::BIGINT << (5 - p)) ELSE 0 END)::BIGINT AS sig
  FROM dots GROUP BY vec_id, tbl),
cand AS MATERIALIZED (
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
  FROM sig l JOIN sig r ON l.tbl = r.tbl AND l.sig = r.sig
  WHERE l.vec_id % 2 = 0 AND r.vec_id % 2 <> 0),
px AS (
  SELECT c.id_a, c.id_b,
         unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.id_a
  JOIN embeddings b ON b.vec_id = c.id_b),
sims AS MATERIALIZED (
  SELECT id_a, id_b,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS sim
  FROM px GROUP BY id_a, id_b),
fwd AS (
  SELECT id_a, avg(sim) AS f FROM (
    SELECT id_a, sim,
           row_number() OVER (PARTITION BY id_a
                              ORDER BY sim DESC, id_b ASC) AS rn
    FROM sims) WHERE rn <= 4 GROUP BY id_a),
bwd AS (
  SELECT id_b, avg(sim) AS b FROM (
    SELECT id_b, sim,
           row_number() OVER (PARTITION BY id_b
                              ORDER BY sim DESC, id_a ASC) AS rn
    FROM sims) WHERE rn <= 4 GROUP BY id_b),
m AS (
  SELECT s.id_a, s.id_b, s.sim,
         round(s.sim / ((fwd.f + bwd.b) / 2), 6) AS margin
  FROM sims s JOIN fwd USING (id_a) JOIN bwd USING (id_b)),
ba AS (
  SELECT *, row_number() OVER (PARTITION BY id_a
                               ORDER BY margin DESC, id_b ASC) AS ra
  FROM m),
bb AS (
  SELECT id_a, id_b, row_number() OVER (PARTITION BY id_b
                                        ORDER BY margin DESC, id_a ASC) AS rb
  FROM m)
SELECT a.id_a AS src_id, a.id_b AS tgt_id, a.sim, a.margin
FROM ba a JOIN bb USING (id_a, id_b)
WHERE a.ra = 1 AND rb = 1 AND a.margin >= 1.05
ORDER BY src_id
""")
def margin_pairs_lsh_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin pair mining, mode='lsh' — the 100 TB bucketed path,
    hash-verified (VERDICT r8 item 1): candidate (src, tgt) pairs
    form only inside shared random-hyperplane buckets and the
    fwd/bwd neighborhood means run over the CANDIDATE sims, so cost
    follows bucket density, never |src|×|tgt|. The oracle replays
    the deterministic md5 plane family, the per-table MSB-first sign
    signatures, the parity-split bucket collisions, and the
    candidate-restricted margin/mutual selection — the same replay
    recipe embedding_near_dup_lsh and hard_negatives use. A match
    proves the bucketed plan emits exactly what an independent
    replay of the index math emits (recall vs exact mode stays
    pytest-measured in test_margin_mining.py)."""
    from parlerproject_spark.operators.similarity import margin_pair_mining
    emb = _t(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 != 0)
    return (margin_pair_mining(src, tgt, k=4, margin_threshold=1.05,
                               mutual=True, mode="lsh", dim=64,
                               num_planes=6, num_tables=8)
            .orderBy("src_id"))


@register("bleu_pairs_docs", r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS ws
  FROM documents),
pairs AS (
  SELECT c.doc_id AS pair_id, c.ws AS cws, r.ws AS rws
  FROM toks c JOIN toks r ON r.doc_id = c.doc_id + 1
  WHERE c.doc_id % 2 = 0),
cg AS (
  SELECT pair_id, 1 AS n, unnest(cws) AS g FROM pairs
  UNION ALL
  SELECT pair_id, 2 AS n,
         unnest(list_transform(range(1, len(cws)),
                               i -> cws[i] || ' ' || cws[i + 1])) AS g
  FROM pairs),
rg AS (
  SELECT pair_id, 1 AS n, unnest(rws) AS g FROM pairs
  UNION ALL
  SELECT pair_id, 2 AS n,
         unnest(list_transform(range(1, len(rws)),
                               i -> rws[i] || ' ' || rws[i + 1])) AS g
  FROM pairs),
cc AS (SELECT pair_id, n, g, count(*) AS c FROM cg GROUP BY pair_id, n, g),
rc AS (SELECT pair_id, n, g, count(*) AS r FROM rg GROUP BY pair_id, n, g),
cl AS (
  SELECT cc.pair_id, cc.n,
         sum(least(cc.c, coalesce(rc.r, 0))) AS clip,
         sum(cc.c) AS tot
  FROM cc LEFT JOIN rc USING (pair_id, n, g)
  GROUP BY cc.pair_id, cc.n),
p AS (
  SELECT pair_id,
         round(max(CASE WHEN n = 1 THEN clip::DOUBLE / tot END), 6) AS p1,
         round(max(CASE WHEN n = 2 THEN clip::DOUBLE / tot END), 6) AS p2
  FROM cl GROUP BY pair_id),
base AS (
  SELECT pr.pair_id, len(pr.cws)::BIGINT AS n_cand,
         len(pr.rws)::BIGINT AS n_ref,
         coalesce(p.p1, 0.0) AS p1, coalesce(p.p2, 0.0) AS p2,
         CASE WHEN len(pr.cws) = 0 THEN 0.0
              WHEN len(pr.cws) >= len(pr.rws) THEN 1.0
              ELSE round(exp(1.0 - len(pr.rws)::DOUBLE / len(pr.cws)), 6)
         END AS bp
  FROM pairs pr LEFT JOIN p USING (pair_id))
SELECT pair_id, n_cand, n_ref, p1, p2, bp,
       round(bp * exp(0.5 * ln(greatest(p1, 1e-9))
                      + 0.5 * ln(greatest(p2, 1e-9))), 6) AS bleu
FROM base
ORDER BY pair_id
""")
def bleu_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-BLEU-2 over aligned doc pairs
    (evaluation.bleu_pairs): every even doc_id is a "candidate"
    scored against doc_id+1 as its "reference" — the generation-eval
    metric (Papineni et al. 2002) run as a corpus-scale batch job:
    clipped modified 1/2-gram precision via count-table left join,
    brevity penalty, ε-smoothed geometric mean. All stages pair-keyed
    aggs; the clipped-overlap join is the only shuffle that sees
    gram granularity."""
    from parlerproject_spark.operators.evaluation import bleu_pairs
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cand = (d.filter(F.col("doc_id") % 2 == 0)
            .select(F.col("doc_id").alias("pair_id"), "text"))
    ref = (d.filter(F.col("doc_id") % 2 != 0)
           .select((F.col("doc_id") - 1).alias("pair_id"), "text"))
    # no pre-pairing semi-joins: bleu_pairs drops one-sided pairs
    # itself (full-outer + both-counts filter) — one scan per side
    return bleu_pairs(cand, ref).orderBy("pair_id")


@register("grouped_roc_auc_sources", """
WITH base AS (
  SELECT source, CAST(n_chars AS DOUBLE) / (n_chars + 100.0) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents WHERE source IS NOT NULL),
per AS (
  SELECT source, s, sum(y) AS pos, sum(1 - y) AS neg
  FROM base GROUP BY source, s),
cum AS (
  SELECT source, pos, neg,
         coalesce(sum(neg) OVER (PARTITION BY source ORDER BY s
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS nb
  FROM per)
SELECT source, CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(sum(neg) AS BIGINT) AS n_neg,
       round(sum(pos * (CAST(nb AS DOUBLE) + neg / 2.0))
             / (CAST(sum(pos) AS DOUBLE) * CAST(sum(neg) AS DOUBLE)), 6)
         AS auc
FROM cum GROUP BY source
ORDER BY source
""")
def grouped_roc_auc_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ROC-AUC (evaluation.grouped_roc_auc) of the
    length-based quality score vs the lang=='en' weak label — the
    sliced-eval companion to roc_auc_docs: a classifier can hold
    0.9 corpus-wide and fail one source outright; slice evals are
    how that ships visible. Same bucketed two-level prefix sum, but
    the source key makes every window naturally partitioned."""
    from parlerproject_spark.operators.evaluation import grouped_roc_auc
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        (F.col("n_chars").cast("double")
         / (F.col("n_chars") + 100.0)).alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"))
    return grouped_roc_auc(d, ["source"]).orderBy("source")


@register("ips_policy_value_events", """
WITH mu AS (
  SELECT event_type, count(*) AS na FROM events GROUP BY event_type),
tot AS (SELECT count(*) AS n FROM events),
base AS (
  SELECT (CASE WHEN e.event_type = 'purchase' THEN 0.6
               ELSE 0.1 END) / (CAST(mu.na AS DOUBLE) / tot.n) AS w,
         e.value
  FROM events e JOIN mu USING (event_type) CROSS JOIN tot)
SELECT CAST(count(*) AS BIGINT) AS n,
       round(avg(w * value), 6) AS ips,
       round(sum(w * value) / sum(w), 6) AS snips,
       round(sum(w) * sum(w) / sum(w * w), 6) AS ess,
       round(max(w), 6) AS max_w
FROM base
""")
def ips_policy_value_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counterfactual policy value (evaluation.off_policy_value):
    IPS/SNIPS estimate of a purchase-seeking target policy
    (π(purchase)=0.6, 0.1 elsewhere) on the logged event stream,
    with empirical logging propensities, effective-sample-size and
    max-weight diagnostics — offline policy eval without a deploy."""
    from parlerproject_spark.operators.evaluation import off_policy_value
    e = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("action"),
        F.col("value").alias("reward"))
    probs = {t: (0.6 if t == "purchase" else 0.1)
             for t in ("view", "click", "purchase", "signup", "error")}
    return off_policy_value(e, probs)


@register("t_closeness_events", """
WITH base AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         least(CAST(floor(value / 20.0) AS BIGINT), 4) AS vb
  FROM events),
cell AS (
  SELECT event_type, d, vb, count(*) AS c FROM base
  GROUP BY event_type, d, vb),
cls AS (
  SELECT event_type, d, sum(c) AS n FROM cell GROUP BY event_type, d),
gd AS (SELECT vb, sum(c) AS g FROM cell GROUP BY vb),
tot AS (SELECT sum(g) AS t FROM gd),
gs AS (SELECT vb, g::DOUBLE / t AS p FROM gd CROSS JOIN tot),
per AS (
  SELECT cell.event_type, cell.d, cls.n,
         abs(cell.c::DOUBLE / cls.n - gs.p) AS term, gs.p
  FROM cell JOIN cls USING (event_type, d) JOIN gs USING (vb))
SELECT event_type, d,
       CAST(max(n) AS BIGINT) AS n,
       round(0.5 * (sum(term) + (1.0 - sum(p))), 6) AS tvd,
       (round(0.5 * (sum(term) + (1.0 - sum(p))), 6) > 0.2) AS breach
FROM per GROUP BY event_type, d
ORDER BY event_type, d
""")
def t_closeness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness release audit (privacy.t_closeness_audit) over
    events: quasi-identifiers (event_type, date), sensitive
    attribute = banded value (five 20-unit bands) — per-class
    total-variation distance from the table-wide band distribution,
    breach flag at t=0.2. The disclosure check l-diversity misses:
    a class can be diverse and still skewed."""
    from parlerproject_spark.operators.privacy import t_closeness_audit
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("d"),
        F.least(F.floor(F.col("value") / 20.0),
                F.lit(4)).cast("long").alias("vb"))
    return (t_closeness_audit(ev, ["event_type", "d"], "vb", t=0.2)
            .orderBy("event_type", "d"))


@register("association_source_lang", """
WITH cell AS (
  SELECT source, lang, count(*) AS c FROM documents
  WHERE source IS NOT NULL AND lang IS NOT NULL
  GROUP BY source, lang),
ra AS (SELECT source, sum(c) AS r FROM cell GROUP BY source),
cb AS (SELECT lang, sum(c) AS cc FROM cell GROUP BY lang),
j AS (
  SELECT cell.c, ra.r, cb.cc FROM cell
  JOIN ra USING (source) JOIN cb USING (lang))
SELECT CAST(sum(c) AS BIGINT) AS n,
       CAST((SELECT count(*) FROM ra) AS BIGINT) AS n_a,
       CAST((SELECT count(*) FROM cb) AS BIGINT) AS n_b,
       CAST(((SELECT count(*) FROM ra) - 1)
            * ((SELECT count(*) FROM cb) - 1) AS BIGINT) AS dof,
       round(sum(c) * (sum(c::DOUBLE * c / (r::DOUBLE * cc)) - 1.0), 6) AS chi2,
       round(sqrt(sum(c) * (sum(c::DOUBLE * c / (r::DOUBLE * cc)) - 1.0)
                  / (sum(c) * (least((SELECT count(*) FROM ra),
                                     (SELECT count(*) FROM cb)) - 1.0))), 6)
         AS cramers_v,
       round(sum(c * ln(c::DOUBLE / (r::DOUBLE * cc))) / sum(c) + ln(sum(c)), 6)
         AS mi
FROM j
""")
def association_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source×language association audit (profiling.association_audit):
    chi-square, Cramér's V and mutual information over the
    contingency table — the confound check before any by-source
    split or slice eval (if V is high, "balanced by source" silently
    unbalances language). Observed-cell closed forms only; nothing
    above (source, lang) cells shuffles."""
    from parlerproject_spark.operators.profiling import association_audit
    d = _t(spark, sf_dir, "documents").select("source", "lang")
    return association_audit(d, "source", "lang")


@register("repetition_spans_docs", r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS ws
  FROM documents),
grams AS (
  SELECT doc_id,
         unnest(range(1, len(ws))) AS pos,
         unnest(list_transform(range(1, len(ws)),
                               i -> ws[i] || ' ' || ws[i + 1])) AS gr
  FROM toks),
fst AS (SELECT doc_id, gr, min(pos) AS fp FROM grams GROUP BY doc_id, gr),
masked AS (
  SELECT grams.doc_id, grams.pos AS s, grams.pos + 1 AS e
  FROM grams JOIN fst USING (doc_id, gr)
  WHERE grams.pos <> fst.fp),
flag AS (
  SELECT doc_id, s, e,
         CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS nw
  FROM masked),
isl AS (
  SELECT doc_id, s, e,
         sum(nw) OVER (PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS island
  FROM flag)
SELECT doc_id, CAST(min(s) AS BIGINT) AS start,
       CAST(max(e) AS BIGINT) AS "end",
       CAST(max(e) - min(s) + 1 AS BIGINT) AS masked_tokens
FROM isl GROUP BY doc_id, island
ORDER BY doc_id, start
""")
def repetition_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-bigram mask spans
    (dedup.intra_doc_repeated_spans): every bigram occurrence after
    its first in the same doc marks tokens to drop; touching spans
    merge via doc-partitioned gaps-and-islands. The span-level cut
    behind gopher_repetition's score — which tokens, not just how
    repetitive."""
    from parlerproject_spark.operators.dedup import intra_doc_repeated_spans
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (intra_doc_repeated_spans(d, n=2)
            .orderBy("doc_id", "start"))


def _trunc_knn_sql(d: int) -> str:
    return f"""
k{d} AS (
  SELECT {d} AS dim, vec_id FROM (
    SELECT e.vec_id,
           round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
             AS sim
    FROM (SELECT vec_id,
                 unnest(embedding[1:{d}])::DOUBLE AS x,
                 unnest((SELECT embedding FROM embeddings
                         WHERE vec_id = 0)[1:{d}])::DOUBLE AS y
          FROM embeddings) e
    GROUP BY e.vec_id)
  ORDER BY sim DESC, vec_id ASC LIMIT 10)"""


@register("truncation_recall_embeddings", "WITH " + ",".join(
    [_trunc_knn_sql(d) for d in (8, 16, 32, 64)]) + """,
fullk AS (SELECT vec_id, 1 AS hit FROM k64),
allk AS (SELECT * FROM k8 UNION ALL SELECT * FROM k16
         UNION ALL SELECT * FROM k32 UNION ALL SELECT * FROM k64)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(sum(coalesce(hit, 0)) AS BIGINT) AS hits,
       round(sum(coalesce(hit, 0)) / 10.0, 6) AS recall
FROM allk LEFT JOIN fullk USING (vec_id)
GROUP BY dim ORDER BY dim
""")
def truncation_recall_embeddings(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Matryoshka truncation quality curve
    (similarity.truncation_recall): recall@10 of prefix-truncated
    cosine top-k (d = 8/16/32/64 of 64 dims) against the full-width
    ranking for the vec_id=0 query — the measurement that prices
    prefix-slice embedding compression before changing the index.
    d=64 is the ==1.0 sanity row."""
    from parlerproject_spark.operators.similarity import truncation_recall
    emb = _t(spark, sf_dir, "embeddings")
    return (truncation_recall(emb, _query_vec(spark, sf_dir),
                              dims=[8, 16, 32, 64], k=10)
            .orderBy("dim"))


@register("selection_parity_sources", """
WITH g AS (
  SELECT source, count(*) AS n,
         sum(CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END) AS n_selected
  FROM documents GROUP BY source),
r AS (SELECT source, n, n_selected, n_selected::DOUBLE / n AS rate FROM g),
mx AS (SELECT max(rate) AS m FROM r)
SELECT source, CAST(n AS BIGINT) AS n,
       CAST(n_selected AS BIGINT) AS n_selected,
       round(rate, 6) AS rate,
       round(m - rate, 6) AS rate_gap,
       round(rate / m, 6) AS impact_ratio,
       (round(rate / m, 6) < 0.8) AS below_four_fifths
FROM r CROSS JOIN mx
ORDER BY source
""")
def selection_parity_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection-rate parity audit (evaluation.selection_rate_parity)
    of a length gate (n_chars >= 500) across sources — the
    four-fifths-rule check that a quality filter isn't silently
    reweighting the corpus: per-source keep rate, gap to the
    best-treated source, disparate-impact ratio with the 0.8 flag."""
    from parlerproject_spark.operators.evaluation import (
        selection_rate_parity)
    d = _t(spark, sf_dir, "documents").select(
        "source", (F.col("n_chars") >= 500).alias("selected"))
    return (selection_rate_parity(d, "source").orderBy("source"))


@register("conformal_coverage_docs", """
WITH base AS (
  SELECT CASE WHEN lang = 'en'
              THEN 1.0 - CAST(n_chars AS DOUBLE) / (n_chars + 100.0)
              ELSE CAST(n_chars AS DOUBLE) / (n_chars + 100.0) END AS s,
         (doc_id % 2 = 0) AS cal
  FROM documents),
ncal AS (SELECT count(*) AS n FROM base WHERE cal),
kk AS (SELECT least(n, CAST(ceil((n + 1) * 0.9) AS BIGINT)) AS k, n
       FROM ncal),
ranked AS (
  SELECT s, row_number() OVER (ORDER BY s ASC) AS rn
  FROM base WHERE cal),
q AS (SELECT max(s) AS qhat FROM ranked, kk WHERE rn <= kk.k)
SELECT CAST((SELECT n FROM ncal) AS BIGINT) AS n_calib,
       CAST(count(*) AS BIGINT) AS n_test,
       round((SELECT qhat FROM q), 6) AS qhat,
       round(avg(CASE WHEN s <= (SELECT qhat FROM q)
                      THEN 1.0 ELSE 0.0 END), 6) AS coverage,
       0.9 AS target
FROM base WHERE NOT cal
""")
def conformal_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal coverage check (evaluation.conformal_coverage)
    at α=0.1 for the length-based lang=='en' pseudo-classifier:
    even doc_ids calibrate, odd test; q̂ is the ⌈(n+1)·0.9⌉-th
    smallest calibration nonconformity via a distributed TakeOrdered
    cut, and the reported test coverage carries the ≥0.9 conformal
    guarantee. The oracle replays the same rank with a single-node
    window (windows are free in DuckDB; the ENGINE side never ranks
    globally)."""
    from parlerproject_spark.operators.evaluation import conformal_coverage
    d = _t(spark, sf_dir, "documents").select(
        (F.col("n_chars").cast("double")
         / (F.col("n_chars") + 100.0)).alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
        (F.col("doc_id") % 2 == 0).alias("cal"))
    return conformal_coverage(d, alpha=0.1, split_expr=F.col("cal"))


@register("weak_label_summary_docs", """
WITH v AS (
  SELECT CASE WHEN n_chars >= 600 THEN 1
              WHEN n_chars < 200 THEN -1 ELSE 0 END AS v0,
         CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS v1,
         CASE WHEN contains(text, ' la ') OR contains(text, ' der ')
              THEN -1 ELSE 0 END AS v2,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents),
r AS (
  SELECT v0, v1, v2, y,
         (CASE WHEN v0 <> 0 THEN 1 ELSE 0 END
          + CASE WHEN v1 <> 0 THEN 1 ELSE 0 END
          + CASE WHEN v2 <> 0 THEN 1 ELSE 0 END) AS nv,
         sign(v0 + v1 + v2) AS maj
  FROM v),
s AS (
  SELECT
    sum(CASE WHEN v0 <> 0 THEN 1 ELSE 0 END) AS n_0,
    avg(CASE WHEN v0 <> 0 THEN 1.0 ELSE 0.0 END) AS cov_0,
    avg(CASE WHEN v0 <> 0 AND nv - 1 > 0 THEN 1.0 ELSE 0.0 END) AS ovl_0,
    avg(CASE WHEN v0 <> 0 AND ((v1 = -v0 AND v1 <> 0)
             OR (v2 = -v0 AND v2 <> 0)) THEN 1.0 ELSE 0.0 END) AS cfl_0,
    sum(CASE WHEN v0 <> 0 AND v0 = maj THEN 1 ELSE 0 END)::DOUBLE
      / sum(CASE WHEN v0 <> 0 THEN 1 ELSE 0 END) AS agr_0,
    sum(CASE WHEN v0 <> 0 AND v0 = CASE WHEN y = 1 THEN 1 ELSE -1 END
             THEN 1 ELSE 0 END)::DOUBLE
      / sum(CASE WHEN v0 <> 0 THEN 1 ELSE 0 END) AS acc_0,
    sum(CASE WHEN v1 <> 0 THEN 1 ELSE 0 END) AS n_1,
    avg(CASE WHEN v1 <> 0 THEN 1.0 ELSE 0.0 END) AS cov_1,
    avg(CASE WHEN v1 <> 0 AND nv - 1 > 0 THEN 1.0 ELSE 0.0 END) AS ovl_1,
    avg(CASE WHEN v1 <> 0 AND ((v0 = -v1 AND v0 <> 0)
             OR (v2 = -v1 AND v2 <> 0)) THEN 1.0 ELSE 0.0 END) AS cfl_1,
    sum(CASE WHEN v1 <> 0 AND v1 = maj THEN 1 ELSE 0 END)::DOUBLE
      / sum(CASE WHEN v1 <> 0 THEN 1 ELSE 0 END) AS agr_1,
    sum(CASE WHEN v1 <> 0 AND v1 = CASE WHEN y = 1 THEN 1 ELSE -1 END
             THEN 1 ELSE 0 END)::DOUBLE
      / sum(CASE WHEN v1 <> 0 THEN 1 ELSE 0 END) AS acc_1,
    sum(CASE WHEN v2 <> 0 THEN 1 ELSE 0 END) AS n_2,
    avg(CASE WHEN v2 <> 0 THEN 1.0 ELSE 0.0 END) AS cov_2,
    avg(CASE WHEN v2 <> 0 AND nv - 1 > 0 THEN 1.0 ELSE 0.0 END) AS ovl_2,
    avg(CASE WHEN v2 <> 0 AND ((v0 = -v2 AND v0 <> 0)
             OR (v1 = -v2 AND v1 <> 0)) THEN 1.0 ELSE 0.0 END) AS cfl_2,
    sum(CASE WHEN v2 <> 0 AND v2 = maj THEN 1 ELSE 0 END)::DOUBLE
      / sum(CASE WHEN v2 <> 0 THEN 1 ELSE 0 END) AS agr_2,
    sum(CASE WHEN v2 <> 0 AND v2 = CASE WHEN y = 1 THEN 1 ELSE -1 END
             THEN 1 ELSE 0 END)::DOUBLE
      / sum(CASE WHEN v2 <> 0 THEN 1 ELSE 0 END) AS acc_2
  FROM r)
SELECT 'lf_length' AS lf, CAST(n_0 AS BIGINT) AS n_votes,
       round(cov_0, 6) AS coverage, round(ovl_0, 6) AS overlap,
       round(cfl_0, 6) AS conflict, round(agr_0, 6) AS majority_agreement,
       round(acc_0, 6) AS accuracy FROM s
UNION ALL
SELECT 'lf_stop_en', CAST(n_1 AS BIGINT), round(cov_1, 6), round(ovl_1, 6),
       round(cfl_1, 6), round(agr_1, 6), round(acc_1, 6) FROM s
UNION ALL
SELECT 'lf_stop_xx', CAST(n_2 AS BIGINT), round(cov_2, 6), round(ovl_2, 6),
       round(cfl_2, 6), round(agr_2, 6), round(acc_2, 6) FROM s
ORDER BY lf
""")
def weak_label_summary_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snorkel-style labeling-function diagnostics
    (selection.weak_label_summary): three weak voters for the
    lang=='en' label — a length band (±1/abstain), the ' the '
    stopword (+1/abstain) and non-English stopwords ' la '/' der '
    (−1/abstain) — reporting per-LF coverage / overlap / conflict /
    majority-agreement / empirical accuracy in ONE pass with
    constant-width state. The triage table programmatic labeling
    runs before fitting any label model."""
    from parlerproject_spark.operators.selection import weak_label_summary
    d = _t(spark, sf_dir, "documents").select(
        F.when(F.col("n_chars") >= 600, 1)
         .when(F.col("n_chars") < 200, -1).otherwise(0).alias("lf_length"),
        F.when(F.col("text").contains(" the "), 1).otherwise(0)
         .alias("lf_stop_en"),
        F.when(F.col("text").contains(" la ")
               | F.col("text").contains(" der "), -1).otherwise(0)
         .alias("lf_stop_xx"),
        (F.col("lang") == "en").cast("int").alias("y"))
    return (weak_label_summary(d, ["lf_length", "lf_stop_en", "lf_stop_xx"],
                               truth_col="y")
            .orderBy("lf"))


@register("active_learning_batch_docs", """
WITH base AS (
  SELECT doc_id, source,
         round(CAST(n_chars AS DOUBLE) / (n_chars + 100.0), 6) AS score,
         round(0.5 - abs(CAST(n_chars AS DOUBLE) / (n_chars + 100.0)
                         - 0.5), 6) AS uncertainty
  FROM documents),
capped AS (
  SELECT doc_id, source, score, uncertainty,
         row_number() OVER (PARTITION BY source
                            ORDER BY uncertainty DESC, doc_id ASC) AS rn
  FROM base)
SELECT doc_id, source, score, uncertainty
FROM capped WHERE rn <= 5
ORDER BY uncertainty DESC, doc_id ASC LIMIT 50
""")
def active_learning_batch_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-learning label batch (sampling
    .uncertainty_diverse_batch): the 50 docs whose length-based
    quality score sits closest to 0.5, capped at 5 per source — the
    label-budget allocator that feeds human labels back into the
    quality classifier without one domain hogging the batch. Cap =
    source-partitioned window; cut = TakeOrdered 50."""
    from parlerproject_spark.operators.sampling import (
        uncertainty_diverse_batch)
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        (F.col("n_chars").cast("double")
         / (F.col("n_chars") + 100.0)).alias("score"))
    return uncertainty_diverse_batch(d, k=50, per_group_cap=5)


@register("theil_sen_trend_users", """
WITH raw AS (
  SELECT user_id, epoch_us(ts) AS us, value AS y FROM events),
ranked AS (
  SELECT user_id, us, y,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY ('0x' || substring(
               md5(user_id::VARCHAR || ':' || us::VARCHAR),
               1, 15))::BIGINT % 2147483647, us, y) AS rn
  FROM raw),
e AS (
  SELECT user_id, (us / 1000000.0 - 1704067200) / 3600.0 AS x, y
  FROM ranked WHERE rn <= 40),
p AS (
  SELECT a.user_id, (b.y - a.y) / (b.x - a.x) AS s
  FROM e a JOIN e b ON a.user_id = b.user_id AND b.x > a.x),
sl AS (
  SELECT user_id, median(s) AS m, count(*) AS n_pairs
  FROM p GROUP BY user_id),
r AS (
  SELECT e.user_id, sl.m, sl.n_pairs, e.y - sl.m * e.x AS resid
  FROM e JOIN sl USING (user_id))
SELECT user_id, CAST(n_pairs AS BIGINT) AS n_pairs,
       round(m, 6) AS slope, round(median(resid), 6) AS intercept
FROM r GROUP BY user_id, n_pairs, m
ORDER BY user_id
""")
def theil_sen_trend_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Theil–Sen robust trend (timeseries.theil_sen_trend):
    median pairwise slope + median-residual intercept of value over
    hours — the outlier-resistant reading next to linear_trend's
    OLS (compare the two to FIND the contaminated users). Pair stage
    is per-key quadratic, so the registered query runs with the
    max_per_key=40 deterministic md5 subsample — any key's pair
    volume is ≤ 40·39/2 = 780 regardless of history depth, the only
    way the cost curve stays linear when per-key depth grows 100×.
    The oracle replays the identical subsample (integer-rendered
    hash string); the accuracy trade is recorded in SCALE.md."""
    from parlerproject_spark.operators.timeseries import theil_sen_trend
    return (theil_sen_trend(_t(spark, sf_dir, "events"), max_per_key=40)
            .orderBy("user_id"))


@register("rfm_scores_users", """
WITH per AS (
  SELECT user_id,
         epoch(TIMESTAMP '2024-02-01') - epoch(max(ts)) AS rsec,
         count(*) AS frequency,
         round(sum(value), 6) AS monetary
  FROM events GROUP BY user_id),
cuts AS (
  SELECT quantile_cont(-rsec, [0.2, 0.4, 0.6, 0.8]) AS rc,
         quantile_cont(frequency::DOUBLE, [0.2, 0.4, 0.6, 0.8]) AS fc,
         quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mc
  FROM per),
scored AS (
  SELECT user_id,
         round(rsec / 86400.0, 6) AS recency_days,
         CAST(frequency AS BIGINT) AS frequency, monetary,
         CAST(1 + (-rsec > rc[1])::INT + (-rsec > rc[2])::INT
                + (-rsec > rc[3])::INT + (-rsec > rc[4])::INT
              AS BIGINT) AS r_score,
         CAST(1 + (frequency > fc[1])::INT + (frequency > fc[2])::INT
                + (frequency > fc[3])::INT + (frequency > fc[4])::INT
              AS BIGINT) AS f_score,
         CAST(1 + (monetary > mc[1])::INT + (monetary > mc[2])::INT
                + (monetary > mc[3])::INT + (monetary > mc[4])::INT
              AS BIGINT) AS m_score
  FROM per CROSS JOIN cuts)
SELECT user_id, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm
FROM scored ORDER BY user_id
""")
def rfm_scores_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM user segmentation (analytics.rfm_scores): recency /
    frequency / monetary quintile scores as of 2024-02-01 — the
    classic user-value featurization, built as one user-keyed agg +
    one exact-percentile cut row broadcast back. Nothing above user
    granularity shuffles; banding is an expression."""
    from parlerproject_spark.operators.analytics import rfm_scores
    return (rfm_scores(_t(spark, sf_dir, "events"))
            .orderBy("user_id"))


def _gsab_look_sql(i: int, cut: str) -> str:
    return f"""
SELECT {i + 1} AS look, TIMESTAMP '{cut}' AS cutoff,
       CAST(n0_{i} AS BIGINT) AS n_0, CAST(n1_{i} AS BIGINT) AS n_1,
       CAST(c0_{i} AS BIGINT) AS conv_0, CAST(c1_{i} AS BIGINT) AS conv_1,
       round(CASE WHEN sqrt(((c0_{i} + c1_{i})::DOUBLE / (n0_{i} + n1_{i}))
                  * (1 - (c0_{i} + c1_{i})::DOUBLE / (n0_{i} + n1_{i}))
                  * (1.0 / n0_{i} + 1.0 / n1_{i})) > 0
             THEN (c1_{i}::DOUBLE / n1_{i} - c0_{i}::DOUBLE / n0_{i})
                  / sqrt(((c0_{i} + c1_{i})::DOUBLE / (n0_{i} + n1_{i}))
                  * (1 - (c0_{i} + c1_{i})::DOUBLE / (n0_{i} + n1_{i}))
                  * (1.0 / n0_{i} + 1.0 / n1_{i})) END, 6) AS z,
       2.575829 AS boundary,
       coalesce(abs(CASE WHEN sqrt(((c0_{i} + c1_{i})::DOUBLE
                  / (n0_{i} + n1_{i}))
                  * (1 - (c0_{i} + c1_{i})::DOUBLE / (n0_{i} + n1_{i}))
                  * (1.0 / n0_{i} + 1.0 / n1_{i})) > 0
             THEN (c1_{i}::DOUBLE / n1_{i} - c0_{i}::DOUBLE / n0_{i})
                  / sqrt(((c0_{i} + c1_{i})::DOUBLE / (n0_{i} + n1_{i}))
                  * (1 - (c0_{i} + c1_{i})::DOUBLE / (n0_{i} + n1_{i}))
                  * (1.0 / n0_{i} + 1.0 / n1_{i})) END) > 2.575829, FALSE)
         AS crossed
FROM one"""


_GSAB_LOOKS = ["2024-01-07 00:00:00", "2024-01-13 00:00:00",
               "2024-01-19 00:00:00", "2024-01-25 00:00:00",
               "2024-01-31 00:00:00"]

_GSAB_SQL = ("""
WITH per AS (
  SELECT user_id, min(ts) AS first_ts,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS succ_ts,
         ((user_id % 2) + 2) % 2 AS arm
  FROM events GROUP BY user_id),
one AS (
  SELECT
""" + ",\n".join(
    f"""    sum(CASE WHEN first_ts <= TIMESTAMP '{cut}' AND arm = {arm}
             THEN 1 ELSE 0 END) AS n{arm}_{i},
    sum(CASE WHEN first_ts <= TIMESTAMP '{cut}' AND arm = {arm}
             AND succ_ts IS NOT NULL AND succ_ts <= TIMESTAMP '{cut}'
             THEN 1 ELSE 0 END) AS c{arm}_{i}"""
    for i, cut in enumerate(_GSAB_LOOKS) for arm in (0, 1))
 + "\n  FROM per)\n"
 + "\nUNION ALL\n".join(_gsab_look_sql(i, cut)
                        for i, cut in enumerate(_GSAB_LOOKS))
 + "\nORDER BY look")


@register("group_sequential_ab_events", _GSAB_SQL)
def group_sequential_ab_events(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitor (analytics.group_sequential_ab):
    the purchase-conversion z-test at five interim looks (6-day
    event-time cutoffs) against the Bonferroni-spent boundary
    z_{1-0.05/10} = 2.575829 — peeking-safe experiment monitoring.
    One per-user agg + one constant-width (4K sums) global row,
    unpivoted per look."""
    from parlerproject_spark.operators.analytics import group_sequential_ab
    return (group_sequential_ab(_t(spark, sf_dir, "events"), _GSAB_LOOKS)
            .orderBy("look"))


@register("cuped_lift_events", """
WITH per AS (
  SELECT user_id,
         sum(CASE WHEN ts < TIMESTAMP '2024-01-15'
                  THEN value ELSE 0.0 END) AS x,
         sum(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                  THEN value ELSE 0.0 END) AS y,
         ((user_id % 2) + 2) % 2 AS arm
  FROM events GROUP BY user_id),
th AS (
  SELECT covar_pop(x, y) / var_pop(x) AS t, avg(x) AS mx FROM per),
adj AS (
  SELECT arm, y, y - th.t * (x - th.mx) AS ya, th.t, th.mx
  FROM per CROSS JOIN th)
SELECT CAST(count(*) AS BIGINT) AS n,
       round(max(t), 6) AS theta,
       round(max(mx), 6) AS mean_x,
       round(avg(CASE WHEN arm = 1 THEN y END)
             - avg(CASE WHEN arm = 0 THEN y END), 6) AS lift_raw,
       round(avg(CASE WHEN arm = 1 THEN ya END)
             - avg(CASE WHEN arm = 0 THEN ya END), 6) AS lift_adj,
       round(var_pop(y), 6) AS var_y,
       round(var_pop(ya), 6) AS var_adj,
       round(1.0 - var_pop(ya) / var_pop(y), 6) AS var_reduction
FROM adj
""")
def cuped_lift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted experiment lift (analytics.cuped_adjustment):
    each user's post-cutover value mass adjusted by their pre-period
    covariate (θ = cov/var) — the variance-reduction trick that
    makes small lifts detectable. Reports raw vs adjusted lift and
    the variance reduction achieved."""
    from parlerproject_spark.operators.analytics import cuped_adjustment
    return cuped_adjustment(_t(spark, sf_dir, "events"))


@register("mann_whitney_arms_events", """
WITH base AS (
  SELECT value AS s, (((user_id % 2) + 2) % 2)::INT AS g FROM events),
per AS (
  SELECT s, sum(g) AS n1, sum(1 - g) AS n0 FROM base GROUP BY s),
cum AS (
  SELECT n1, n0,
         coalesce(sum(n0) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                                PRECEDING AND 1 PRECEDING), 0) AS below,
         (n1 + n0) AS t
  FROM per)
SELECT CAST(sum(n1) AS BIGINT) AS n_1,
       CAST(sum(n0) AS BIGINT) AS n_0,
       round(sum(n1 * (below::DOUBLE + n0 / 2.0)), 6) AS u,
       round(CASE WHEN sum(n1)::DOUBLE * sum(n0) / 12.0
                  * ((sum(n1) + sum(n0) + 1.0)
                     - sum(t::DOUBLE * t * t - t)
                       / ((sum(n1) + sum(n0))::DOUBLE
                          * (sum(n1) + sum(n0) - 1.0))) > 0
             THEN (sum(n1 * (below::DOUBLE + n0 / 2.0))
                   - sum(n1)::DOUBLE * sum(n0) / 2.0)
                  / sqrt(sum(n1)::DOUBLE * sum(n0) / 12.0
                  * ((sum(n1) + sum(n0) + 1.0)
                     - sum(t::DOUBLE * t * t - t)
                       / ((sum(n1) + sum(n0))::DOUBLE
                          * (sum(n1) + sum(n0) - 1.0)))) END, 6) AS z
FROM cum
""")
def mann_whitney_arms_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U between experiment arms
    (evaluation.mann_whitney_u): rank-sum comparison of event values
    across the user-hash arms with tie-corrected normal z — the
    outlier-robust companion to the mean-based z-test. Engine side
    reuses the roc_auc bucketed prefix sum; the oracle replays the
    single-node cumulative window."""
    from parlerproject_spark.operators.evaluation import mann_whitney_u
    e = _t(spark, sf_dir, "events").select(
        "value", F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("arm"))
    return mann_whitney_u(e, value_col="value", group_col="arm")


@register("distinct_ngram_sources", r"""
WITH toks AS (
  SELECT source,
         list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS ws
  FROM documents),
g AS (
  SELECT source, 1 AS n, unnest(ws) AS gr FROM toks
  UNION ALL
  SELECT source, 2 AS n,
         unnest(list_transform(range(1, len(ws)),
                               i -> ws[i] || ' ' || ws[i + 1])) AS gr
  FROM toks),
cnt AS (SELECT source, n, gr, count(*) AS c FROM g GROUP BY source, n, gr)
SELECT source, CAST(n AS BIGINT) AS n,
       CAST(sum(c) AS BIGINT) AS n_total,
       CAST(count(*) AS BIGINT) AS n_unique,
       round(count(*)::DOUBLE / sum(c), 6) AS distinct_ratio
FROM cnt GROUP BY source, n
ORDER BY source, n
""")
def distinct_ngram_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-1/distinct-2 diversity per source
    (text_analysis.distinct_ngram_diversity): unique-to-total n-gram
    ratio — the mode-collapse/boilerplate readout (Li et al. 2016);
    a source whose distinct-2 craters is templated text even when
    its docs pass every length gate."""
    from parlerproject_spark.operators.text_analysis import (
        distinct_ngram_diversity)
    d = _t(spark, sf_dir, "documents").select("source", "text")
    return (distinct_ngram_diversity(d, max_n=2)
            .orderBy("source", "n"))


@register("loso_quality_sources", """
WITH g AS (
  SELECT source, count(*) AS n, sum(CAST(n_chars AS DOUBLE)) AS s
  FROM documents GROUP BY source),
tot AS (SELECT sum(n) AS nn, sum(s) AS ss FROM g)
SELECT source, CAST(n AS BIGINT) AS n,
       round(s / n, 6) AS group_mean,
       round((ss - s) / (nn - n), 6) AS loo_mean,
       round(ss / nn - (ss - s) / (nn - n), 6) AS delta
FROM g CROSS JOIN tot
ORDER BY source
""")
def loso_quality_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out contribution sweep
    (profiling.leave_one_out_deltas) on doc length: what the corpus
    mean n_chars would be without each source, exact counterfactual
    algebra from per-group sums — the G-recompute data-valuation
    sweep priced as ONE keyed aggregation."""
    from parlerproject_spark.operators.profiling import leave_one_out_deltas
    d = _t(spark, sf_dir, "documents").select("source",
                                              F.col("n_chars").alias("value"))
    return (leave_one_out_deltas(d, group_col="source", value_col="value")
            .orderBy("source"))


@register("ece_docs", """
WITH base AS (
  SELECT CAST(n_chars AS DOUBLE) / (n_chars + 300.0) AS p,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents),
bins AS (
  SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
         count(*) AS n, round(avg(p), 6) AS mean_prob,
         round(avg(y), 6) AS frac_pos
  FROM base GROUP BY 1)
SELECT CAST(sum(n) AS BIGINT) AS n,
       round(sum(n * abs(frac_pos - mean_prob)) / sum(n), 6) AS ece
FROM bins
""")
def ece_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error — the single-number summary of
    calibration_docs' reliability diagram: Σ (n_b/N)·|acc_b −
    conf_b| over the same 10 equal-width bins (computed FROM the
    verified calibration_report frame, so the binning and rounding
    are shared by construction)."""
    from parlerproject_spark.operators.evaluation import calibration_report
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        (F.col("n_chars").cast("double")
         / (F.col("n_chars") + 300.0)).alias("prob"),
        (F.col("lang") == "en").cast("int").alias("label"))
    bins = calibration_report(d, n_bins=10)
    return bins.agg(
        F.sum("n").cast("long").alias("n"),
        F.round(F.sum(F.col("n")
                      * F.abs(F.col("frac_pos") - F.col("mean_prob")))
                / F.sum("n"), 6).alias("ece"))


@register("association_rules_events", """
WITH basket AS (SELECT DISTINCT user_id AS u, event_type AS i FROM events),
nu AS (SELECT count(DISTINCT u) AS n FROM basket),
item_n AS (SELECT i, count(*) AS ni FROM basket GROUP BY i),
pairs AS (
  SELECT a.i AS antecedent, b.i AS consequent, count(*) AS n_both
  FROM basket a JOIN basket b ON a.u = b.u AND a.i <> b.i
  GROUP BY a.i, b.i)
SELECT antecedent, consequent, CAST(n_both AS BIGINT) AS n_both,
       round(n_both::DOUBLE / nu.n, 6) AS support,
       round(n_both::DOUBLE / na.ni, 6) AS confidence,
       round(n_both::DOUBLE * nu.n / (na.ni::DOUBLE * nb.ni), 6) AS lift
FROM pairs
JOIN item_n na ON na.i = antecedent
JOIN item_n nb ON nb.i = consequent
CROSS JOIN nu
WHERE n_both::DOUBLE / nu.n >= 0.01
ORDER BY antecedent, consequent
""")
def association_rules_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket rules over per-user event-type sets
    (analytics.association_rules): support / confidence / lift for
    every type pair — affinity mining whose pair stage is bounded by
    the item vocabulary, not event volume (baskets are distinct
    sets)."""
    from parlerproject_spark.operators.analytics import association_rules
    return (association_rules(_t(spark, sf_dir, "events"),
                              min_support=0.01)
            .orderBy("antecedent", "consequent"))


@register("readability_docs", r"""
WITH base AS (
  SELECT doc_id, lower(text) AS t FROM documents),
m AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(t, '\s+'), w -> w <> ''))
           ::DOUBLE AS words,
         greatest(len(regexp_extract_all(t, '[.!?]+')), 1)::DOUBLE
           AS sents,
         len(regexp_extract_all(t, '[aeiouy]+'))::DOUBLE AS syll
  FROM base)
SELECT doc_id,
       CAST(words AS BIGINT) AS n_words,
       CAST(sents AS BIGINT) AS n_sentences,
       CAST(syll AS BIGINT) AS n_syllables,
       round(CASE WHEN words > 0 THEN
             206.835 - 1.015 * (words / sents) - 84.6 * (syll / words)
             END, 6) AS flesch_ease,
       round(CASE WHEN words > 0 THEN
             0.39 * (words / sents) + 11.8 * (syll / words) - 15.59
             END, 6) AS fk_grade
FROM m ORDER BY doc_id
""")
def readability_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch ease + FK grade per doc
    (quality_rules.readability_scores): vowel-group syllable proxy,
    [.!?]+ sentences — zero-shuffle regexp expressions on the scan;
    the readability features every quality classifier stack
    includes."""
    from parlerproject_spark.operators.quality_rules import (
        readability_scores)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return readability_scores(d).orderBy("doc_id")


def _kcore_peel_sql(i: int, k: int) -> str:
    # every CTE is MATERIALIZED: each peel references its predecessor
    # ~5 times, and DuckDB's default CTE inlining would otherwise
    # expand the 6-peel chain into 5^6 scans of the events view (the
    # SQL mirror of the 2^k logical-plan unroll trap)
    return f""",
d{i} AS MATERIALIZED (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM e{i} UNION ALL SELECT b AS v FROM e{i})
  GROUP BY v),
kv{i} AS MATERIALIZED (SELECT v FROM d{i} WHERE d >= {k}),
e{i + 1} AS MATERIALIZED (
  SELECT a, b FROM e{i}
  WHERE a IN (SELECT v FROM kv{i}) AND b IN (SELECT v FROM kv{i}))"""


_KCORE_PEELS = 6
_KCORE_K = 70

_KCORE_SQL = ("""
WITH keyed AS (
  SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS obj,
         ts, event_id, user_id AS dst
  FROM events
  WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        IS NOT NULL),
dir AS (
  SELECT DISTINCT src, dst
  FROM (SELECT lag(dst) OVER (PARTITION BY obj
                              ORDER BY ts, event_id) AS src, dst
        FROM keyed)
  WHERE src IS NOT NULL AND src <> dst),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM dir WHERE src <> dst)"""
 + "".join(_kcore_peel_sql(i, _KCORE_K) for i in range(_KCORE_PEELS))
 + f"""
SELECT v AS vertex, CAST(d AS BIGINT) AS degree FROM (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM e{_KCORE_PEELS}
    UNION ALL SELECT b AS v FROM e{_KCORE_PEELS})
  GROUP BY v)
WHERE d >= {_KCORE_K}
ORDER BY vertex""")


@register("k_core_users", _KCORE_SQL)
def k_core_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core membership of the co-interaction user graph
    (graph.k_core, k=70): the dense-subgraph extractor (Seidman
    1983) behind spam-ring and community detection — iterative
    peeling with early exit; the oracle unrolls 6 peel CTEs (the
    peel is idempotent at the fixed point, so over-unrolling is a
    no-op; sf0.01 converges in 3)."""
    from parlerproject_spark.operators.graph import (cointeraction_edges,
                                                     k_core)
    e = cointeraction_edges(_t(spark, sf_dir, "events"))
    return k_core(e, k=_KCORE_K).orderBy("vertex")


@register("heaps_law_sources", r"""
WITH base AS (
  SELECT source AS g, doc_id AS d,
         list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS ws
  FROM documents),
toks AS (SELECT g, d, len(ws) AS nt FROM base),
tok AS (
  SELECT DISTINCT g, d, unnest(ws) AS t FROM base),
fst AS (SELECT g, t, min(d) AS fd FROM tok GROUP BY g, t),
newt AS (SELECT g, fd AS d, count(*) AS nv FROM fst GROUP BY g, fd),
per_doc AS (
  SELECT toks.g, toks.d, toks.nt, coalesce(newt.nv, 0) AS nv
  FROM toks LEFT JOIN newt USING (g, d)),
curve AS (
  SELECT g,
         sum(nt) OVER (PARTITION BY g ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS n,
         sum(nv) OVER (PARTITION BY g ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS v
  FROM per_doc)
SELECT g AS source,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(max(n) AS BIGINT) AS n_tokens,
       CAST(max(v) AS BIGINT) AS vocab,
       round(regr_slope(ln(v), ln(n)), 6) AS beta,
       round(exp(regr_intercept(ln(v), ln(n))), 6) AS k_factor
FROM curve WHERE n > 0 AND v > 0
GROUP BY g ORDER BY source
""")
def heaps_law_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit per source
    (text_analysis.heaps_law_fit): V ≈ K·N^β by OLS on the log-log
    doc-order growth curve — β near 0.5 is healthy text, β → 1 is
    unbounded novelty (noise), β → 0 is templated. All windows
    source-partitioned; one regr_* agg per source."""
    from parlerproject_spark.operators.text_analysis import heaps_law_fit
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return heaps_law_fit(d).orderBy("source")


@register("gini_user_value_events", """
WITH per_user AS (
  SELECT user_id, sum(value) AS y FROM events GROUP BY user_id),
h AS (SELECT y AS v, count(*) AS c FROM per_user GROUP BY y),
cum AS (
  SELECT v, c,
         coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                               PRECEDING AND 1 PRECEDING), 0) AS bc,
         coalesce(sum(c * v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND 1 PRECEDING), 0.0) AS bs
  FROM h)
SELECT CAST(sum(c) AS BIGINT) AS n,
       round(sum(c * v) / sum(c), 6) AS mean,
       round(sum(c * (v * bc - bs))
             / (sum(c)::DOUBLE * sum(c * v)), 6) AS gini
FROM cum
""")
def gini_user_value_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of per-user total value
    (analytics.gini_coefficient): the engagement-inequality readout
    — engine side runs the rank-free histogram identity under the
    bucketed two-level prefix sum (no global sort); the oracle
    replays the single-node cumulative window."""
    from parlerproject_spark.operators.analytics import gini_coefficient
    per = (_t(spark, sf_dir, "events")
           .groupBy("user_id").agg(F.sum("value").alias("y")))
    return gini_coefficient(per, value_col="y")


@register("graph_stats_events", """
WITH keyed AS (
  SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS obj,
         ts, event_id, user_id AS dst
  FROM events
  WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        IS NOT NULL),
dir AS (
  SELECT DISTINCT src, dst
  FROM (SELECT lag(dst) OVER (PARTITION BY obj
                              ORDER BY ts, event_id) AS src, dst
        FROM keyed)
  WHERE src IS NOT NULL AND src <> dst),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM dir WHERE src <> dst),
deg AS MATERIALIZED (
  SELECT v AS node, count(*) AS degree FROM (
    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
  GROUP BY v),
tri AS (
  SELECT count(*) AS t
  FROM und e1 JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
base AS (
  SELECT count(*) AS n_nodes, sum(degree) / 2 AS n_edges,
         round(avg(degree), 6) AS avg_degree,
         sum(degree * (degree - 1) / 2) AS w
  FROM deg),
bidir AS (
  SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
assort AS (
  SELECT round(corr(da.degree, db.degree), 6) AS assortativity
  FROM bidir JOIN deg da ON da.node = bidir.a
  JOIN deg db ON db.node = bidir.b)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges, avg_degree,
       round(3.0 * tri.t / base.w, 6) AS transitivity,
       assortativity
FROM base CROSS JOIN tri CROSS JOIN assort
""")
def graph_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global graph health summary (graph.graph_stats) of the
    co-interaction user graph: transitivity (3·triangles/wedges) and
    degree assortativity (Newman 2002) next to size/degree basics —
    the pre-flight check before trusting community or similarity
    outputs on the graph."""
    from parlerproject_spark.operators.graph import (cointeraction_edges,
                                                     graph_stats)
    return graph_stats(cointeraction_edges(_t(spark, sf_dir, "events")))


@register("gains_curve_docs", """
WITH base AS (
  SELECT CAST(n_chars AS DOUBLE) / (n_chars + 100.0) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents),
per AS (
  SELECT (10 - greatest(0, least(CAST(floor(s * 10) AS BIGINT), 9))) AS band,
         count(*) AS n, sum(y) AS n_pos
  FROM base GROUP BY 1),
tot AS (SELECT sum(n) AS tn, sum(n_pos) AS tp FROM per),
cum AS (
  SELECT band, n, n_pos,
         sum(n) OVER (ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cn,
         sum(n_pos) OVER (ORDER BY band ROWS BETWEEN UNBOUNDED
                          PRECEDING AND CURRENT ROW) AS cp
  FROM per)
SELECT band, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
       round(cp::DOUBLE / tp, 6) AS cum_pos_share,
       round(cn::DOUBLE / tn, 6) AS cum_row_share,
       round((cp::DOUBLE / tp) / (cn::DOUBLE / tn), 6) AS lift
FROM cum CROSS JOIN tot
ORDER BY band
""")
def gains_curve_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table (evaluation.gains_curve) for
    the length-based lang=='en' classifier: per descending score
    band, the share of all positives captured and the lift vs
    random — the targeting-triage companion to roc_auc/calibration."""
    from parlerproject_spark.operators.evaluation import gains_curve
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        (F.col("n_chars").cast("double")
         / (F.col("n_chars") + 100.0)).alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"))
    return gains_curve(d, n_bands=10).orderBy("band")


@register("required_sample_size_events", """
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
  FROM events GROUP BY user_id),
r AS (SELECT avg(c) AS p FROM per_user),
m AS (SELECT unnest([0.01, 0.02, 0.05]) AS mde)
SELECT mde, round(p, 6) AS base_rate,
       CAST(ceil(power(1.959964 + 0.841621, 2) * 2.0
                 * (p + mde / 2.0) * (1.0 - (p + mde / 2.0))
                 / (mde * mde)) AS BIGINT) AS n_per_arm,
       CAST(ceil(power(1.959964 + 0.841621, 2) * 2.0
                 * (p + mde / 2.0) * (1.0 - (p + mde / 2.0))
                 / (mde * mde)) AS BIGINT) * 2 AS total_users
FROM m CROSS JOIN r
ORDER BY mde
""")
def required_sample_size_events(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Experiment sizing from the live baseline
    (evaluation.required_sample_size): users per arm to detect a
    1/2/5-point absolute lift in purchase conversion at α=0.05,
    80% power — the pre-experiment calculator paired with
    group_sequential_ab."""
    from parlerproject_spark.operators.evaluation import (
        required_sample_size)
    return (required_sample_size(_t(spark, sf_dir, "events"))
            .orderBy("mde"))


@register("cv_fold_auc_docs", """
WITH base AS (
  SELECT doc_id % 5 AS fold,
         CAST(n_chars AS DOUBLE) / (n_chars + 100.0) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents),
per AS (
  SELECT fold, s, sum(y) AS pos, sum(1 - y) AS neg
  FROM base GROUP BY fold, s),
cum AS (
  SELECT fold, pos, neg,
         coalesce(sum(neg) OVER (PARTITION BY fold ORDER BY s
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS nb
  FROM per),
folds AS (
  SELECT fold,
         round(sum(pos * (CAST(nb AS DOUBLE) + neg / 2.0))
               / (CAST(sum(pos) AS DOUBLE) * sum(neg)), 6) AS auc
  FROM cum GROUP BY fold)
SELECT CAST(count(*) AS BIGINT) AS n_folds,
       round(avg(auc), 6) AS mean_auc,
       round(stddev_samp(auc), 6) AS std_auc,
       round(min(auc), 6) AS min_auc,
       round(max(auc), 6) AS max_auc
FROM folds
""")
def cv_fold_auc_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validated AUC stability (grouped_roc_auc composed over
    hash folds): the 5-fold mean/std/min/max of the quality
    classifier's AUC — the variance readout that says whether a
    headline AUC is luck. Pure composition of the verified sliced
    AUC; folds are a hash expression, so the whole thing is one
    extra keyed aggregation."""
    from parlerproject_spark.operators.evaluation import grouped_roc_auc
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        (F.col("doc_id") % 5).alias("fold"),
        (F.col("n_chars").cast("double")
         / (F.col("n_chars") + 100.0)).alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"))
    folds = grouped_roc_auc(d, ["fold"])
    return folds.agg(
        F.count(F.lit(1)).cast("long").alias("n_folds"),
        F.round(F.avg("auc"), 6).alias("mean_auc"),
        F.round(F.stddev_samp("auc"), 6).alias("std_auc"),
        F.round(F.min("auc"), 6).alias("min_auc"),
        F.round(F.max("auc"), 6).alias("max_auc"))


@register("spearman_length_tokens_sources", r"""
WITH base AS (
  SELECT source, CAST(n_chars AS DOUBLE) AS x,
         CAST(len(list_filter(string_split_regex(text, '\s+'),
                              w -> w <> '')) AS DOUBLE) AS y
  FROM documents),
ranked AS (
  SELECT source,
         rank() OVER (PARTITION BY source ORDER BY x ASC)
           + (count(*) OVER (PARTITION BY source, x) - 1) / 2.0 AS rx,
         rank() OVER (PARTITION BY source ORDER BY y ASC)
           + (count(*) OVER (PARTITION BY source, y) - 1) / 2.0 AS ry
  FROM base)
SELECT source, CAST(count(*) AS BIGINT) AS n,
       round(corr(rx, ry), 6) AS spearman_rho
FROM ranked GROUP BY source ORDER BY source
""")
def spearman_length_tokens_sources(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Per-source Spearman ρ (analytics.spearman_by_group) between
    char length and token count — the monotone-association check
    with tie-corrected average ranks; all windows source-partitioned,
    one corr aggregate per group."""
    from parlerproject_spark.operators.analytics import spearman_by_group
    from parlerproject_spark.functions.text import token_count
    d = _t(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("double").alias("x"),
        token_count("text").cast("double").alias("y"))
    return (spearman_by_group(d, group_col="source",
                              x_col="x", y_col="y")
            .orderBy("source"))


@register("chrf_pairs_docs", r"""
WITH sq AS (
  SELECT doc_id,
         substring(regexp_replace(text, '\s+', '', 'g'), 1, 200) AS s
  FROM documents),
pairs AS (
  SELECT c.doc_id AS pair_id, c.s AS cs, r.s AS rs
  FROM sq c JOIN sq r ON r.doc_id = c.doc_id + 1
  WHERE c.doc_id % 2 = 0),
cg AS (
  SELECT pair_id,
         n,
         unnest(list_transform(range(1, len(cs) - n + 2),
                               i -> substring(cs, i, n))) AS g
  FROM (SELECT pair_id, cs, unnest([1, 2, 3]) AS n FROM pairs)
  WHERE len(cs) >= n),
rg AS (
  SELECT pair_id,
         n,
         unnest(list_transform(range(1, len(rs) - n + 2),
                               i -> substring(rs, i, n))) AS g
  FROM (SELECT pair_id, rs, unnest([1, 2, 3]) AS n FROM pairs)
  WHERE len(rs) >= n),
cc AS (SELECT pair_id, n, g, count(*) AS c FROM cg GROUP BY pair_id, n, g),
rc AS (SELECT pair_id, n, g, count(*) AS r FROM rg GROUP BY pair_id, n, g),
m AS (
  SELECT cc.pair_id, cc.n,
         sum(least(cc.c, coalesce(rc.r, 0))) AS m
  FROM cc LEFT JOIN rc USING (pair_id, n, g)
  GROUP BY cc.pair_id, cc.n),
lens AS (SELECT pair_id, len(cs) AS lc, len(rs) AS lr FROM pairs),
ords AS (
  SELECT o.pair_id, o.n,
         coalesce(m.m, 0)::DOUBLE / o.tc AS p,
         coalesce(m.m, 0)::DOUBLE / o.tr AS r
  FROM (SELECT l.pair_id, t.n,
               l.lc - t.n + 1 AS tc, l.lr - t.n + 1 AS tr
        FROM lens l CROSS JOIN (SELECT unnest([1, 2, 3]) AS n) t
        WHERE l.lc >= t.n AND l.lr >= t.n) o
  LEFT JOIN m ON m.pair_id = o.pair_id AND m.n = o.n),
piv AS (
  SELECT pair_id,
         max(CASE WHEN n = 1 THEN p END) AS p1,
         max(CASE WHEN n = 2 THEN p END) AS p2,
         max(CASE WHEN n = 3 THEN p END) AS p3,
         max(CASE WHEN n = 1 THEN r END) AS r1,
         max(CASE WHEN n = 2 THEN r END) AS r2,
         max(CASE WHEN n = 3 THEN r END) AS r3
  FROM ords GROUP BY pair_id),
base AS (
  SELECT l.pair_id,
         CAST((CASE WHEN p1 IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN p2 IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN p3 IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_orders,
         coalesce(p1, 0.0) + coalesce(p2, 0.0) + coalesce(p3, 0.0) AS ps,
         coalesce(r1, 0.0) + coalesce(r2, 0.0) + coalesce(r3, 0.0) AS rs
  FROM lens l LEFT JOIN piv USING (pair_id)),
scored AS (
  SELECT pair_id, n_orders,
         CASE WHEN n_orders > 0 THEN round(ps / n_orders, 6)
              ELSE 0.0 END AS chrp,
         CASE WHEN n_orders > 0 THEN round(rs / n_orders, 6)
              ELSE 0.0 END AS chrr
  FROM base)
SELECT pair_id, n_orders, chrp, chrr,
       CASE WHEN chrp + chrr > 0.0
            THEN round(5.0 * chrp * chrr / (4.0 * chrp + chrr), 6)
            ELSE 0.0 END AS chrf
FROM scored
ORDER BY pair_id
""")
def chrf_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF (Popović 2015) over the same even/odd aligned doc pairs
    as bleu_pairs_docs (evaluation.chrf_pairs): character 1/2/3-gram
    clipped precision+recall, per-order participation when both
    sides have grams, F_{β=2} from the 6-dp-rounded means. Squashed
    text is snippet-bounded at 200 chars (the long-doc cost
    contract) and the gram blow-up runs after spread_input; the only
    gram-granular shuffle is the one clip join."""
    from parlerproject_spark.operators.evaluation import chrf_pairs
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cand = (d.filter(F.col("doc_id") % 2 == 0)
            .select(F.col("doc_id").alias("pair_id"), "text"))
    ref = (d.filter(F.col("doc_id") % 2 != 0)
           .select((F.col("doc_id") - 1).alias("pair_id"), "text"))
    # no pre-pairing semi-joins: chrf_pairs drops one-sided pairs
    # itself (full-outer + both-lengths filter) — one scan per side
    return (chrf_pairs(cand, ref, n_max=3, beta=2.0, max_chars=200)
            .orderBy("pair_id"))


@register("pass_at_k_events", """
WITH att AS (
  SELECT event_id % 500 AS t,
         CASE WHEN (event_id * 2654435761) % 100 < 9
              THEN 1 ELSE 0 END AS c
  FROM events),
per AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS c
  FROM att GROUP BY t),
tk AS (SELECT t, n, c, unnest([1, 5, 10]) AS k FROM per),
ls AS (
  SELECT t, k, sum(ln(n - c - i) - ln(n - i)) AS s
  FROM (SELECT t, k, n, c, unnest(range(0, k)) AS i
        FROM tk WHERE c > 0 AND n - c >= k)
  GROUP BY t, k),
sc AS (
  SELECT tk.t, tk.k, tk.c,
         CASE WHEN tk.c = 0 THEN 0.0
              WHEN tk.n - tk.c < tk.k THEN 1.0
              ELSE round(1.0 - exp(ls.s), 6) END AS p
  FROM tk LEFT JOIN ls ON ls.t = tk.t AND ls.k = tk.k)
SELECT k, CAST(count(*) AS BIGINT) AS n_tasks,
       CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_solved,
       round(avg(p), 6) AS mean_pass_at_k
FROM sc GROUP BY k ORDER BY k
""")
def pass_at_k_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k (Chen et al. 2021 unbiased estimator,
    evaluation.pass_at_k) over a 500-task / 20-attempt evaluation
    harness derived from events: attempt = event row, task =
    event_id mod 500, correct = a multiplicative-hash ~9% success
    draw. One task-keyed agg reduces the corpus; the log-sum
    estimator runs on the task table only (×k bounded explode),
    certain cases pinned to exact 0.0 / 1.0."""
    from parlerproject_spark.operators.evaluation import pass_at_k
    ev = _t(spark, sf_dir, "events").select(
        (F.col("event_id") % 500).alias("task_id"),
        ((F.col("event_id") * F.lit(2654435761)) % 100 < 9)
        .alias("correct"))
    return pass_at_k(ev, task_col="task_id", correct_col="correct",
                     ks=(1, 5, 10))


@register("expectations_orders", """
WITH n AS (SELECT count(*) AS n FROM orders)
SELECT rule, kind, col, n_checked, n_failed,
       CASE WHEN n_checked = 0 THEN 1.0
            ELSE round(1.0 - n_failed::DOUBLE / n_checked, 6)
       END AS pass_rate,
       n_failed = 0 AS passed
FROM (
  SELECT 'custkey_positive' AS rule, 'custom' AS kind, '' AS col,
         (SELECT n FROM n)::BIGINT AS n_checked,
         (SELECT CAST(sum(CASE WHEN NOT coalesce(o_custkey > 0, FALSE)
                               THEN 1 ELSE 0 END) AS BIGINT)
          FROM orders) AS n_failed
  UNION ALL
  SELECT 'orderkey_not_null', 'not_null', 'o_orderkey',
         (SELECT n FROM n)::BIGINT,
         (SELECT CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) FROM orders)
  UNION ALL
  SELECT 'orderkey_unique', 'unique', 'o_orderkey',
         (SELECT CAST(count(o_orderkey) AS BIGINT) FROM orders),
         (SELECT CAST(count(o_orderkey)
                      - count(DISTINCT o_orderkey) AS BIGINT)
          FROM orders)
  UNION ALL
  SELECT 'priority_shape', 'matches', 'o_orderpriority',
         (SELECT n FROM n)::BIGINT,
         (SELECT CAST(sum(CASE WHEN NOT coalesce(
                    regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$'),
                    FALSE) THEN 1 ELSE 0 END) AS BIGINT) FROM orders)
  UNION ALL
  SELECT 'status_in_set', 'in_set', 'o_orderstatus',
         (SELECT n FROM n)::BIGINT,
         (SELECT CAST(sum(CASE WHEN NOT coalesce(
                    o_orderstatus IN ('O', 'F', 'P'), FALSE)
                    THEN 1 ELSE 0 END) AS BIGINT) FROM orders)
  UNION ALL
  SELECT 'totalprice_range', 'in_range', 'o_totalprice',
         (SELECT n FROM n)::BIGINT,
         (SELECT CAST(sum(CASE WHEN NOT coalesce(
                    o_totalprice >= 0.0 AND o_totalprice <= 400000.0,
                    FALSE) THEN 1 ELSE 0 END) AS BIGINT) FROM orders)
)
ORDER BY rule
""")
def expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative ingest-gate expectation suite
    (validation.expect_suite) over orders: nullability, uniqueness,
    value-set, regex-shape, numeric-range and a custom predicate —
    all row-level rules fused into ONE conditional aggregate pass
    (plus one count-distinct for the unique rule); the report is a
    constant 6-row table. totalprice_range is deliberately breached
    (cap 400k < the true max) so the gate exercises its failure
    arm."""
    from parlerproject_spark.operators.validation import (
        Expectation, expect_suite)
    o = _t(spark, sf_dir, "orders")
    rules = [
        Expectation("custkey_positive", "custom",
                    params={"predicate": F.col("o_custkey") > 0}),
        Expectation("orderkey_not_null", "not_null", "o_orderkey"),
        Expectation("orderkey_unique", "unique", "o_orderkey"),
        Expectation("priority_shape", "matches", "o_orderpriority",
                    params={"pattern": "^[1-5]-[A-Z ]+$"}),
        Expectation("status_in_set", "in_set", "o_orderstatus",
                    params={"values": ["O", "F", "P"]}),
        Expectation("totalprice_range", "in_range", "o_totalprice",
                    params={"lo": 0.0, "hi": 400000.0}),
    ]
    return expect_suite(o, rules).orderBy("rule")


def _wp_rounds_sql(n_merges: int) -> str:
    """Shared CTE prefix for the WordPiece oracles: tokenize+count
    vocab pass, ##-convention initial symbol strings, then n_merges
    sequential (pair counts + symbol counts → likelihood argmax →
    greedy replace) rounds ending at t{n}. Same delimiter-wrapped
    replace()-is-the-fold trick as _bpe_rounds_sql; the argmax key
    is cnt::DOUBLE/(ca::DOUBLE·cb) — the denominator multiply is in
    double on BOTH engines (int64 ca·cb would wrap in Spark and raise
    in DuckDB at ~3e9 symbol counts), so
    the order is engine-identical (tokenizer.train_wordpiece
    computes the same division from the same longs)."""
    g = "chr(31)"
    gg = f"{g} || {g}"
    head = f"""
WITH wf AS MATERIALIZED (
  SELECT word, count(*)::BIGINT AS n FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
    FROM documents)
  WHERE word <> '' GROUP BY word),
t0 AS MATERIALIZED (
  SELECT word, n,
         {g} || array_to_string(
           list_transform(string_split(word, ''),
                          (c, i) -> CASE WHEN i = 1 THEN c
                                    ELSE '##' || c END), {gg})
         || {g} AS s
  FROM wf)"""
    body = ""
    for it in range(1, n_merges + 1):
        body += f""",
ls{it} AS (
  SELECT n, string_split(trim(s, {g}), {gg}) AS ls FROM t{it - 1}),
pc{it} AS (
  SELECT ls[i] AS a, ls[i + 1] AS b, sum(n)::BIGINT AS cnt
  FROM (SELECT n, ls, unnest(range(1, len(ls))) AS i FROM ls{it})
  GROUP BY a, b),
sc{it} AS (
  SELECT s AS sym, sum(n)::BIGINT AS c
  FROM (SELECT n, unnest(ls) AS s FROM ls{it}) GROUP BY s),
m{it} AS (
  SELECT p.a, p.b, p.cnt, ca.c AS ca, cb.c AS cb,
         p.a || CASE WHEN p.b LIKE '##%' THEN substr(p.b, 3)
                     ELSE p.b END AS merged
  FROM pc{it} p
  JOIN sc{it} ca ON ca.sym = p.a
  JOIN sc{it} cb ON cb.sym = p.b
  WHERE p.cnt >= 2
  ORDER BY p.cnt::DOUBLE / (ca.c::DOUBLE * cb.c) DESC, p.a ASC, p.b ASC
  LIMIT 1),
t{it} AS MATERIALIZED (
  SELECT t.word, t.n,
         CASE WHEN m.a IS NULL THEN t.s
              ELSE replace(t.s, {g} || m.a || {gg} || m.b || {g},
                           {g} || m.merged || {g}) END AS s
  FROM t{it - 1} t LEFT JOIN m{it} m ON TRUE)"""
    return head + body


def _wp_merges_oracle(n_merges: int = 12) -> str:
    ranks = "\nUNION ALL\n".join(
        f'SELECT {it}::BIGINT AS rank, a AS "left", b AS "right", '
        f"merged AS piece, cnt, ca, cb FROM m{it}"
        for it in range(1, n_merges + 1))
    return _wp_rounds_sql(n_merges) + f"""
SELECT rank, "left", "right", piece, cnt, ca, cb
FROM ({ranks}) ORDER BY rank"""


def _wp_segment_oracle(n_merges: int = 12, max_word_chars: int = 16,
                       n_steps: int = 16) -> str:
    """Oracle for wordpiece_segment_docs: replay the trainer, build
    the encode vocabulary (every corpus char in initial + ## form,
    plus the learned merge pieces), then unroll greedy
    longest-match-first as n_steps state-advance CTEs (each step
    consumes ≥ 1 char and words longer than max_word_chars are UNK
    up front, so n_steps = max_word_chars always terminates). A live
    state with no matching piece goes UNK — exactly HF's
    whole-word-[UNK] contract, exactly wordpiece_encode."""
    pieces = "\nUNION ALL\n".join(
        f"SELECT merged FROM m{it}" for it in range(1, n_merges + 1))
    sql = _wp_rounds_sql(n_merges) + f""",
ch AS (
  SELECT DISTINCT c FROM (
    SELECT unnest(string_split(word, '')) AS c FROM wf)
  WHERE c <> ''),
vcb AS MATERIALIZED (
  SELECT raw, cont, length(raw)::BIGINT AS rawlen FROM (
    SELECT c AS raw, FALSE AS cont FROM ch
    UNION ALL SELECT c, TRUE FROM ch
    UNION ALL
    SELECT CASE WHEN merged LIKE '##%' THEN substr(merged, 3)
                ELSE merged END,
           merged LIKE '##%'
    FROM ({pieces}))
  GROUP BY raw, cont),
s0 AS MATERIALIZED (
  SELECT word, length(word)::BIGINT AS len, 0::BIGINT AS pos,
         0::BIGINT AS np, length(word) > {max_word_chars} AS unk
  FROM wf)"""
    for t in range(1, n_steps + 1):
        sql += f""",
g{t} AS (
  SELECT st.word, st.len, st.pos, st.np, st.unk,
         max(v.rawlen) AS bl
  FROM s{t - 1} st
  LEFT JOIN vcb v
    ON v.cont = (st.pos > 0)
   AND st.pos + v.rawlen <= st.len
   AND substring(st.word, st.pos + 1, v.rawlen) = v.raw
   AND NOT (st.unk OR st.pos >= st.len)
  GROUP BY st.word, st.len, st.pos, st.np, st.unk),
s{t} AS MATERIALIZED (
  SELECT word, len,
         CASE WHEN unk OR pos >= len OR bl IS NULL THEN pos
              ELSE pos + bl END AS pos,
         CASE WHEN unk OR pos >= len OR bl IS NULL THEN np
              ELSE np + 1 END AS np,
         CASE WHEN unk THEN TRUE
              WHEN pos >= len THEN FALSE
              ELSE bl IS NULL END AS unk
  FROM g{t})"""
    return sql + f""",
npw AS MATERIALIZED (
  SELECT word,
         (CASE WHEN unk THEN 1 ELSE np END)::BIGINT AS np,
         (CASE WHEN unk THEN 1 ELSE 0 END)::BIGINT AS unkf
  FROM s{n_steps}),
dt AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            w -> w <> '')) AS word
  FROM documents),
cnts AS (
  SELECT dt.doc_id, count(*)::BIGINT AS n_words,
         sum(npw.np)::BIGINT AS n_pieces,
         sum(npw.unkf)::BIGINT AS n_unk
  FROM dt JOIN npw USING (word) GROUP BY dt.doc_id)
SELECT d.doc_id, coalesce(c.n_words, 0) AS n_words,
       coalesce(c.n_pieces, 0) AS n_pieces,
       coalesce(c.n_unk, 0) AS n_unk
FROM documents d LEFT JOIN cnts c USING (doc_id)
ORDER BY d.doc_id"""


@register("wordpiece_merges_docs", _wp_merges_oracle(12))
def wordpiece_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer training
    (operators/tokenizer.train_wordpiece — Schuster & Nakajima 2012
    / the BERT vocab builder): the ordered likelihood-scored merge
    list, scored count(ab)/(count(a)·count(b)) instead of BPE's raw
    count, with the supporting integer counts as output columns (no
    float in the hash surface). The oracle unrolls 12 sequential
    rounds; rounds are sequential BY DESIGN — likelihood scores
    shift denominators non-locally, so BPE's batched-selection
    proof does not apply."""
    from parlerproject_spark.operators.tokenizer import train_wordpiece
    merges = train_wordpiece(_t(spark, sf_dir, "documents"), n_merges=12)
    rows = [(i + 1, a, b, m, cnt, ca, cb)
            for i, (a, b, m, cnt, ca, cb) in enumerate(merges)]
    return literal_frame(
        spark, rows or [(0, "", "", "", 0, 0, 0)],
        "rank long, left string, right string, piece string, "
        "cnt long, ca long, cb long")


@register("wordpiece_segment_docs", _wp_segment_oracle(8))
def wordpiece_segment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy longest-match-first encoding
    (operators/tokenizer.wordpiece_encode — the HF
    WordpieceTokenizer contract incl. whole-word [UNK] on no-match
    or > max_word_chars): per-doc word / piece / UNK counts under a
    trained vocab (8 merges — the encode exercise; the merges query
    carries the 12-round training surface) plus the corpus character
    base. Encoding runs once per distinct word (Arrow batch,
    broadcast piece set) and fans back through one token-keyed join;
    the oracle replays training AND the greedy scan (16 unrolled
    state-advance CTEs). Sequential training costs ~2 vocab-sized
    jobs per round BY DESIGN (see train_wordpiece's docstring) —
    this query prices 8 of those rounds plus the encode."""
    from parlerproject_spark.operators.tokenizer import (
        corpus_char_pieces, train_wordpiece, wordpiece_encode)
    d = _t(spark, sf_dir, "documents")
    merges = train_wordpiece(d, n_merges=8)
    vocab = corpus_char_pieces(d) + [m[2] for m in merges]
    enc = wordpiece_encode(d, vocab, max_word_chars=16)
    return (d.select("doc_id").join(enc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_words", F.lit(0)).alias("n_words"),
                    F.coalesce("n_pieces", F.lit(0)).alias("n_pieces"),
                    F.coalesce("n_unk", F.lit(0)).alias("n_unk"))
            .orderBy("doc_id"))


@register("krippendorff_alpha_events", """
WITH r AS (
  SELECT event_id % 300 AS u, event_type AS c
  FROM events
  WHERE (event_id * 2654435761) % 10 < 7),
cell AS (SELECT u, c, count(*)::BIGINT AS n FROM r GROUP BY u, c),
items AS (
  SELECT u, CAST(sum(n) AS BIGINT) AS m,
         CAST(sum(n * (n - 1)) AS BIGINT) AS mm
  FROM cell GROUP BY u HAVING sum(n) >= 2),
per AS (SELECT u, m, mm::DOUBLE / (m - 1.0) AS a FROM items),
gtot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(m) AS BIGINT) AS n, sum(a) AS A
  FROM per),
labs AS (
  SELECT c, CAST(sum(n) AS BIGINT) AS nc
  FROM cell JOIN items USING (u) GROUP BY c),
bb AS (SELECT sum(nc::DOUBLE * nc) AS B FROM labs)
SELECT n_items, n AS n_ratings,
       CASE WHEN n > 0 THEN round((n - A) / n, 6) END AS do_rate,
       CASE WHEN n * (n - 1.0) > 0
            THEN round((n::DOUBLE * n - B) / (n * (n - 1.0)), 6)
       END AS de_rate,
       CASE WHEN n * (n - 1.0) > 0 AND (n::DOUBLE * n - B) > 0
            THEN round(1.0 - (n - A) * (n - 1.0) / (n::DOUBLE * n - B), 6)
       END AS alpha
FROM gtot, bb
""")
def krippendorff_alpha_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (evaluation.krippendorff_alpha) over a
    crowd-labeling campaign with MISSING ratings — the agreement
    readout fleiss_kappa cannot give when rater counts vary: items =
    event_id mod 300, a ~70% multiplicative-hash participation draw,
    label = event_type. The oracle replays the coincidence-matrix
    algebra (matched-pair sum A, label marginals B) end-to-end."""
    from parlerproject_spark.operators.evaluation import krippendorff_alpha
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("event_id") * F.lit(2654435761)) % 10 < 7)
    ratings = ev.select((F.col("event_id") % 300).alias("item_id"),
                        F.col("event_type").alias("label"))
    return krippendorff_alpha(ratings)


def _rouge_l_oracle(n_steps: int = 24) -> str:
    r"""Oracle for rouge_l_pairs: replay token-LCS with the
    Allison–Dix / Hyyrö bit-parallel recurrence — V starts all-ones
    over the ≤60 reference positions; each candidate position i
    applies U = V & M_i, V = ((V+U) | (V−U)) & mask, where M_i sets
    the bits of reference positions matching candidate token i; LCS
    = n_ref − popcount(V). One linear CTE per candidate position
    (n_steps = the candidate truncation cap), integer arithmetic
    only, provably equal to the DP the engine's Arrow stage runs."""
    head = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS ws
  FROM documents),
pairs AS (
  SELECT c.doc_id AS pair_id, c.ws[1:24] AS cts, r.ws[1:60] AS rts
  FROM toks c JOIN toks r ON r.doc_id = c.doc_id + 1
  WHERE c.doc_id % 2 = 0),
v0 AS (
  SELECT pair_id, cts, rts,
         len(cts)::BIGINT AS nc, len(rts)::BIGINT AS nr,
         CASE WHEN len(rts) = 0 THEN 0::BIGINT
              ELSE (1::BIGINT << len(rts)) - 1 END AS msk,
         CASE WHEN len(rts) = 0 THEN 0::BIGINT
              ELSE (1::BIGINT << len(rts)) - 1 END AS v
  FROM pairs)"""
    body = ""
    for i in range(1, n_steps + 1):
        body += f""",
v{i} AS (
  SELECT pair_id, cts, rts, nc, nr, msk,
         CASE WHEN nc >= {i}
              THEN ((v + u) | (v - u)) & msk
              ELSE v END AS v
  FROM (SELECT *,
               v & coalesce(list_sum(list_transform(range(1, nr + 1),
                     j -> CASE WHEN rts[j] = cts[{i}]
                          THEN (1::BIGINT << (j - 1))
                          ELSE 0::BIGINT END)), 0)::BIGINT AS u
        FROM v{i - 1}))"""
    return head + body + f""",
sc AS (
  SELECT pair_id, nc AS n_cand, nr AS n_ref,
         (nr - bit_count(v & msk))::BIGINT AS lcs
  FROM v{n_steps}),
pr AS (
  SELECT pair_id, n_cand, n_ref, lcs,
         CASE WHEN n_cand > 0 THEN round(lcs::DOUBLE / n_cand, 6)
              ELSE 0.0 END AS rouge_p,
         CASE WHEN n_ref > 0 THEN round(lcs::DOUBLE / n_ref, 6)
              ELSE 0.0 END AS rouge_r
  FROM sc)
SELECT pair_id, n_cand, n_ref, lcs, rouge_p, rouge_r,
       CASE WHEN rouge_p + rouge_r > 0.0
            THEN round(2.0 * rouge_p * rouge_r / (rouge_p + rouge_r), 6)
            ELSE 0.0 END AS rouge_l
FROM pr
ORDER BY pair_id"""


@register("rouge_l_pairs_docs", _rouge_l_oracle(24))
def rouge_l_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L (evaluation.rouge_l_pairs — Lin 2004) over the same
    even/odd aligned doc pairs as bleu/chrf: token-LCS precision,
    recall, and F1, truncated at 24/60 tokens (the snippet contract
    AND the 63-bit bound for the oracle's bit-parallel replay). The
    engine runs the integer DP once per pair in an Arrow batch after
    ONE pair join; the oracle replays LCS as 24 unrolled Allison–Dix
    bit-vector CTE steps — mathematically the same function, so the
    hash must match exactly (integers end-to-end until the final
    rounded ratios)."""
    from parlerproject_spark.operators.evaluation import rouge_l_pairs
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cand = (d.filter(F.col("doc_id") % 2 == 0)
            .select(F.col("doc_id").alias("pair_id"), "text"))
    ref = (d.filter(F.col("doc_id") % 2 != 0)
           .select((F.col("doc_id") - 1).alias("pair_id"), "text"))
    # no pre-pairing semi-joins: rouge_l_pairs' inner pair join
    # drops one-sided pairs itself — one scan per side
    return (rouge_l_pairs(cand, ref,
                          max_cand_tokens=24, max_ref_tokens=60)
            .orderBy("pair_id"))


@register("edit_distance_pairs_docs", r"""
WITH prep AS (
  SELECT doc_id,
         substring(trim(regexp_replace(text, '\s+', ' ', 'g')),
                   1, 200) AS s,
         list_filter(string_split_regex(text, '\s+'),
                     w -> w <> '')[1:40] AS ts
  FROM documents),
pairs AS (
  SELECT c.doc_id AS pair_id, c.s AS cs, c.ts AS ct,
         r.s AS rs, r.ts AS rt,
         list_sort(list_distinct(c.ts || r.ts)) AS voc
  FROM prep c JOIN prep r ON r.doc_id = c.doc_id + 1
  WHERE c.doc_id % 2 = 0),
d AS (
  SELECT pair_id,
         length(rs)::BIGINT AS n_ref_chars,
         len(rt)::BIGINT AS n_ref_tokens,
         levenshtein(cs, rs)::BIGINT AS char_dist,
         levenshtein(
           array_to_string(list_transform(ct,
             t -> chr(47 + list_position(voc, t))), ''),
           array_to_string(list_transform(rt,
             t -> chr(47 + list_position(voc, t))), ''))::BIGINT
           AS token_dist
  FROM pairs)
SELECT pair_id, n_ref_chars, n_ref_tokens, char_dist, token_dist,
       CASE WHEN n_ref_chars > 0
            THEN round(char_dist::DOUBLE / n_ref_chars, 6) END AS cer,
       CASE WHEN n_ref_tokens > 0
            THEN round(token_dist::DOUBLE / n_ref_tokens, 6) END AS wer
FROM d
ORDER BY pair_id
""")
def edit_distance_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CER / WER (evaluation.edit_distance_pairs) over the same
    even/odd aligned doc pairs as bleu/chrf/rouge: char- and
    token-level Levenshtein error rates at 200-char / 40-token
    snippet caps. Token distance rides the built-in char
    levenshtein through the sorted-distinct per-pair token→ASCII
    bijection — JVM expressions end-to-end, and the oracle replays
    the identical mapping with chr()/list_position."""
    from parlerproject_spark.operators.evaluation import edit_distance_pairs
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cand = (d.filter(F.col("doc_id") % 2 == 0)
            .select(F.col("doc_id").alias("pair_id"), "text"))
    ref = (d.filter(F.col("doc_id") % 2 != 0)
           .select((F.col("doc_id") - 1).alias("pair_id"), "text"))
    # no pre-pairing semi-joins: edit_distance_pairs' inner pair
    # join drops one-sided pairs itself — one scan per side
    return (edit_distance_pairs(cand, ref, max_chars=200,
                                max_tokens=40)
            .orderBy("pair_id"))


@register("auto_expectations_orders", """
WITH ref AS MATERIALIZED (
  SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
st AS MATERIALIZED (
  SELECT count(*) AS n,
         count(o_orderkey) AS nn_ok, count(DISTINCT o_orderkey) AS d_ok,
         min(o_orderkey) AS mn_ok, max(o_orderkey) AS mx_ok,
         count(o_custkey) AS nn_ck, count(DISTINCT o_custkey) AS d_ck,
         min(o_custkey) AS mn_ck, max(o_custkey) AS mx_ck,
         count(o_orderstatus) AS nn_st, count(DISTINCT o_orderstatus) AS d_st,
         count(o_orderpriority) AS nn_pr, count(DISTINCT o_orderpriority) AS d_pr,
         count(o_totalprice) AS nn_tp, count(DISTINCT o_totalprice) AS d_tp,
         min(o_totalprice) AS mn_tp, max(o_totalprice) AS mx_tp
  FROM ref),
cur AS MATERIALIZED (
  SELECT count(*) AS n,
         coalesce(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS f_nn_ok,
         coalesce(sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS f_nn_ck,
         coalesce(sum(CASE WHEN o.o_orderstatus IS NULL THEN 1 ELSE 0 END), 0) AS f_nn_st,
         coalesce(sum(CASE WHEN o.o_orderpriority IS NULL THEN 1 ELSE 0 END), 0) AS f_nn_pr,
         coalesce(sum(CASE WHEN o.o_totalprice IS NULL THEN 1 ELSE 0 END), 0) AS f_nn_tp,
         coalesce(sum(CASE WHEN NOT coalesce(
             o.o_orderkey >= st.mn_ok AND o.o_orderkey <= st.mx_ok,
             FALSE) THEN 1 ELSE 0 END), 0) AS f_rg_ok,
         coalesce(sum(CASE WHEN NOT coalesce(
             o.o_custkey >= st.mn_ck AND o.o_custkey <= st.mx_ck,
             FALSE) THEN 1 ELSE 0 END), 0) AS f_rg_ck,
         coalesce(sum(CASE WHEN NOT coalesce(
             o.o_totalprice >= st.mn_tp AND o.o_totalprice <= st.mx_tp,
             FALSE) THEN 1 ELSE 0 END), 0) AS f_rg_tp,
         coalesce(sum(CASE WHEN NOT coalesce(
             o.o_orderstatus IN (SELECT o_orderstatus FROM ref
                                 WHERE o_orderstatus IS NOT NULL),
             FALSE) THEN 1 ELSE 0 END), 0) AS f_set_st,
         coalesce(sum(CASE WHEN NOT coalesce(
             o.o_orderpriority IN (SELECT o_orderpriority FROM ref
                                   WHERE o_orderpriority IS NOT NULL),
             FALSE) THEN 1 ELSE 0 END), 0) AS f_set_pr,
         count(o.o_orderkey) AS cn_ok, count(DISTINCT o.o_orderkey) AS cd_ok,
         count(o.o_custkey) AS cn_ck, count(DISTINCT o.o_custkey) AS cd_ck,
         count(o.o_totalprice) AS cn_tp, count(DISTINCT o.o_totalprice) AS cd_tp
  FROM orders o, st),
rows AS (
  SELECT 'o_orderkey_not_null' AS rule, 'not_null' AS kind,
         'o_orderkey' AS col, cur.n::BIGINT AS n_checked,
         cur.f_nn_ok::BIGINT AS n_failed
  FROM st, cur WHERE st.n > 0 AND st.nn_ok = st.n
  UNION ALL
  SELECT 'o_orderkey_in_range', 'in_range', 'o_orderkey',
         cur.n::BIGINT, cur.f_rg_ok::BIGINT
  FROM st, cur WHERE st.nn_ok >= 1
  UNION ALL
  SELECT 'o_orderkey_unique', 'unique', 'o_orderkey',
         cur.cn_ok::BIGINT, (cur.cn_ok - cur.cd_ok)::BIGINT
  FROM st, cur WHERE st.nn_ok >= 1 AND st.d_ok = st.nn_ok
  UNION ALL
  SELECT 'o_custkey_not_null', 'not_null', 'o_custkey',
         cur.n::BIGINT, cur.f_nn_ck::BIGINT
  FROM st, cur WHERE st.n > 0 AND st.nn_ck = st.n
  UNION ALL
  SELECT 'o_custkey_in_range', 'in_range', 'o_custkey',
         cur.n::BIGINT, cur.f_rg_ck::BIGINT
  FROM st, cur WHERE st.nn_ck >= 1
  UNION ALL
  SELECT 'o_custkey_unique', 'unique', 'o_custkey',
         cur.cn_ck::BIGINT, (cur.cn_ck - cur.cd_ck)::BIGINT
  FROM st, cur WHERE st.nn_ck >= 1 AND st.d_ck = st.nn_ck
  UNION ALL
  SELECT 'o_orderstatus_not_null', 'not_null', 'o_orderstatus',
         cur.n::BIGINT, cur.f_nn_st::BIGINT
  FROM st, cur WHERE st.n > 0 AND st.nn_st = st.n
  UNION ALL
  SELECT 'o_orderstatus_in_set', 'in_set', 'o_orderstatus',
         cur.n::BIGINT, cur.f_set_st::BIGINT
  FROM st, cur WHERE st.d_st BETWEEN 1 AND 20
  UNION ALL
  SELECT 'o_orderpriority_not_null', 'not_null', 'o_orderpriority',
         cur.n::BIGINT, cur.f_nn_pr::BIGINT
  FROM st, cur WHERE st.n > 0 AND st.nn_pr = st.n
  UNION ALL
  SELECT 'o_orderpriority_in_set', 'in_set', 'o_orderpriority',
         cur.n::BIGINT, cur.f_set_pr::BIGINT
  FROM st, cur WHERE st.d_pr BETWEEN 1 AND 20
  UNION ALL
  SELECT 'o_totalprice_not_null', 'not_null', 'o_totalprice',
         cur.n::BIGINT, cur.f_nn_tp::BIGINT
  FROM st, cur WHERE st.n > 0 AND st.nn_tp = st.n
  UNION ALL
  SELECT 'o_totalprice_in_range', 'in_range', 'o_totalprice',
         cur.n::BIGINT, cur.f_rg_tp::BIGINT
  FROM st, cur WHERE st.nn_tp >= 1
  UNION ALL
  SELECT 'o_totalprice_unique', 'unique', 'o_totalprice',
         cur.cn_tp::BIGINT, (cur.cn_tp - cur.cd_tp)::BIGINT
  FROM st, cur WHERE st.nn_tp >= 1 AND st.d_tp = st.nn_tp)
SELECT rule, kind, col, n_checked, n_failed,
       CASE WHEN n_checked = 0 THEN 1.0
            ELSE round(1.0 - n_failed::DOUBLE / n_checked, 6)
       END AS pass_rate,
       n_failed = 0 AS passed
FROM rows
ORDER BY rule
""")
def auto_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-profiled expectation gate (validation.auto_gate): profile
    a reference snapshot of orders (keys not divisible by 3), derive
    not_null / in_range / in_set / unique rules from the profile
    (validation.infer_expectations — the Great-Expectations
    auto-profiling shape; reference tie: the schema-drift NaN padding
    preview_data.ipynb:316 hand-tolerates), then gate the FULL
    snapshot with the derived suite. The full snapshot drifts outside
    the reference's envelope (orderkey 15000 and the global minimum
    totalprice only occur at keys divisible by 3), so the in_range
    arms fail — the gate catches real drift. The oracle re-derives
    the same rules in SQL: each report row's existence is a WHERE
    clause over the reference-profile CTE, so rule GENERATION, not
    just evaluation, is hash-checked."""
    from parlerproject_spark.operators.validation import auto_gate
    o = _t(spark, sf_dir, "orders")
    ref = o.filter(F.col("o_orderkey") % 3 != 0)
    cols = ["o_orderkey", "o_custkey", "o_orderstatus",
            "o_orderpriority", "o_totalprice"]
    return auto_gate(ref, o, cols).orderBy("rule")


_KRIPP_METRIC_ORACLE = """
WITH r AS (
  SELECT event_id % 300 AS u,
         least(4, floor(value / 100.0))::DOUBLE AS c
  FROM events
  WHERE (event_id * 2654435761) % 10 < 7 AND value IS NOT NULL),
cell AS (SELECT u, c, count(*)::BIGINT AS n FROM r GROUP BY u, c),
items AS (
  SELECT u, CAST(sum(n) AS BIGINT) AS m
  FROM cell GROUP BY u HAVING sum(n) >= 2),
pc AS (SELECT cell.u, c, n, m FROM cell JOIN items USING (u)),
labs AS (SELECT c, CAST(sum(n) AS BIGINT) AS nc FROM pc GROUP BY c),
g AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(m) AS BIGINT) AS n FROM items),
cum AS (
  SELECT c, nc,
         sum(nc) OVER (ORDER BY c
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cu
  FROM labs),
p2 AS (
  SELECT a.c AS ca, b.c AS cb, a.nc AS na, b.nc AS nb,
         {d2} AS d2
  FROM cum a, cum b, g),
de AS (SELECT sum(na::DOUBLE * nb * d2) AS de_num FROM p2),
dof AS (
  SELECT sum(x.n::DOUBLE * y.n * p.d2 / (x.m - 1.0)) AS do_num
  FROM pc x JOIN pc y ON x.u = y.u AND x.c <> y.c
  JOIN p2 p ON p.ca = x.c AND p.cb = y.c),
gg AS (SELECT n_items, n, coalesce(do_num, 0.0) AS do_num,
              coalesce(de_num, 0.0) AS de_num
       FROM g, dof, de)
SELECT '{metric}' AS metric, n_items, n AS n_ratings,
       CASE WHEN n > 0 THEN round(do_num / n, 6) END AS do_rate,
       CASE WHEN n * (n - 1.0) > 0
            THEN round(de_num / (n * (n - 1.0)), 6) END AS de_rate,
       CASE WHEN n > 1 AND de_num > 0
            THEN round(1.0 - do_num * (n - 1.0) / de_num, 6)
       END AS alpha
FROM gg
"""


def _kripp_metric_query(metric: str):
    d2 = {
        "ordinal": """
         (CASE WHEN a.c < b.c THEN 2 * (b.cu - a.cu) + a.nc - b.nc
               WHEN a.c > b.c THEN 2 * (a.cu - b.cu) + b.nc - a.nc
               ELSE 0 END)::DOUBLE
         * (CASE WHEN a.c < b.c THEN 2 * (b.cu - a.cu) + a.nc - b.nc
                 WHEN a.c > b.c THEN 2 * (a.cu - b.cu) + b.nc - a.nc
                 ELSE 0 END)
         / (4.0 * g.n * g.n)""",
        "interval": "(a.c - b.c) * (a.c - b.c)",
    }[metric]

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from parlerproject_spark.operators.evaluation import (
            krippendorff_alpha_metric)
        ev = _t(spark, sf_dir, "events").filter(
            ((F.col("event_id") * F.lit(2654435761)) % 10 < 7)
            & F.col("value").isNotNull())
        ratings = ev.select(
            (F.col("event_id") % 300).alias("item_id"),
            F.least(F.lit(4), F.floor(F.col("value") / F.lit(100)))
            .cast("double").alias("label"))
        return krippendorff_alpha_metric(ratings, metric=metric)

    fn.__name__ = f"krippendorff_{metric}_events"
    fn.__doc__ = f"""Krippendorff's alpha with the {metric} difference
    function (evaluation.krippendorff_alpha_metric) over the same
    missing-tolerant crowd-labeling frame as the nominal query (items
    = event_id mod 300, ~70%% multiplicative-hash participation),
    labels = the 0-4 value-derived grade — the ordered-scale
    agreement readout where confusing grade 0 with grade 4 must cost
    more than 0-vs-1. The oracle replays the full weighted
    coincidence algebra: cell/marginal aggregates, the cumulative-
    margin {metric} delta-squared pair table, and the per-item
    ordered-pair D_o sum."""
    return register(f"krippendorff_{metric}_events",
                    _KRIPP_METRIC_ORACLE.format(d2=d2, metric=metric))(fn)


krippendorff_ordinal_events = _kripp_metric_query("ordinal")
krippendorff_interval_events = _kripp_metric_query("interval")


@register("knn_sq", """
WITH ex AS MATERIALIZED (
  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
         unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings),
mm AS MATERIALIZED (
  SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY i),
q AS (SELECT i, x FROM ex WHERE vec_id = 0),
qc AS MATERIALIZED (
  SELECT mm.i,
         CASE WHEN mx = mn THEN 0
              ELSE least(255, greatest(0,
                   floor((q.x - mn) / (mx - mn) * 255.0 + 0.5)))::INT
         END AS c,
         CASE WHEN mx = mn THEN 0.0 ELSE (mx - mn) / 255.0 END AS s
  FROM mm JOIN q USING (i)),
xc AS (
  SELECT vec_id, ex.i,
         CASE WHEN mx = mn THEN 0
              ELSE least(255, greatest(0,
                   floor((x - mn) / (mx - mn) * 255.0 + 0.5)))::INT
         END AS c
  FROM ex JOIN mm USING (i))
SELECT vec_id,
       round(sum(((xc.c - qc.c) * qc.s) * ((xc.c - qc.c) * qc.s)), 6)
         AS dist
FROM xc JOIN qc USING (i)
GROUP BY vec_id
ORDER BY dist ASC, vec_id ASC
LIMIT 10
""")
def knn_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 nearest neighbours on int8-range SCALAR-QUANTIZED codes
    (similarity.train_scalar_quantizer/knn_scalar): per-dimension
    min/max bounds from one aggregation pass, 256-level uniform
    codes, symmetric scale-weighted squared-code distance against
    the quantized vec_id=0 query. The serving-side compression tier
    between full floats and PQ — 4x smaller index, no codebook
    training. Codes are integer-exact across engines (every quantize
    step is a single IEEE op on identical inputs); the oracle
    re-derives bounds, codes, and distances from scratch in SQL."""
    from parlerproject_spark.operators.similarity import (
        knn_scalar, train_scalar_quantizer)
    emb = _t(spark, sf_dir, "embeddings")
    params = train_scalar_quantizer(emb, dim=64)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0)
            .select("embedding").collect()[0][0]]
    return knn_scalar(emb, qvec, params, k=10)


@register("diversity_by_source_docs", """
WITH toks AS (
  SELECT source, doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     w -> w <> '') AS ts
  FROM documents),
g AS MATERIALIZED (
  SELECT source, doc_id,
         array_to_string(ts[i:i+1], ' ') AS gram
  FROM (SELECT source, doc_id, ts,
               unnest(range(1, len(ts))) AS i
        FROM toks WHERE len(ts) >= 2)),
tot AS (
  SELECT source, count(*)::BIGINT AS total_grams,
         count(DISTINCT gram)::BIGINT AS distinct_grams
  FROM g GROUP BY source),
dg AS MATERIALIZED (SELECT DISTINCT source, doc_id, gram FROM g),
gdf AS (SELECT source, gram, count(*)::BIGINT AS df
        FROM dg GROUP BY source, gram),
per_doc AS (
  SELECT dg.source, dg.doc_id,
         avg(CASE WHEN df >= 2 THEN 1.0 ELSE 0.0 END) AS ov
  FROM dg JOIN gdf USING (source, gram)
  GROUP BY dg.source, dg.doc_id),
ov AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         round(avg(ov), 6) AS mean_self_overlap
  FROM per_doc GROUP BY source)
SELECT tot.source AS "group", n_docs, total_grams, distinct_grams,
       round(distinct_grams::DOUBLE / total_grams, 6) AS distinct_ratio,
       mean_self_overlap
FROM tot JOIN ov USING (source)
ORDER BY "group"
""")
def diversity_by_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source generation-diversity metrics
    (evaluation.diversity_ngrams, n=2): distinct-bigram ratio plus
    the leave-one-out self-overlap mean — the distinct-n /
    self-BLEU-intent readout reduced to doc-frequency counting (a
    gram overlaps other docs iff its within-source document
    frequency is >= 2). The oracle replays the full gram -> totals /
    doc-frequency -> containment pipeline in SQL."""
    from parlerproject_spark.operators.evaluation import diversity_ngrams
    d = _t(spark, sf_dir, "documents")
    return diversity_ngrams(d, n=2).orderBy("group")


@register("unimax_mixture_docs", """
WITH cnt AS MATERIALIZED (
  SELECT source,
         sum(len(list_filter(string_split_regex(lower(text),
             '[^a-z0-9]+'), w -> w <> '')))::BIGINT AS n
  FROM documents GROUP BY source),
tot AS (SELECT 0.95 * sum(n)::DOUBLE AS b,
               count(*)::DOUBLE AS nn FROM cnt),
ranked AS (
  SELECT source, n::DOUBLE AS n_tokens, n::DOUBLE * 1.0 AS cap,
         row_number() OVER (ORDER BY n::DOUBLE * 1.0, source) AS k,
         sum(n::DOUBLE * 1.0) OVER (ORDER BY n::DOUBLE * 1.0, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM cnt),
cand AS (
  SELECT r.*, (b - (cum - cap)) / (nn - k + 1.0) AS t
  FROM ranked r, tot),
lvl AS (SELECT min_by(t, k) AS lvl FROM cand WHERE t <= cap),
fin AS (
  SELECT c.source, c.n_tokens, c.cap, lvl.lvl,
         CASE WHEN lvl IS NULL OR c.cap <= lvl
              THEN c.cap ELSE lvl END AS alloc
  FROM cand c, lvl)
SELECT source, n_tokens::BIGINT AS n_tokens,
       round(cap, 6) AS cap, round(alloc, 6) AS alloc,
       CASE WHEN n_tokens > 0
            THEN round(alloc / n_tokens, 6) END AS epochs,
       (lvl IS NULL OR cap <= lvl) AS capped
FROM fin
ORDER BY source
""")
def unimax_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax token-budget allocation (sampling.unimax_allocation)
    over per-source token counts of documents: budget = 95% of the
    corpus's tokens, every source capped at 1 epoch of itself — the
    small sources hit their caps, the rest level at the water line.
    The oracle replays the closed-form water-filling scan (ordered
    cumsum, candidate level per rank, min_by first-valid selection)
    end-to-end in SQL."""
    from parlerproject_spark.functions.text import tokenize
    from parlerproject_spark.operators.sampling import unimax_allocation
    d = _t(spark, sf_dir, "documents")
    # ONE corpus tokenization pass; the collected count table is one
    # row per source (bounded model state), and the water-fill then
    # runs over a literal frame — the corpus is never re-scanned
    rows = (d.groupBy("source")
            .agg(F.sum(F.size(tokenize("text"))).alias("n_tokens"))
            .collect())
    total = sum(r["n_tokens"] for r in rows)
    cnt = literal_frame(spark, rows, "source string, n_tokens bigint")
    return (unimax_allocation(cnt, budget=0.95 * float(total),
                              max_epochs=1.0)
            .orderBy("source"))


@register("quantile_match_events", """
WITH base AS MATERIALIZED (
  SELECT event_id, event_type, value::DOUBLE AS s
  FROM events WHERE value IS NOT NULL),
p AS (
  SELECT event_id, event_type, s,
         percent_rank() OVER (PARTITION BY event_type
                              ORDER BY s, event_id) AS pct
  FROM base),
g AS (SELECT count(*)::DOUBLE AS nn FROM base),
r AS (
  SELECT s AS gs,
         row_number() OVER (ORDER BY s, event_id)::BIGINT AS gr
  FROM base)
SELECT p.event_id, p.event_type, p.s AS score,
       round(p.pct, 6) AS pct, r.gs AS calibrated
FROM p CROSS JOIN g
JOIN r ON (floor(p.pct * (nn - 1.0)) + 1)::BIGINT = r.gr
ORDER BY event_id
""")
def quantile_match_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-group quantile normalization
    (selection.quantile_match_scores): every event's value is mapped
    from its within-event_type percent-rank onto the GLOBAL value
    distribution's order statistic at that rank — per-source scorer
    outputs become one comparable scale. The engine's global ranking
    is the bucketed two-level prefix sum (never a single-partition
    window); the oracle replays it as a plain global row_number,
    which is rank-identical because the bucket function is monotone
    in the score."""
    from parlerproject_spark.operators.selection import (
        quantile_match_scores)
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    return (quantile_match_scores(
        ev, group_col="event_type", score_col="value",
        id_col="event_id")
        .orderBy("event_id"))


_MOJI_FIXTURE = [
    (1, "Café résumé naïve"),
    (2, "He said ’hello‘ — twice…"),
    (3, "Temperature 25° and “open-quoted dashes – here"),
    (4, "plain ascii stays untouched"),
    (5, "€100 coûte 80€ — naïveté"),
    (6, "École über straße ñandú"),
]


def _moji_corrupt(s: str) -> str:
    return s.encode("utf-8").decode("cp1252")


def _moji_oracle() -> str:
    from parlerproject_spark.functions.text import mojibake_pairs
    rows = ",\n  ".join(
        "({}, '{}')".format(i, _moji_corrupt(s).replace("'", "''"))
        for i, s in _MOJI_FIXTURE)
    expr = "corrupted"
    for moji, ch in mojibake_pairs():
        expr = "replace({}, '{}', '{}')".format(expr, moji, ch)
    return f"""
WITH fixture(doc_id, corrupted) AS (VALUES
  {rows})
SELECT doc_id, corrupted, {expr} AS repaired,
       {expr} <> corrupted AS changed
FROM fixture
ORDER BY doc_id
"""


@register("mojibake_repair_fixture", _moji_oracle())
def mojibake_repair_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8-read-as-cp1252 mojibake repair
    (functions.text.repair_mojibake) over a deterministic 6-row
    fixture (the bounded fixture-builder precedent): texts are
    corrupted by the exact double-decoding accident (encode utf-8,
    decode cp1252) and repaired by the longest-first literal replace
    chain. The oracle replays the identical chain — both the
    corruption (embedded as literals generated by the same Python)
    and every replace step — so the pair TABLE itself is under the
    hash. Note one deliberate asymmetry: ” (U+201D) corrupts
    through cp1252's undefined 0x9D and is excluded from the
    repertoire — the docstring'd limit of this corruption class."""
    from parlerproject_spark.functions.text import repair_mojibake
    rows = [(i, _moji_corrupt(s)) for i, s in _MOJI_FIXTURE]
    df = literal_frame(spark, rows, "doc_id bigint, corrupted string")
    rep = repair_mojibake("corrupted")
    return (df.select("doc_id", "corrupted", rep.alias("repaired"),
                      (rep != F.col("corrupted")).alias("changed"))
            .orderBy("doc_id"))


@register("card_luhn_fixture", r"""
WITH fixture(doc_id, text) AS (VALUES
  (1, 'pay with 4111111111111111 now'),
  (2, 'fake 4111111111111112 fails the checksum'),
  (3, 'fmt 4111-1111-1111-1111 ok and 5500 0000 0000 0004'),
  (4, 'order 123456789012345678901 too long; id 9999'),
  (5, 'no digits at all'),
  (6, 'amex 378282246310005 and a 13-digit 4222222222222')),
c AS (
  SELECT doc_id,
         list_transform(
           regexp_extract_all(text, '\d(?:[ -]?\d){12,18}'),
           x -> regexp_replace(x, '[ -]', '', 'g')) AS norms,
         regexp_extract_all(text, '\d(?:[ -]?\d){12,18}') AS cands
  FROM fixture),
v AS (
  SELECT doc_id, cands,
         list_filter(norms, x ->
           list_sum(list_transform(range(1, length(x) + 1), i ->
             CASE WHEN TRY_CAST(substring(x, length(x) - i + 1, 1)
                       AS INT) * (CASE WHEN i % 2 = 0 THEN 2 ELSE 1
                       END) > 9
                  THEN TRY_CAST(substring(x, length(x) - i + 1, 1)
                       AS INT) * (CASE WHEN i % 2 = 0 THEN 2 ELSE 1
                       END) - 9
                  ELSE TRY_CAST(substring(x, length(x) - i + 1, 1)
                       AS INT) * (CASE WHEN i % 2 = 0 THEN 2 ELSE 1
                       END) END)) % 10 = 0) AS valid
  FROM c)
SELECT doc_id, len(cands)::BIGINT AS n_candidates,
       len(valid)::BIGINT AS n_valid,
       CASE WHEN len(valid) >= 1
            THEN '****' || substring(valid[1], length(valid[1]) - 3, 4)
       END AS masked
FROM v
ORDER BY doc_id
""")
def card_luhn_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payment-card PII detection with Luhn checksum precision
    (privacy.card_flags) over a deterministic fixture: 13-19-digit
    runs (separator-tolerant) are candidates; only checksum-valid
    numbers count as PII (an order id or hash prefix fails with
    probability 0.9 — the difference between a useful card gate and
    one that redacts every long number). All-expression plan: regex
    extraction + array transform/filter, no Python, no shuffle. The
    oracle replays extraction, normalization, the mod-10 fold, and
    the last-4 masking in SQL."""
    from parlerproject_spark.operators.privacy import card_flags
    rows = [
        (1, "pay with 4111111111111111 now"),
        (2, "fake 4111111111111112 fails the checksum"),
        (3, "fmt 4111-1111-1111-1111 ok and 5500 0000 0000 0004"),
        (4, "order 123456789012345678901 too long; id 9999"),
        (5, "no digits at all"),
        (6, "amex 378282246310005 and a 13-digit 4222222222222"),
    ]
    df = literal_frame(spark, rows, "doc_id bigint, text string")
    return card_flags(df).orderBy("doc_id")


@register("token_f1_pairs_docs", """
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         list_filter(
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       w -> w <> '')[1:60],
           w -> w NOT IN ('a', 'an', 'the')) AS ws
  FROM documents),
c AS (SELECT doc_id AS pid, ws AS cw FROM toks WHERE doc_id % 2 = 0),
r AS (SELECT doc_id - 1 AS pid, ws AS rw FROM toks
      WHERE doc_id % 2 <> 0),
p AS MATERIALIZED (SELECT pid, cw, rw FROM c JOIN r USING (pid)),
cc AS (SELECT pid, t, count(*)::BIGINT AS nc
       FROM (SELECT pid, unnest(cw) AS t FROM p) GROUP BY pid, t),
rc AS (SELECT pid, t, count(*)::BIGINT AS nr
       FROM (SELECT pid, unnest(rw) AS t FROM p) GROUP BY pid, t),
ov AS (SELECT pid, CAST(sum(least(nc, nr)) AS BIGINT) AS ovl
       FROM cc JOIN rc USING (pid, t) GROUP BY pid),
d AS (
  SELECT pid, len(cw)::BIGINT AS n_cand, len(rw)::BIGINT AS n_ref,
         coalesce(ovl, 0)::BIGINT AS overlap
  FROM p LEFT JOIN ov USING (pid)),
e AS (
  SELECT pid, n_cand, n_ref, overlap,
         CASE WHEN n_cand > 0
              THEN round(overlap::DOUBLE / n_cand, 6) END AS f1_p,
         CASE WHEN n_ref > 0
              THEN round(overlap::DOUBLE / n_ref, 6) END AS f1_r
  FROM d)
SELECT pid AS pair_id, n_cand, n_ref, overlap, f1_p, f1_r,
       CASE WHEN f1_p IS NULL OR f1_r IS NULL THEN NULL
            WHEN f1_p + f1_r = 0 THEN 0.0
            ELSE round(2 * f1_p * f1_r / (f1_p + f1_r), 6)
       END AS token_f1
FROM e
ORDER BY pair_id
""")
def token_f1_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQuAD-style bag-of-tokens answer F1
    (evaluation.token_f1_pairs) over the same even/odd aligned doc
    pairs as bleu/chrf/rouge/edit-distance: clipped token overlap →
    precision over the candidate bag, recall over the reference bag,
    harmonic mean from the rounded P/R — the extractive-QA
    leaderboard metric. 60-token snippet cap, SQuAD normalization
    (lowercase alnum tokens, articles dropped). The oracle replays
    bags, clipping, and all three scores."""
    from parlerproject_spark.operators.evaluation import token_f1_pairs
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cand = (d.filter(F.col("doc_id") % 2 == 0)
            .select(F.col("doc_id").alias("pair_id"), "text"))
    ref = (d.filter(F.col("doc_id") % 2 != 0)
           .select((F.col("doc_id") - 1).alias("pair_id"), "text"))
    # no pre-pairing semi-joins: token_f1_pairs' full-outer join
    # drops one-sided pairs itself, so each side reads documents ONCE
    return (token_f1_pairs(cand, ref, max_tokens=60)
            .orderBy("pair_id"))


@register("sentence_chunks_docs", r"""
WITH sp AS (
  SELECT doc_id, string_split(text, '. ') AS parts FROM documents),
s AS (
  SELECT doc_id, i AS no, trim(parts[i]) AS s
  FROM sp, unnest(range(1, len(parts) + 1)) AS t(i)
  WHERE trim(parts[i]) <> ''),
tok AS (
  SELECT doc_id, no, s,
         len(list_filter(string_split_regex(s, '\s+'),
                         w -> w <> ''))::BIGINT AS nt
  FROM s),
cum AS (
  SELECT doc_id, no, s, nt,
         coalesce(sum(nt) OVER (PARTITION BY doc_id ORDER BY no
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS bef
  FROM tok)
SELECT doc_id, (bef // 64)::BIGINT AS chunk_id,
       count(*)::BIGINT AS n_sentences,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       string_agg(s, '. ' ORDER BY no) AS chunk_text
FROM cum
GROUP BY doc_id, (bef // 64)
ORDER BY doc_id, chunk_id
""")
def sentence_chunks_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-boundary RAG chunking (text_analysis.sentence_chunks,
    64-token budget): chunks grow sentence by sentence and close at
    the first budget crossing, so no retrieval unit starts or ends
    mid-sentence — the cumulative-bucket contract keeps it a pure
    doc-partitioned prefix sum (no recursion, no global window). The
    oracle replays split, per-sentence token counts, the prefix sum,
    bucket assignment, and the order-pinned chunk reassembly."""
    from parlerproject_spark.operators.text_analysis import (
        sentence_chunks)
    d = _t(spark, sf_dir, "documents")
    return (sentence_chunks(d, budget_tokens=64)
            .orderBy("doc_id", "chunk_id"))


@register("hashed_bow_docs", r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents),
b AS (
  SELECT doc_id,
         (('0x' || substring(md5(w), 1, 15))::BIGINT % 2147483647) % 8
           AS bk
  FROM (SELECT doc_id, unnest(ts) AS w FROM toks)),
cnts AS (SELECT doc_id, bk, count(*)::DOUBLE AS c
         FROM b GROUP BY doc_id, bk),
grid AS (
  SELECT d.doc_id, t.j
  FROM (SELECT DISTINCT doc_id FROM toks) d,
       unnest(range(0, 8)) AS t(j)),
filled AS (
  SELECT g.doc_id, g.j, coalesce(c, 0.0) AS c
  FROM grid g LEFT JOIN cnts ON cnts.doc_id = g.doc_id
                            AND cnts.bk = g.j)
SELECT doc_id,
       max(CASE WHEN j = 0 THEN c END) AS c0,
       max(CASE WHEN j = 1 THEN c END) AS c1,
       max(CASE WHEN j = 2 THEN c END) AS c2,
       max(CASE WHEN j = 3 THEN c END) AS c3,
       max(CASE WHEN j = 4 THEN c END) AS c4,
       max(CASE WHEN j = 5 THEN c END) AS c5,
       max(CASE WHEN j = 6 THEN c END) AS c6,
       max(CASE WHEN j = 7 THEN c END) AS c7
FROM filled GROUP BY doc_id
ORDER BY doc_id
LIMIT 200
""")
def hashed_bow_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words embeddings
    (retrieval.hashed_embedding, dim=8): component j counts the
    tokens whose md5 stable_hash31 bucket is j — the stateless
    HashingVectorizer featurizer, exactly replayable in SQL (unlike
    the model-backed fake). First 200 docs by id for a bounded
    result; the featurizer itself is a zero-shuffle narrow map.
    The 8 components are projected to scalar columns c0..c7 (the
    `minhash_signatures` pattern) because the driver's canonical
    compare sorts raw columns and cannot factorize array cells."""
    from parlerproject_spark.operators.retrieval import hashed_embedding
    d = _t(spark, sf_dir, "documents")
    e = hashed_embedding(d, dim=8)
    return (e.select("doc_id",
                     *[F.col("embedding")[j].alias(f"c{j}")
                       for j in range(8)])
            .orderBy("doc_id").limit(200))


@register("rag_pipeline_docs", r"""
WITH sp AS (
  SELECT doc_id, string_split(text, '. ') AS parts FROM documents),
s AS (
  SELECT doc_id, i AS no, trim(parts[i]) AS s
  FROM sp, unnest(range(1, len(parts) + 1)) AS t(i)
  WHERE trim(parts[i]) <> ''),
stok AS (
  SELECT doc_id, no, s,
         len(list_filter(string_split_regex(s, '\s+'),
                         w -> w <> ''))::BIGINT AS nt
  FROM s),
cum AS (
  SELECT doc_id, no, s, nt,
         coalesce(sum(nt) OVER (PARTITION BY doc_id ORDER BY no
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS bef
  FROM stok),
chunks AS MATERIALIZED (
  SELECT doc_id, (bef // 64)::BIGINT AS chunk_id,
         doc_id * 100000 + (bef // 64) AS ck,
         string_agg(s, '. ' ORDER BY no) AS chunk_text
  FROM cum GROUP BY doc_id, (bef // 64)),
ctoks AS MATERIALIZED (
  SELECT ck,
         list_filter(string_split_regex(lower(chunk_text),
                                        '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM chunks),
lens AS (SELECT ck, len(ts) AS dl FROM ctoks),
stats AS (SELECT cast(count(*) AS DOUBLE) AS n_docs,
                 avg(dl) AS avgdl FROM lens),
post AS (
  SELECT ck, w AS term, cast(count(*) AS DOUBLE) AS tf
  FROM (SELECT ck, unnest(ts) AS w FROM ctoks)
  WHERE w IN ('spark', 'join', 'query')
  GROUP BY ck, w),
wdf AS (SELECT term, cast(count(*) AS DOUBLE) AS df
        FROM post GROUP BY term),
bscore AS (
  SELECT p.ck,
         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * 2.2)
           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS sc
  FROM post p JOIN wdf USING (term) JOIN lens USING (ck)
  CROSS JOIN stats),
lex AS (
  SELECT ck, rank FROM (
    SELECT ck, cast(row_number() OVER (ORDER BY score DESC, ck ASC)
                AS BIGINT) AS rank
    FROM (SELECT ck, round(sum(sc), 6) AS score
          FROM bscore GROUP BY ck))
  WHERE rank <= 50),
hb AS (
  SELECT ck,
         (('0x' || substring(md5(w), 1, 15))::BIGINT
            % 2147483647) % 16 AS bk
  FROM (SELECT ck, unnest(ts) AS w FROM ctoks)),
cnt AS (SELECT ck, bk, count(*)::DOUBLE AS c FROM hb GROUP BY ck, bk),
qv AS (
  SELECT (('0x' || substring(md5(w), 1, 15))::BIGINT
            % 2147483647) % 16 AS bk, count(*)::DOUBLE AS qc
  FROM (SELECT unnest(['spark', 'join', 'query']) AS w) GROUP BY bk),
qn AS (SELECT sqrt(sum(qc * qc)) AS qnorm FROM qv),
cn AS (SELECT ck, sqrt(sum(c * c)) AS cnorm FROM cnt GROUP BY ck),
dots AS (
  SELECT cnt.ck, sum(c * qc) AS dot
  FROM cnt JOIN qv USING (bk) GROUP BY cnt.ck),
sims AS (
  SELECT cn.ck,
         round(coalesce(dot, 0.0) / (cnorm * qnorm), 6) AS sim
  FROM cn LEFT JOIN dots USING (ck) CROSS JOIN qn),
dense AS (
  SELECT ck, rank FROM (
    SELECT ck, cast(row_number() OVER (ORDER BY sim DESC, ck ASC)
                AS BIGINT) AS rank
    FROM sims)
  WHERE rank <= 50),
allr AS (SELECT ck, rank FROM lex
         UNION ALL SELECT ck, rank FROM dense),
fused AS (
  SELECT ck, count(*)::BIGINT AS n_systems,
         round(sum(1.0 / (60 + rank)), 6) AS rrf_score
  FROM allr GROUP BY ck),
top AS MATERIALIZED (
  SELECT ck, n_systems, rrf_score,
         cast(row_number() OVER (ORDER BY rrf_score DESC, ck ASC)
              AS BIGINT) AS rank
  FROM (SELECT * FROM fused ORDER BY rrf_score DESC, ck ASC LIMIT 20)),
cited AS MATERIALIZED (
  SELECT t.ck, t.n_systems, t.rrf_score, t.rank,
         c.doc_id, c.chunk_id, c.chunk_text
  FROM top t JOIN chunks c USING (ck)),
sup AS (
  SELECT ck, count(*)::BIGINT AS n_sentences_cited,
         sum(CASE WHEN position(cs IN text) > 0
             THEN 1 ELSE 0 END)::BIGINT AS n_supported
  FROM (SELECT f.ck, unnest(string_split(f.chunk_text, '. ')) AS cs,
               d.text
        FROM cited f JOIN documents d USING (doc_id))
  GROUP BY ck)
SELECT doc_id, chunk_id, n_systems, rrf_score, rank,
       n_sentences_cited, n_supported,
       (n_supported = n_sentences_cited) AS fully_supported
FROM cited JOIN sup USING (ck)
ORDER BY rank
""")
def rag_pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG corpus-build pipeline END TO END, composing the
    verified operators unchanged (VERDICT r10 item 6 — the
    corpus → embedding → retrieval arc that is the reference's whole
    second half, code/embeddings.py + code/bertopicTest.py):

      sentence_chunks(64)  →  chunk-level BM25 top-50 (lexical leg)
                           →  hashed_embedding(16) + exact-cosine
                              top-50 (dense leg, SQL-replayable)
                           →  rrf_fuse k=60, top-20
                           →  citation support: every retrieved
                              chunk joins back to its source doc
                              and each cited sentence is checked
                              verbatim against the source text.

    The dense leg uses the hashing-trick featurizer rather than the
    model-backed fake precisely so the WHOLE pipeline hash-oracles:
    DuckDB replays chunking, BM25, bucket counts, cosine, fusion,
    and the support check in one CTE chain. The chunk table is
    persisted (MEMORY_AND_DISK) because three legs consume it — the
    documented multi-consumer pattern (SCALE.md §15); both retrieval
    legs are top-50-bounded before fusion, fusion input is
    systems × 50 rows, and the citation join broadcasts the 20-row
    result against documents. Columns: doc_id, chunk_id, n_systems,
    rrf_score, rank, n_sentences_cited, n_supported,
    fully_supported — fully_supported is the pipeline's own
    integrity gate (False would mean retrieval returned text its
    source does not contain)."""
    from pyspark import StorageLevel

    from parlerproject_spark.operators.retrieval import (
        bm25_scores, hashed_embedding, hashed_query_vector, rrf_fuse)
    from parlerproject_spark.operators.similarity import knn_bruteforce
    from parlerproject_spark.operators.text_analysis import sentence_chunks

    docs = _t(spark, sf_dir, "documents")
    chunks = (sentence_chunks(docs, budget_tokens=64)
              .withColumn("ck", (F.col("doc_id") * 100000
                                 + F.col("chunk_id")).cast("long"))
              .persist(StorageLevel.MEMORY_AND_DISK))
    lex = (bm25_scores(chunks, ["spark", "join", "query"], id_col="ck",
                       text_col="chunk_text", top_k=50)
           .select("ck", "rank", F.lit("bm25").alias("system")))
    vecs = (hashed_embedding(chunks, dim=16, id_col="ck",
                             text_col="chunk_text")
            .select(F.col("ck").alias("vec_id"), "embedding"))
    q = literal_frame(
        spark, [(hashed_query_vector("spark join query", dim=16),)],
        "q array<double>")
    dw = Window.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    dense = (knn_bruteforce(vecs, q, k=50)
             .select(F.col("vec_id").alias("ck"),
                     F.row_number().over(dw).cast("long").alias("rank"),
                     F.lit("dense").alias("system")))
    # The 20-row fused table feeds TWO consumers (the chunk join below
    # and, through it, the citation-support leg) and Spark shares no
    # subplans across them — without a stage boundary BOTH retrieval
    # legs (bm25 windows + exchanges, dense cosine top-k) run twice
    # (r13 plan read: the op-33..61 ranking cascade appeared verbatim
    # twice). localCheckpoint(eager=False) materializes the 20 rows on
    # first action and every consumer reads that one copy — the
    # pretraining_corpus_pipeline stage-boundary idiom.
    top = (rrf_fuse(lex.unionByName(dense), k=60, id_col="ck", top_k=20)
           .select(F.col("doc_id").alias("ck"), "n_systems",
                   "rrf_score", "rank")
           .localCheckpoint(eager=False))
    cited = chunks.join(F.broadcast(top), "ck")
    sent = (docs.select("doc_id", F.col("text").alias("__src"))
            .join(F.broadcast(cited.select("ck", "doc_id", "chunk_text")),
                  "doc_id")
            .select("ck", "__src",
                    F.explode(F.split("chunk_text", r"\. ")).alias("__cs")))
    sup = (sent.groupBy("ck")
           .agg(F.count(F.lit(1)).cast("long").alias("n_sentences_cited"),
                F.sum(F.contains("__src", F.col("__cs")).cast("int"))
                .cast("long").alias("n_supported")))
    return (cited.join(F.broadcast(sup), "ck")
            .select("doc_id", "chunk_id", "n_systems", "rrf_score",
                    "rank", "n_sentences_cited", "n_supported",
                    (F.col("n_supported") == F.col("n_sentences_cited"))
                    .alias("fully_supported"))
            .orderBy("rank"))


_PACK_FFD_CTE = r"""
WITH toks AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\s+'),
                         t -> t <> ''))::BIGINT AS n,
         md5('pack-v1:' || cast(doc_id AS VARCHAR)) AS k,
         cast(('0x' || substr(md5(cast(doc_id AS VARCHAR)), 1, 15))::BIGINT
              % 2147483647 % 8 AS INT) AS shard
  FROM documents),
cls AS (
  SELECT doc_id, n, k, shard,
         CASE WHEN n > 512 THEN 0
              ELSE least(floor(512.0 / greatest(n, 1)), 8) END::INT
           AS size_class
  FROM toks),
ordd AS (
  SELECT *, row_number() OVER (PARTITION BY shard, size_class
                               ORDER BY k) AS rn,
         sum(n) OVER (PARTITION BY shard, size_class ORDER BY k
                      ROWS UNBOUNDED PRECEDING) - n AS cb
  FROM cls),
b AS (
  SELECT doc_id, shard, size_class, n, k,
         (CASE WHEN size_class <= 1 THEN rn - 1
               WHEN size_class >= 8 THEN floor(cb / 448.0)
               ELSE (rn - 1) // size_class END)::BIGINT AS bin_no
  FROM ordd)
"""


@register("pack_sequences_ffd_docs", _PACK_FFD_CTE + r"""
SELECT doc_id, shard, size_class, bin_no,
       (sum(least(n, 512)) OVER (PARTITION BY shard, size_class, bin_no
            ORDER BY k ROWS UNBOUNDED PRECEDING)
        - least(n, 512))::BIGINT AS tok_offset,
       n AS n_tokens, (n > 512) AS truncated
FROM b
ORDER BY doc_id
""")
def pack_sequences_ffd_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-respecting sequence packing
    (sampling.pack_sequences_harmonic, L=512, 8 shards): no document
    straddles two training sequences — the harmonic size-class
    member of the decreasing-greedy (FFD) bin-packing family, chosen
    because classic FFD's first-open-bin probe is sequential state
    that neither distributes nor replays in SQL, while the class
    scheme is a closed form: class k = floor(L/n) holds exactly k
    docs per bin (optimal within class — k+1 docs each > L/(k+1)
    cannot fit), smalls pack by prefix sum into bins shrunk by one
    max-item so the hard capacity is never crossed. The oracle
    replays shards, classes, bin ids, and in-bin offsets exactly."""
    from parlerproject_spark.functions.text import tokenize
    from parlerproject_spark.operators.sampling import (
        pack_sequences_harmonic)
    d = _t(spark, sf_dir, "documents")
    wtok = F.size(F.filter(F.split("text", r"\s+"),
                           lambda t: F.length(t) > 0))
    _ = tokenize  # whitespace counting mirrors pack_sequences_docs
    staged = d.select("doc_id", wtok.cast("long").alias("n_tokens_in"))
    return (pack_sequences_harmonic(staged, id_col="doc_id",
                                    tokens_col="n_tokens_in",
                                    seq_len=512, shards=8, small_k=8)
            .orderBy("doc_id"))


@register("pack_waste_ffd_docs", _PACK_FFD_CTE + r"""
, per_bin AS (
  SELECT shard, size_class, bin_no,
         count(*) AS d, sum(least(n, 512)) AS t
  FROM b GROUP BY shard, size_class, bin_no)
SELECT shard, size_class,
       count(*)::BIGINT AS n_bins,
       sum(d)::BIGINT AS n_docs,
       CAST(sum(t) AS BIGINT) AS n_tokens,
       (count(*) * 512)::BIGINT AS capacity,
       (count(*) * 512 - sum(t))::BIGINT AS padded_tokens,
       round(1.0 - sum(t) / (count(*)::DOUBLE * 512), 6) AS waste_share
FROM per_bin
GROUP BY shard, size_class
ORDER BY shard, size_class
""")
def pack_waste_ffd_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste report over the harmonic packing
    (sampling.packing_waste_report): per (shard, size_class) bin
    count, token mass, capacity, padded tokens, and waste share —
    the wasted-FLOPs number a loader owner tracks. Aggregates the
    bounded (shard, class, bin) key space; the corpus is read once
    by the packing pass underneath."""
    from parlerproject_spark.operators.sampling import (
        pack_sequences_harmonic, packing_waste_report)
    d = _t(spark, sf_dir, "documents")
    wtok = F.size(F.filter(F.split("text", r"\s+"),
                           lambda t: F.length(t) > 0))
    staged = d.select("doc_id", wtok.cast("long").alias("n_tokens_in"))
    asg = pack_sequences_harmonic(staged, id_col="doc_id",
                                  tokens_col="n_tokens_in",
                                  seq_len=512, shards=8, small_k=8)
    return (packing_waste_report(asg, seq_len=512)
            .orderBy("shard", "size_class"))


@register("tar_shard_counts_docs", """
WITH m AS (
  SELECT 'doc/' || cast(doc_id AS VARCHAR) || '.txt' AS member,
         length(text)::BIGINT AS n_bytes
  FROM documents),
a AS (
  SELECT member, n_bytes,
         ((('0x' || substring(md5(member), 1, 15))::BIGINT
             % 2147483647) % 8)::BIGINT AS shard
  FROM m)
SELECT shard, count(*)::BIGINT AS n_members,
       CAST(sum(n_bytes) AS BIGINT) AS n_bytes
FROM a GROUP BY shard
ORDER BY shard
""")
def tar_shard_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tar-shard writer's assignment convention, hash-oracled
    (VERDICT r10 item 8): `write_tar_shards` places member
    'doc/<id>.txt' into shard pmod(stable_hash31(member), n) — the
    md5-based convention a SQL oracle CAN replay, unlike Spark's
    xxhash `hash()` it replaced (whose abs() also overflowed at
    Int.MinValue). This query computes the per-shard member count
    and byte mass for the documents table exactly as the writer
    will lay the files out; the archives pytest pins that the files
    written to disk match the same expression member for member."""
    from parlerproject_spark.functions.text import stable_hash31
    d = _t(spark, sf_dir, "documents")
    member = F.concat(F.lit("doc/"), F.col("doc_id").cast("string"),
                      F.lit(".txt"))
    return (d.select(member.alias("member"),
                     F.length("text").cast("long").alias("n_bytes"),
                     F.pmod(stable_hash31(member), F.lit(8))
                     .cast("long").alias("shard"))
            .groupBy("shard")
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"),
                 F.sum("n_bytes").cast("long").alias("n_bytes"))
            .orderBy("shard"))
