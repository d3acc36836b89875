"""parlerproject_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the RELDigitalLab/ParlerProject research pipeline
(HTML→text extraction, embedding pipelines, topic modeling, archive
metadata processing), rebuilt Spark-first: declared StructType schemas
over Parquet, declarative DataFrame/SQL plans optimized by Catalyst,
broadcast semi/anti joins for the reference's membership + resume
patterns, Arrow-batched pandas UDFs only where built-ins genuinely
cannot express the semantics, and Structured Streaming for the
incremental/event-time surface.

Layout:
  session    — tuned SparkSession factory
  catalog    — declared schemas + loaders for the test tables
  functions/ — scalar expression libraries (text, geo, vectors, html)
  operators/ — relational, dedup, similarity, text-analysis operators
  sources/   — custom sources (archives, remote fetch)
  streaming/ — event-time / incremental operators

Importing the package installs `_zipstamp`, so a Python worker that
unpickles an engine function stops re-reading pyspark.zip on every task.
"""

from parlerproject_spark import _zipstamp

_zipstamp.install()

from parlerproject_spark.session import get_spark
from parlerproject_spark.catalog import load_table, load_tables, TABLE_SCHEMAS

__all__ = ["get_spark", "load_table", "load_tables", "TABLE_SCHEMAS"]
__version__ = "0.1.0"
