"""Python UDF surface beyond scalar UDFs (SURVEY §2.10 absent-set:
UDAF via pandas GROUPED_AGG, UDTF via the Spark-4 decorator).

These exist to prove the engine exposes the full UDF story; the
standing rule still applies — anything expressible as Column
algebra stays JVM-side (both examples here are chosen to be
SQL-replicable so the DuckDB oracle can hash-check the Python path).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf


def round_half_up(x, d: int = 6):
    """Round half away from zero at `d` decimals — what SQL round()
    does in Spark and DuckDB. numpy's np.round and Python's round()
    are half-to-even and disagree with the oracle at exact binary
    halves (2.5 → 2 vs 3, 0.125 at d=2 → 0.12 vs 0.13). Scalar in →
    float out, array in → float64 array out; NaN passes through.
    Every Python-side rounding that must hash-match an oracle's
    round() goes through here."""
    s = 10.0 ** d
    x = np.asarray(x, dtype=np.float64)
    r = np.where(x >= 0, np.floor(x * s + 0.5), np.ceil(x * s - 0.5)) / s
    return r if r.ndim else float(r)


_geo_mean_cache = None


def geometric_mean():
    """GROUPED_AGG pandas UDAF: exp(mean(ln(x))) over positive x.
    Arrow hands each group's column as one pandas Series."""
    global _geo_mean_cache
    if _geo_mean_cache is None:
        def _gm(v: pd.Series) -> float:
            arr = v[v > 0].to_numpy(dtype="float64")
            if arr.size == 0:
                return float("nan")
            return float(np.exp(np.log(arr).mean()))
        _geo_mean_cache = pandas_udf(_gm, "double")
    return _geo_mean_cache


def sentence_udtf():
    """UDTF: one input row (id, text) → one output row per sentence.
    Lazily built (the decorator needs a live session)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sentence_no int, sentence string")
    class SplitSentences:
        def eval(self, doc_id, text: str):
            if not text:
                return
            parts = [s.strip() for s in text.split(". ")]
            for i, s in enumerate(parts):
                if s:
                    yield doc_id, i + 1, s

    return SplitSentences


def robust_zscores(df, *, key_col: str = "user_id", val_col: str = "value",
                   id_col: str = "event_id"):
    """Per-group robust z-score ((x - median) / MAD) via grouped-map
    applyInPandas — the batch custom-operator escape hatch for per-
    group logic that wants the whole group as one pandas frame
    (the batch twin of streaming/stateful.py's applyInPandasWithState).

    State is per-group and groups are hash-partitioned, so the
    operator scales with the largest single group, not the table.
    NOTE: this is the documented escape-hatch demo; the default is
    operators/stats.robust_zscores_native (window aggregates, no
    whole-group materialization — a heavy-hitter key spills instead
    of OOMing a Python worker). Both hash-check to the same oracle.
    Median/MAD use numpy's linear interpolation — the same definition
    as quantile_cont, so the DuckDB oracle replays it exactly. Null
    semantics follow SQL (and the native twin): nulls are excluded
    from the medians, a null value yields a null z when MAD > 0, and
    groups with MAD == 0 or no non-null values emit z = 0.0
    everywhere. Columns: <key_col>, <id_col>, z.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[val_col].to_numpy(dtype=float)
        mask = ~np.isnan(x)
        xs = x[mask]
        mad = 0.0
        if xs.size:
            med = float(np.median(xs))
            mad = float(np.median(np.abs(xs - med)))
        if mad > 0:
            z = (x - med) / mad
            # NaN (null x) -> NA
            zout = pd.array(round_half_up(z), dtype="Float64")
        else:
            zout = pd.array(np.zeros_like(x), dtype="Float64")
        return pd.DataFrame({key_col: pdf[key_col],
                             id_col: pdf[id_col],
                             "z": zout})

    out_schema = ", ".join([
        f"{key_col} {df.schema[key_col].dataType.simpleString()}",
        f"{id_col} {df.schema[id_col].dataType.simpleString()}",
        "z double"])
    # EXPLICIT keyed repartition before the grouped map: AQE sizes
    # exchanges by shuffle BYTES and cannot see Python compute, so it
    # coalesces this small-bytes/CPU-heavy stage down to ONE
    # partition — one Python worker then walks every group serially
    # (measured 7.2 s → 2.4 s at sf0.1). A user-specified partition
    # count is exempt from AQE coalescing, and hash(key) partitioning
    # already satisfies the grouped-map's clustering requirement, so
    # no second exchange is inserted.
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return (df.select(key_col, id_col, val_col)
            .repartition(n, key_col)
            .groupBy(key_col).applyInPandas(per_group, out_schema))


_zlib_ratio_cache = None


def zlib_ratio():
    """SCALAR pandas UDF: zlib-compressed size / raw UTF-8 size per
    document — the compression-ratio quality signal (CCNet-family
    pipelines use it to flag boilerplate/templates, which compress
    far below natural text, and random noise, which doesn't compress
    at all). Deterministic (zlib level 6 is bit-stable for a given
    input), so the score is reproducible across runs and engines —
    but no SQL engine exposes zlib, so the query is rows-only with
    the pytest reference computing the same ratios in-process.

    Arrow hands each batch as one pandas Series; the loop is per
    document over the batch (compression is inherently per-blob),
    which is the Arrow-batched slow path — acceptable because zlib
    at level 6 runs ~100 MB/s/core and the UDF stage carries only
    (id, text), nothing else."""
    global _zlib_ratio_cache
    if _zlib_ratio_cache is None:
        import zlib

        def _zr(texts: pd.Series) -> pd.Series:
            out = []
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                raw = t.encode("utf-8")
                if not raw:
                    out.append(None)
                    continue
                out.append(len(zlib.compress(raw, 6)) / len(raw))
            return pd.Series(out, dtype="float64")
        _zlib_ratio_cache = pandas_udf(_zr, "double")
    return _zlib_ratio_cache
