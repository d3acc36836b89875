"""Run metrics + manifest layer (SURVEY §2.11, S14).

The reference prints docs/sec + ETA while embedding
(code/embeddingsWithGPU.py:236-247) and writes a key:value sidecar
manifest after each run (code/embeddings.py:162-174: model, dims,
count, bytes, timing). Spark-first analogue:

- `df.observe(...)` named metrics ride the job itself — no second
  pass, no driver-side counting loop; collected exactly once per
  action by a QueryExecutionListener;
- the manifest is one JSON file written by the driver after the
  action, from observed metrics + schema + wall time.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class RunManifest:
    """S14 parity: what the reference's sidecar txt records, as JSON."""
    name: str
    started_unix: float
    elapsed_sec: float = 0.0
    row_count: int = 0
    schema: str = ""
    metrics: dict = field(default_factory=dict)

    def write(self, out_dir: str) -> str:
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"_manifest_{self.name}.json")
        with open(path, "w") as f:
            json.dump(self.__dict__, f, indent=2, default=str)
        return path


def observed(df: DataFrame, name: str, **aggs) -> tuple[DataFrame, Observation]:
    """Attach named observe() metrics to a frame. Default adds a row
    count; extra aggs are Column expressions by metric name.

    Usage:
        df2, obs = observed(df, "embed_run",
                            total_chars=F.sum(F.length("text")))
        df2.write.parquet(...)          # one action
        obs.get                        # {"rows": ..., "total_chars": ...}
    """
    exprs = [F.count(F.lit(1)).alias("rows")]
    exprs += [c.alias(k) for k, c in aggs.items()]
    obs = Observation(name)
    return df.observe(obs, *exprs), obs


def run_with_manifest(df: DataFrame, *, name: str, out_dir: str,
                      **aggs) -> RunManifest:
    """Execute one count over `df` with observed metrics and write
    the S14-style manifest. Throughput (rows/sec — the reference's
    docs/sec print) is derived, not measured row-by-row."""
    started = time.time()
    watched, obs = observed(df, name, **aggs)
    n = watched.count()
    elapsed = time.time() - started
    got = dict(obs.get)
    n = int(got.get("rows", n))
    m = RunManifest(
        name=name,
        started_unix=started,
        elapsed_sec=round(elapsed, 3),
        row_count=n,
        schema=df.schema.simpleString(),
        metrics={**{k: v for k, v in got.items() if k != "rows"},
                 "rows_per_sec": round(n / elapsed, 2) if elapsed > 0 else None},
    )
    m.write(out_dir)
    return m
