"""Batched text-embedding operator (SURVEY M2).

The reference's embedding pipelines (code/embeddings.py,
code/embeddingsWithGPU.py) are: load SentenceTransformer once,
encode in adaptive batches (CPU tiers 32-500 by corpus size,
embeddings.py:47-58; GPU tiers by VRAM, embeddingsWithGPU.py:
106-136), L2-normalize, write float32 vectors.

Spark-first shape: an ITERATOR pandas UDF — the model loads once per
Python worker (not per batch, not per row), Arrow streams batches
through it, and `spark.sql.execution.arrow.maxRecordsPerBatch` plays
the reference's batch-tier role. GPU scheduling maps to
`spark.task.resource.gpu.amount`; the reference's OOM-backoff loop
(embeddings.py:135-143) becomes static batch configuration.

sentence-transformers is not installed in this environment, so the
default backend is a DETERMINISTIC FAKE: a seeded hash-derived
vector with the real contract (fixed dim, unit L2 norm, float32).
The plumbing — iterator UDF, per-worker model cache, batch shape —
is the real, tested surface; swap `backend="st"` when the library
and model weights are available.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import col, pandas_udf

DEFAULT_DIM = 384  # all-MiniLM-L6-v2 (embeddings.py:60)


def batch_tier(corpus_size: int) -> int:
    """The reference's literal CPU batch tiers
    (get_optimal_batch_size, code/embeddings.py:47-58):
    <1k → 100, <10k → 500, <100k → 100, 100k+ → 32.
    Deliberately non-monotonic — large corpora get very small batches
    to bound encoder memory ("Very small batches for 1M+ documents").
    """
    if corpus_size < 1_000:
        return 100
    if corpus_size < 10_000:
        return 500
    if corpus_size < 100_000:
        return 100
    return 32


def arrow_batch_conf(corpus_size: int) -> tuple[str, str]:
    """(key, value) pair wiring the reference's batch tier into the
    Spark analogue: `spark.sql.execution.arrow.maxRecordsPerBatch`
    bounds how many rows Arrow hands the iterator UDF at once, which
    is exactly what the reference's encode batch size bounded. Apply
    on the session BEFORE building the embed plan:
        spark.conf.set(*arrow_batch_conf(n_docs))
    """
    return ("spark.sql.execution.arrow.maxRecordsPerBatch",
            str(batch_tier(corpus_size)))


def _fake_model(dim: int):
    """Deterministic per-text embedding: sha256-seeded pseudo-random
    unit vector. Stable across runs/processes/engines."""
    def encode(texts: list[str]) -> np.ndarray:
        out = np.empty((len(texts), dim), dtype=np.float32)
        for i, t in enumerate(texts):
            seed = int.from_bytes(hashlib.sha256((t or "").encode()).digest()[:8], "big")
            rng = np.random.default_rng(seed)
            v = rng.standard_normal(dim).astype(np.float32)
            out[i] = v / np.linalg.norm(v)
        return out
    return encode


def _st_model(dim: int):
    """Real backend: loaded once per worker process."""
    from sentence_transformers import SentenceTransformer  # gated import

    model = SentenceTransformer("all-MiniLM-L6-v2")

    def encode(texts: list[str]) -> np.ndarray:
        return model.encode(texts, normalize_embeddings=True,  # embeddings.py:119
                            convert_to_numpy=True).astype(np.float32)
    return encode


def make_embed_udf(*, dim: int = DEFAULT_DIM, backend: str = "fake"):
    """Build the iterator pandas UDF. The closure holds only config;
    the model materializes lazily inside the worker on first batch."""

    @pandas_udf("array<float>")
    def embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        encode = None
        for texts in batches:
            if encode is None:  # once per worker, not per batch
                encode = (_st_model(dim) if backend == "st" else _fake_model(dim))
            vecs = encode(texts.fillna("").tolist())
            yield pd.Series(list(vecs))

    return embed


def embed_documents(docs: DataFrame, *, text_col: str = "text",
                    dim: int = DEFAULT_DIM,
                    backend: str = "fake") -> DataFrame:
    """documents(..., text) → + embedding: array<float> (unit norm).

    Narrow map stage; no shuffle. Partition sizing note: at 1M+ docs
    the reference drops to batch 32 (embeddings.py:55-56) to bound
    memory — here the analogue is keeping Arrow batches
    (maxRecordsPerBatch) × avg doc size inside worker memory: apply
    the reference's batch tier with
    `spark.conf.set(*arrow_batch_conf(n_docs))` before building the
    plan.
    """
    return docs.withColumn("embedding", make_embed_udf(dim=dim, backend=backend)(col(text_col)))
