"""The benchmark's workloads: which registered queries one pass runs,
and at which input scale. BENCHMARK.json says why each workload exists.

Every query here has a DuckDB oracle, so each run hash-checks it. The
lists are short because every run pays two cold set-ups, each in a new
JVM, and a cold checking pass before it measures; with more queries
the benchmark's full set of runs would not fit its time budget.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    scale: float  # generator scale; 0.1 matches the reference data
    queries: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    "olap_star": Workload(
        scale=0.04,
        queries=(
            "q1_pricing_summary", "q3_segment_revenue", "q5_region_revenue",
            "q18_large_orders", "window_rank_orders",
            "semi_join_building_orders", "asof_join_purchase_view",
            "tumbling_window_events",
        ),
    ),
    "corpus_fit": Workload(
        scale=0.01,
        queries=(
            "html_extract_posts", "minhash_lsh_pairs", "dictionary_tag_arrow_docs",
            "embedding_near_dup_lsh", "pipeline_archive_metadata",
            "logreg_quality_scores_docs",
        ),
    ),
}
