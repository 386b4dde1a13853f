"""Benchmark workloads: which registered jobs run, on which tables, at what size.

``mult`` scales the generator's sf0.1 row counts (1.0 = lineitem 600k,
orders 150k, events 100k, documents 5k, embeddings 2k). NOTES.md explains
which planned jobs and workloads are left out, and why.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    jobs: tuple[str, ...]
    tables: tuple[str, ...]
    mult: float


WORKLOADS: dict[str, Workload] = {
    # short relational and time-window jobs: per-job driver and scheduling
    # cost dominates; the text, graph and write layers sit idle
    "star_logs": Workload(
        jobs=(
            "pricing_summary", "revenue_by_nation", "brand_volume",
            "order_count_histogram", "supplier_rank_in_nation", "hourly_event_counts",
            "user_session_counts", "per_minute_error_counts",
        ),
        tables=("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                "events"),
        mult=1.0,
    ),
    # one multi-shuffle job per corpus layer (graph and text, curation with
    # dedup and textstats, similarity, ml), one of them a driver-loop
    # iteration: operator work and iteration rounds dominate
    "corpus_graph": Workload(
        jobs=(
            "pagerank_top20", "curated_training_set", "embedding_near_dup",
            "knn_accuracy",
        ),
        tables=("documents", "embeddings"),
        mult=0.1,
    ),
}
