"""The benchmark's workloads: a fixed list of registered queries each, on
inputs drawn by ``gen.py`` from the run's seed. Why each was chosen is in
BENCHMARK.json and README.md."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    scale: float  # relational base draw, 1.0 = sf0.01 row counts
    replicas: int  # copies of the base draw (gen.py)
    tables: tuple[str, ...]  # tables the queries read: compacted in set-up
    # Documents in the base draw, 1.0 = 500 rows. Every draw writes them,
    # since the DuckDB oracle's connection reads all ten tables.
    doc_scale: float = 1.0


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="headline",
            queries=("er_pipeline", "graph_label_propagation"),
            scale=1.0,
            replicas=1,
            tables=("customer", "lineitem", "orders"),
        ),
        Workload(
            name="replicated",
            queries=(
                "text_minhash_lsh",
                "text_setsim_prefix_join",
                "top_segment_revenue",
            ),
            scale=5.0,
            replicas=4,
            tables=("customer", "documents", "lineitem", "orders"),
            doc_scale=2.0,
        ),
    )
}
