#!/usr/bin/env python
"""Interleaved A/B for harness-level knobs: compaction chunk count and
shuffle partition count.

This box's effective CPU capacity swings with NEIGHBOR load the sandbox
cannot see (load average 1 -> 10 with zero local processes busy), so two
sequential bench runs of the same code differ by 30-60%+ per query.
Comparing configs across runs is meaningless; this probe interleaves the
two arms query-by-query inside ONE session so host drift hits both arms
equally (same discipline as ab_probe_r08.py).

Arms:
  --mode layout  : same bytes, two compacted layouts (chunks=4 vs 32)
                   via two copies of the sf dir (catalog.work_dir keys
                   compacted copies per input dir)
  --mode parts   : one layout, shuffle.partitions flipped 8 vs 32 per
                   run (runtime-settable; timed end to end, so the
                   recompile the flip forces is inside the number)

Usage: python tools/layout_probe.py --mode layout [query ...]
Measurement tooling only; run exclusively.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

HEAVY = [
    "text_setsim_prefix_join",
    "graph_label_propagation",
    "er_pipeline",
    "ml_conformal_interval",
    "text_minhash_lsh",
    "text_decontaminate",
]
LIGHT = [
    "agg_basic",
    "top_segment_revenue",
    "events_sessionize",
    "win_topk_per_group",
    "pricing_summary",
    "local_supplier_volume",
]

AB_ROOT = "/root/testdata_r08ab"


def clone_sf(src: str, tag: str) -> str:
    dst = os.path.join(AB_ROOT, tag)
    if not os.path.isdir(dst):
        os.makedirs(AB_ROOT, exist_ok=True)
        shutil.copytree(src, dst)
    return dst


def main() -> None:
    from vault_8_hive_spark.benchlib import time_query
    from vault_8_hive_spark.catalog import optimize_tables
    from vault_8_hive_spark.queries import all_queries
    from vault_8_hive_spark.session import get_spark

    mode = "layout"
    runs = 5
    names = []
    for a in sys.argv[1:]:
        if a.startswith("--mode"):
            mode = a.split("=")[1] if "=" in a else "layout"
        elif a.startswith("--runs="):
            runs = int(a.split("=")[1])
        elif not a.startswith("--"):
            names.append(a)
    names = names or (HEAVY + LIGHT)
    src = "/root/testdata/sf0.1"

    spark = get_spark(app_name=f"layout-probe-{mode}")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    reg = all_queries()

    if mode == "layout":
        dir_a = clone_sf(src, "c04")
        dir_b = clone_sf(src, "c32")
        optimize_tables(spark, dir_a, chunks=4)
        optimize_tables(spark, dir_b, chunks=32)

        def arm_a(q):
            return time_query(spark, q, dir_a, runs=1)

        def arm_b(q):
            return time_query(spark, q, dir_b, runs=1)

        label_a, label_b = "chunks4", "chunks32"
    else:
        optimize_tables(spark, src, chunks=4)

        def arm_a(q):
            spark.conf.set("spark.sql.shuffle.partitions", "8")
            return time_query(spark, q, src, runs=1)

        def arm_b(q):
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            return time_query(spark, q, src, runs=1)

        label_a, label_b = "parts8", "parts32"

    print(f"load_1m at start: {os.getloadavg()[0]:.2f}", flush=True)
    for name in names:
        q = reg[name]
        arm_a(q)  # warmups (JIT, codegen, footers), one per arm
        arm_b(q)
        ea, eb = [], []
        for _ in range(runs):
            ea.append(arm_a(q))
            eb.append(arm_b(q))
        ma, mb = statistics.median(ea), statistics.median(eb)
        print(
            f"{name}: {label_a}={ma:.3f}s {label_b}={mb:.3f}s "
            f"b/a={mb / ma:.2f} ({[round(x, 2) for x in ea]} vs "
            f"{[round(x, 2) for x in eb]})",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
