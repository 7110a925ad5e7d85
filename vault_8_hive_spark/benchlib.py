"""Timing methodology shared by bench.py and the tools/ probes.

Every timed run builds a FRESH DataFrame from the query function and
times it end to end: from calling fn() (Python plan build, and whatever
fn() itself executes, such as a driven stream or a collected Gram)
through Catalyst compile and execution to the Arrow result in pandas.

Re-executing a previously-executed DataFrame object would serve cached
shuffle outputs — Spark keeps the shuffle files of a physical-plan
instance and schedules repeat actions as "skipped stages", so only the
post-shuffle tail would run. A fresh build derives a new plan instance
(new RDD lineage), so every scan, map, and shuffle stage re-executes.
Splitting the time into phases is the traced benchmark's job
(perfbench/run.py --trace 1), not this timer's.
"""

from __future__ import annotations

import statistics
import time


def time_query(spark, q, sf_dir: str, runs: int = 3) -> float:
    """Median end-to-end seconds over `runs` fresh builds."""
    import gc

    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        df = q.fn(spark, sf_dir)
        df.toPandas()
        times.append(time.perf_counter() - t0)
        # Reclaim this run's plan garbage (shuffle files, broadcasts)
        # OUTSIDE the timed window: fresh-build runs generate real
        # per-run garbage, and the async ContextCleaner's block removal
        # otherwise lands inside the next run's timing.
        del df
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.2)
    return statistics.median(times)
