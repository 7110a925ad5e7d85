#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end to end over a FRESH DataFrame per run: Python
plan build, Catalyst compile, execution and Arrow egress, with every
scan/map/shuffle stage re-executed (see vault_8_hive_spark/benchlib.py
for why re-executing a prepared DataFrame would measure cached-shuffle
serving instead). The artifact is stamped `"timing": "end_to_end"`.
Results are materialized via toPandas (Arrow egress — the production path
for bulk result transfer; row-object collect() is 2-3x slower for wide
results and measures Python object construction, not the engine). A
warmup pass primes the JVM JIT, codegen cache, and parquet footer caches
so the numbers measure the engine, not JVM startup.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def _prev_total(root: Path, cpus: int) -> float | None:
    """Total of the newest committed BENCH_r{N}.json recorded on the same
    core count with the same end-to-end timing, so a reader of this JSON
    alone sees whether the bench set got faster or slower. Artifacts of
    another core count, and the exec-only artifacts made before the
    timing stamp, do not compare and are skipped; no match gives None."""

    def round_no(path: Path) -> tuple[int, str]:
        m = re.match(r"BENCH_r(\d+)", path.name)
        return (int(m.group(1)) if m else -1, path.name)

    for path in sorted(root.glob("BENCH_r[0-9]*.json"), key=round_no, reverse=True):
        try:
            prev = json.loads(path.read_text())
            prev = prev.get("parsed") or prev
            if prev.get("cpus") == cpus and prev.get("timing") == "end_to_end":
                return prev.get("value")
        except (OSError, ValueError, AttributeError):
            continue
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from vault_8_hive_spark.queries import all_queries
    from vault_8_hive_spark.session import get_spark

    spark = get_spark(app_name="vault-8-hive-bench", cpus=cpus)
    # Latency mode for the bench's sub-GB scale factors: AQE's extra stage
    # re-planning round-trips cost more than they save here, and 8 shuffle
    # partitions keep task-scheduling overhead off the critical path. (At
    # cluster scale the session defaults — AQE on, partitions ~ cores —
    # are the right call; see SCALE.md.)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    # Ingest-layer compaction (catalog.optimize_tables): the driver's
    # landing files are one parquet row group each, which caps every scan
    # at ONE task; compacting into split-sized files restores scan
    # parallelism. Runs once per sf dir (idempotent), outside the timed
    # window — exactly where a real deployment pays its ingest cost.
    from vault_8_hive_spark.catalog import optimize_tables

    optimize_tables(spark, sf_dir, chunks=4)

    registry = all_queries()
    bench_set = {n: q for n, q in sorted(registry.items()) if q.bench}

    # Warmup: one untimed build+execute per query primes the JVM JIT,
    # the whole-stage-codegen source cache, and parquet footer caches.
    # The warmup DataFrames are discarded — timed runs build fresh ones
    # (see benchlib: reuse would serve cached shuffle outputs).
    for name, q in bench_set.items():
        q.fn(spark, sf_dir).toPandas()

    # Median of 5 timed runs per query: single-run numbers on a 32-thread
    # local JVM are dominated by GC-pause lottery, not the plan (and with
    # fresh-build runs the spread is wider than under plan reuse).
    import gc

    from vault_8_hive_spark.benchlib import time_query

    per: dict[str, float] = {}
    for name, q in bench_set.items():
        gc.collect()
        # JVM-side GC outside the timed window: accumulated broadcast/UDF
        # garbage from earlier queries otherwise pays its collection pause
        # inside this query's window (measured up to +1.5s). Every timed
        # plan is built AFTER this point, so no live plan's accumulators
        # can be collected out from under a run (the round-2 harness
        # re-executed pre-GC plans and logged spurious accumulator
        # errors — fresh builds make that impossible).
        spark._jvm.System.gc()
        # Let the async ContextCleaner drain the previous query's
        # shuffle/broadcast garbage before the next timed window opens —
        # its block-removal work otherwise competes with the timed run
        # (measured: up to 4x inflation on the query following the
        # heaviest one).
        time.sleep(0.5)
        per[name] = round(time_query(spark, q, sf_dir, runs=5), 4)

    total = round(sum(per.values()), 4)

    # Same-day DuckDB numbers measured INSIDE the artifact (same files,
    # same warm-plus-median-of-3 treatment as tools/scale_probe.py), so
    # the ratio-vs-baseline is computable from this JSON alone instead of
    # cross-referencing BASELINE.md prose.
    import statistics

    import duckdb

    conn = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        conn.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    duck: dict[str, float] = {}
    for name, q in bench_set.items():
        if not q.oracle:
            continue
        conn.execute(q.oracle).df()  # warm
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            conn.execute(q.oracle).df()
            runs.append(time.perf_counter() - t0)
        duck[name] = round(statistics.median(runs), 4)
    ratio = {n: round(per[n] / duck[n], 2) for n in duck if duck[n] > 0}
    duck_total = round(sum(duck.values()), 4)

    prev_total = _prev_total(Path(__file__).resolve().parent, cpus)

    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "timing": "end_to_end",
        "queries": per,
        "duckdb": duck,
        "ratio": ratio,
        "duckdb_total": duck_total,
        "ratio_total": round(total / duck_total, 3) if duck_total else None,
        "prev_total": prev_total,
        "ratio_prev": round(total / prev_total, 3) if prev_total else None,
        "sf": sf,
        "n_queries": len(per),
        "cpus": cpus,
        # Box-condition stamp: the r8 drift investigation (BASELINE §3h
        # second-data-point note) showed the 32-thread engine's absolutes
        # swing ±30-60% with host conditions DuckDB barely feels; the
        # 1-min load average at start makes that attributable in-artifact.
        "load_1m": round(os.getloadavg()[0], 2),
    }
    # Full detail object (with per-query ratios) as a sidecar next to
    # the repo root — self-contained even if the caller truncates stdout.
    with open(Path(__file__).resolve().parent / "bench_full.json", "w") as fh:
        json.dump(full, fh, indent=1)

    # The stdout contract line. The harness that records BENCH_r{N}.json
    # keeps only the LAST ~2000 chars of output, so the line must fit that
    # budget or the parsed object is lost (BENCH_r05 was truncated this
    # way): the line carries the judged essentials (per-query spark + duck
    # seconds, totals, ratio_total — per-query ratios are the quotient of
    # the two dicts); the ratio detail lives in bench_full.json.
    line = json.dumps(
        {k: v for k, v in full.items() if k != "ratio"},
        separators=(",", ":"),
    )
    if len(line) > 1900:  # loud failure beats a silently-truncated artifact
        raise SystemExit(
            f"bench contract line is {len(line)} chars (> 1900 tail budget); "
            "trim the bench set or shorten query names"
        )
    json.loads(line)  # self-check: the emitted artifact must parse
    print(line)


if __name__ == "__main__":
    main()
