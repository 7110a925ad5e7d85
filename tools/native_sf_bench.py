#!/usr/bin/env python
"""Native-SF bench: the headline bench set at an arbitrary sf directory
(e.g. a NATIVE sf1 corpus generated by tools/regen_data.py --scale 100),
with each DuckDB oracle run in a SUBPROCESS under a hard timeout.

Why this exists: bench.py runs the oracle set in-process, so one oracle
that blows up at a bigger scale factor (DuckDB's er_pipeline recursive
CTE at sf1 ran >40 min before the harness timeout) takes the whole
artifact with it — including the already-measured Spark times. Here a
blown oracle records as DNF (time = the cap, ratio floored at spark/cap)
and the run completes.

Usage:
    python tools/regen_data.py --seed 42 --scale 100 --out .work/sf1_native
    python tools/native_sf_bench.py .work/sf1_native [duck_timeout_s]

Methodology mirrors bench.py (fresh-build medians, warmup pass, latency
mode) with runs=3 instead of 5 — the corpus is 10x bigger, and the §3j
question is plan shape vs scale, not ±5% noise.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else "/root/repo/.work/sf1_native"
DUCK_TIMEOUT = int(sys.argv[2]) if len(sys.argv) > 2 else 300

_DUCK_RUNNER = r"""
import json, sys, time, statistics
import duckdb
sf_dir, sql = sys.argv[1], sys.stdin.read()
conn = duckdb.connect()
conn.execute("SET enable_progress_bar = false")
for t in ("region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"):
    conn.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet*')"
    )
conn.execute(sql).df()  # warm
runs = []
for _ in range(3):
    t0 = time.perf_counter()
    conn.execute(sql).df()
    runs.append(time.perf_counter() - t0)
print(json.dumps(statistics.median(runs)))
"""


def duck_time(name: str, sql: str) -> tuple[float, str]:
    """Median oracle seconds in a killable subprocess.

    Returns (seconds, status) where status is "ok", "timeout" (hard cap
    hit), or "error" (non-zero exit: bad SQL, OOM). Errors and timeouts
    both record the cap as the time but carry DISTINCT statuses in the
    artifact — a hard failure must not masquerade as a slow query."""
    try:
        out = subprocess.run(
            [sys.executable, "-c", _DUCK_RUNNER, SF_DIR],
            input=sql.encode(),
            capture_output=True,
            timeout=DUCK_TIMEOUT,
        )
        if out.returncode != 0:
            tail = out.stderr.decode(errors="replace")[-300:]
            sys.stderr.write(f"{name}: duckdb failed: {tail}\n")
            return float(DUCK_TIMEOUT), "error"
        # last whitespace-separated token: duckdb can emit notices and
        # (for long queries) a progress bar on the same stdout
        last = out.stdout.decode().strip().split()[-1]
        return float(json.loads(last)), "ok"
    except subprocess.TimeoutExpired:
        return float(DUCK_TIMEOUT), "timeout"


def main() -> None:
    from vault_8_hive_spark.benchlib import time_query
    from vault_8_hive_spark.catalog import optimize_tables
    from vault_8_hive_spark.queries import all_queries
    from vault_8_hive_spark.session import get_spark

    spark = get_spark(app_name="native-sf-bench")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    optimize_tables(spark, SF_DIR, chunks=4)

    # SPARK_GRAFT_PROBE_QUERIES overrides the measured set (comma-
    # separated registry names) — same contract as tools/scale_probe.py,
    # used to probe specific rewrites at native SF without re-running the
    # whole headline set.
    override = os.environ.get("SPARK_GRAFT_PROBE_QUERIES")
    if override:
        names = [n.strip() for n in override.split(",") if n.strip()]
        registry = all_queries()
        bench_set = {n: registry[n] for n in names}
    else:
        bench_set = {
            n: q for n, q in sorted(all_queries().items()) if q.bench
        }
    for name, q in bench_set.items():  # warmup
        q.fn(spark, SF_DIR).toPandas()

    per: dict[str, float] = {}
    for name, q in bench_set.items():
        per[name] = round(time_query(spark, q, SF_DIR, runs=3), 4)
        print(f"spark {name} {per[name]}", file=sys.stderr, flush=True)

    duck: dict[str, float] = {}
    dnf: dict[str, str] = {}
    for name, q in bench_set.items():
        d, status = duck_time(name, q.oracle)
        duck[name] = round(d, 4)
        if status != "ok":
            dnf[name] = status
        print(f"duck {name} {duck[name]}{'' if status == 'ok' else ' DNF:' + status}",
              file=sys.stderr, flush=True)

    total = round(sum(per.values()), 4)
    duck_total = round(sum(duck.values()), 4)
    print(json.dumps({
        "metric": "native_sf_bench",
        "sf_dir": SF_DIR,
        "value": total,
        "unit": "sec",
        "queries": per,
        "duckdb": duck,
        "duckdb_dnf": dnf,
        "duck_timeout_s": DUCK_TIMEOUT,
        "ratio": {n: round(per[n] / duck[n], 2) for n in per if duck[n] > 0},
        "duckdb_total": duck_total,
        "ratio_total": round(total / duck_total, 3) if duck_total else None,
        "n_queries": len(per),
    }))


if __name__ == "__main__":
    main()
