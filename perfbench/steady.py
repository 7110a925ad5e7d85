#!/usr/bin/env python3
"""Steadiness check: run a workload once per seed with BENCHMARK.json's
command and report, for every metric, the median and the spread between
the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``).

    python3 perfbench/steady.py --workload headline --seeds 1-10 [--trace 0]

From the repository root; writes every run's last line and the summary to
``.perfbench/out/steady-<workload>-t<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    runs = []
    for seed in range(lo, hi + 1):
        cmd = SPEC["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=HERE.parent)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = out.stdout.strip().splitlines()
        last = json.loads(lines[-1])
        runs.append({"seed": seed, **json.loads(lines[-2]), **last})
        vals = {k: round(v["value"], 3) for k, v in last["metrics"].items()}
        print(f"seed {seed}: correct={last['correct']} attempted={last['attempted']} "
              f"failed={last['failed']} {vals}", flush=True)
    summary = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4)
        summary[name] = {"median": med, "iqr_share": (q3 - q1) / med if med else None,
                         "min": min(values), "max": max(values)}
        print(f"{name:28s} median {med:10.4f}  iqr/median {summary[name]['iqr_share']}")
    per_query = {}
    for q in runs[0]["stamp"]["query_s"]:
        per_run = [statistics.median(r["stamp"]["query_s"][q]) for r in runs]
        duck = [r["stamp"]["duckdb_s"][q] for r in runs]
        per_query[q] = {"median_s": statistics.median(per_run),
                        "duckdb_median_s": statistics.median(duck)}
        print(f"  {q:28s} median {per_query[q]['median_s']:.3f} s"
              f"  duckdb {per_query[q]['duckdb_median_s']:.3f} s")
    summary["_per_query"] = per_query
    steal = [round(r["stamp"]["steal_share"], 4) for r in runs]
    print(f"host steal share per run: {steal}")
    fail_share = [r["failed"] / r["attempted"] for r in runs]
    print(f"failed share per run: {sorted(set(fail_share))}")
    dest = HERE.parent / ".perfbench" / "out" / f"steady-{args.workload}-t{args.trace}.json"
    dest.parent.mkdir(parents=True, exist_ok=True)
    dest.write_text(json.dumps({"runs": runs, "summary": summary}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
