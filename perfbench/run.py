#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    env SPARK_GRAFT_CPUS=4 SPARK_GRAFT_DRIVER_MEM=2g python3 perfbench/run.py
        --workload headline --seed 1 --seconds 12 --trace 0

From the repository root. Draws the workload's inputs from ``--seed``
(cached under ``.perfbench/data``), runs the workload in a fresh process
(``measure.py``) on ``local[$SPARK_GRAFT_CPUS]`` with a
``$SPARK_GRAFT_DRIVER_MEM`` heap (BENCHMARK.json's command pins both),
checks every query execution against DuckDB, and prints as its last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` gives the end-to-end metrics; ``--trace 1``
runs with Spark's event log and py4j counting on and gives the
per-layer metrics. The line before it is the run's stamp (cpus, load,
host steal, JVM GC, revision).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
PROGRAM = ROOT / "vault_8_hive_spark"
CHILD_TIMEOUT_S = 160

sys.path.insert(0, str(HERE))
import check  # noqa: E402
import gen  # noqa: E402
import procstat  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def inputs(wl, seed: int) -> Path:
    """The workload's input draw for ``seed``, generated on first use.
    The directory is named after a digest of gen.py and the workload's
    generator parameters, so a change to either makes a new draw."""
    digest = hashlib.sha256((HERE / "gen.py").read_bytes())
    digest.update(repr((wl.scale, wl.doc_scale, wl.replicas)).encode())
    data = STATE / "data" / f"perfbench-{wl.name}-s{seed}-{digest.hexdigest()[:10]}"
    marker = data / "_ROWS.json"
    if not marker.exists():
        shutil.rmtree(data, ignore_errors=True)
        rows = gen.generate(data, seed, wl.scale, wl.doc_scale, wl.replicas)
        marker.write_text(json.dumps(rows))
    return data


def reset_program_state(data: Path) -> None:
    """Remove what the program keeps between processes for this input
    dir (its compacted copies under .work/<base name>), so every run
    starts from the same state and pays compaction."""
    shutil.rmtree(ROOT / ".work" / data.name, ignore_errors=True)


def revision() -> dict:
    """Git revision when the tree is a checkout, and a digest of the
    program's sources either way."""
    digest = hashlib.sha256()
    for path in sorted(PROGRAM.rglob("*.py")):
        digest.update(path.relative_to(ROOT).as_posix().encode())
        digest.update(path.read_bytes())
    try:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        rev = None
    return {"git": rev, "source_sha256": digest.hexdigest()[:16]}


def launch(args, data: Path, work: Path) -> dict:
    """Run measure.py in a fresh process; returns its record."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    submit = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if args.trace:
        (work / "eventlog").mkdir()
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{work / 'eventlog'}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env = dict(
        os.environ,
        SPARK_LOCAL_DIRS=str(tmp),
        TMPDIR=str(tmp),
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        PYTHONHASHSEED="0",
    )
    env.pop("SPARK_GRAFT_UI", None)
    cmd = [
        sys.executable, str(HERE / "measure.py"),
        "--workload", args.workload, "--data", str(data), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--out", str(work),
    ]
    with open(work / "measure.log", "w") as log:
        t0 = time.monotonic()
        proc = subprocess.Popen(
            cmd + ["--t0", repr(t0)], cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            reap_group(proc.pid)
    if code != 0:
        tail = (work / "measure.log").read_text(errors="replace")[-3000:]
        raise SystemExit(f"measure.py failed (exit {code}):\n{tail}")
    return json.loads((work / "measure.json").read_text())


def reap_group(pgid: int) -> None:
    """Stop whatever the run's process group left behind and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        if not procstat.group(pgid):
            return
        time.sleep(0.1)


def verify(record: dict, results: list, expected: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems): every execution, warm-up included;
    an execution that raised or returned a wrong result failed."""
    attempted = failed = 0
    problems = []
    for rec in record["passes"]:
        for span in rec["queries"]:
            attempted += 1
            if "error" in span:
                failed += 1
                problems.append(f"{rec['label']} {span['query']}: {span['error']}")
    for label, name, pdf in results:
        detail = check.check(name, pdf, expected[name])
        if detail:
            failed += 1
            problems.append(f"{label} {name}: wrong result: {detail}")
    return attempted, failed, problems


def query_times(record: dict, key: str = "wall_s") -> dict[str, list[float]]:
    """Each query's ``key`` (time or CPU seconds) over the timed passes."""
    times: dict[str, list[float]] = {}
    for p in record["passes"]:
        if p["label"].startswith("p"):
            for s in p["queries"]:
                if key in s:
                    times.setdefault(s["query"], []).append(s[key])
    return times


def pass_time(record: dict, key: str = "wall_s") -> float:
    """One pass's time: the sum over its queries of each query's median
    over the timed passes (robust to a slow execution in any one pass)."""
    return sum(statistics.median(t) for t in query_times(record, key).values())


def end_to_end(record: dict) -> dict:
    heaps = [
        s["heap_after_gc_mb"]
        for p in record["passes"]
        for s in p["queries"]
        if "heap_after_gc_mb" in s
    ]
    return {
        "pass_s": pass_time(record),
        "setup_s": record["setup_s"],
        "cpu_s": pass_time(record, "cpu_s"),
        "peak_heap_mb": max(heaps),
    }


def declared(kind: str, values: dict) -> dict:
    """Every metric BENCHMARK.json declares of ``kind``, with its unit."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())[kind]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (PROGRAM / "queries" / "__init__.py").is_file():
        print(f"perfbench: the program ({PROGRAM.name}/) is not beside {HERE.name}/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    wl = WORKLOADS[args.workload]
    steal0, total0 = procstat.cpu_times()
    load0 = procstat.loadavg()
    data = inputs(wl, args.seed)
    expected, duckdb_s = check.oracle_results(data, wl.queries)
    reset_program_state(data)
    work = STATE / "runs" / f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        record = launch(args, data, work)
        with open(work / "results.pkl", "rb") as fh:
            results = pickle.load(fh)
        attempted, failed, problems = verify(record, results, expected)
        broken = []
        if args.trace:
            import layers

            rows = layers.query_rows(record, work / "eventlog")
            per_layer, broken = layers.pass_metrics(record, rows, record["cores"])
            metrics = declared("per_layer", per_layer)
            (STATE / "out").mkdir(parents=True, exist_ok=True)
            (STATE / "out" / f"trace-{wl.name}-s{args.seed}.json").write_text(
                json.dumps({"rows": rows, "metrics": per_layer}, indent=1)
            )
        else:
            metrics = declared("end_to_end", end_to_end(record))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        reset_program_state(data)
    steal1, total1 = procstat.cpu_times()
    timed = [p for p in record["passes"] if p["label"].startswith("p")]
    stamp = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": os.cpu_count(),
        "spark_cores": record["cores"],
        "loadavg_start": load0,
        "loadavg_end": procstat.loadavg(),
        "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        "jvm_gc_s": record["jvm_gc_total_s"],
        "session_s": record["session_s"],
        "compact_s": record["compact_s"],
        "warmup_s": [
            round(sum(s.get("wall_s", 0.0) for s in p["queries"]), 4)
            for p in record["passes"] if p["label"].startswith("w")
        ],
        "pass_sums": [round(sum(s.get("wall_s", 0.0) for s in p["queries"]), 4) for p in timed],
        "query_s": {q: [round(t, 4) for t in ts] for q, ts in query_times(record).items()},
        "duckdb_s": duckdb_s,
        "revision": revision(),
        "problems": problems + broken,
    }
    result = {
        "correct": not problems and not broken,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    (STATE / "out").mkdir(parents=True, exist_ok=True)
    (STATE / "out" / f"{wl.name}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps({"stamp": stamp, "result": result})
    )
    if args.trace:
        print(overhead_line(wl.name, args.seed, pass_time(record)))
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))
    return 0


def overhead_line(name: str, seed: int, traced: float) -> str:
    """Tracing overhead against the untraced run of the same draw, when
    one has been made in this checkout."""
    plain = STATE / "out" / f"{name}-s{seed}-t0.json"
    if not plain.exists():
        return f"tracing overhead: no untraced run of {name} seed {seed} here (traced pass_s {traced:.3f})"
    base = json.loads(plain.read_text())["result"]["metrics"]["pass_s"]["value"]
    return f"tracing overhead: pass_s {traced:.3f} traced vs {base:.3f} untraced ({traced / base - 1:+.1%})"


if __name__ == "__main__":
    sys.exit(main())
