"""The traced run's per-layer split: joins the spans measure.py records
around each call into the program with Spark's per-task metrics from its
JSON event log, into one row per query execution and one set of
per-layer metrics per pass."""

from __future__ import annotations

import json
import statistics
from pathlib import Path

MB = 2**20

# Per-layer metric -> how a pass's value is formed from its query rows.
SUMMED = {
    "queries.build_s": "build_s",
    "queries.py4j_calls": "py4j_calls",
    "queries.build_jobs": "build_jobs",
    "plans.compile_s": "compile_s",
    "plans.parquet_scans": "parquet_scans",
    "plans.exchanges": "exchanges",
    "plans.codegen_stages": "codegen_stages",
    "catalog.scan_mb": "scan_mb",
    "exec.wall_s": "exec_wall_s",
    "exec.jobs": "jobs",
    "exec.stages": "stages",
    "exec.tasks": "tasks",
    "exec.task_s": "task_s",
    "exec.task_cpu_s": "task_cpu_s",
    "exec.task_gc_s": "task_gc_s",
    "exec.shuffle_write_mb": "shuffle_write_mb",
    "exec.shuffle_read_mb": "shuffle_read_mb",
    "exec.spill_mb": "spill_mb",
    "egress.s": "egress_s",
    "egress.rows": "rows",
    "egress.mb": "egress_mb",
}


def read_event_log(log_dir: Path) -> tuple[dict, dict]:
    """jobs: id -> {id, span, end, stages}; stages: id -> [task rows]."""
    jobs, stages = {}, {}
    for path in sorted(log_dir.iterdir()):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "id": ev["Job ID"],
                        "span": props.get("perfbench.span"),
                        "end": None,
                        "stages": ev["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    sr = m.get("Shuffle Read Metrics") or {}
                    stages.setdefault(ev["Stage ID"], []).append(
                        {
                            "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                            "run": m.get("Executor Run Time", 0) / 1000.0,
                            "cpu": m.get("Executor CPU Time", 0) / 1e9,
                            "gc": m.get("JVM GC Time", 0) / 1000.0,
                            "in": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                            "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            "sw": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "spill": m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return jobs, stages


def query_rows(record: dict, log_dir: Path) -> list[dict]:
    """One row per query execution with its per-layer split."""
    jobs, stages = read_event_log(log_dir)
    passes = record["passes"]
    # A stage a later job reuses (skipped there) belongs to the first job.
    first_job: dict[int, int] = {}
    for jid in sorted(jobs):
        for s in jobs[jid]["stages"]:
            first_job.setdefault(s, jid)

    def own_stages(job: dict) -> list[list[dict]]:
        return [stages.get(s, []) for s in job["stages"] if first_job[s] == job["id"]]

    # Jobs are attributed by the span property set before each phase; the
    # jobs of set-up (compaction) carry none.
    owned: dict[tuple[str, str], list[tuple[str, dict]]] = {}
    for job in jobs.values():
        if job["span"]:
            label, query, phase = job["span"].split("|")
            owned.setdefault((label, query), []).append((phase, job))
    rows = []
    for rec in passes:
        for span in rec["queries"]:
            if "error" in span:
                continue
            mine = owned.get((rec["label"], span["query"]), [])
            exec_jobs = [j for phase, j in mine if phase == "exec"]
            tasks_by_stage = [ts for _, j in mine for ts in own_stages(j)]
            exec_tasks = [t for j in exec_jobs for ts in own_stages(j) for t in ts]
            tasks = [t for ts in tasks_by_stage for t in ts]
            last_end = max((j["end"] for j in exec_jobs if j["end"]), default=None)
            ready = span["plan_ready_epoch"]
            exec_wall = max(0.0, last_end - ready) if last_end else 0.0
            skews = [
                max(t["dur"] for t in ts) / max(statistics.median(t["dur"] for t in ts), 1e-3)
                for ts in tasks_by_stage
                if len(ts) > 1
            ]
            rows.append(
                {
                    "pass": rec["label"],
                    "query": span["query"],
                    "wall_s": span["wall_s"],
                    "build_s": span["build_s"],
                    "py4j_calls": span["py4j_calls"],
                    "build_jobs": sum(1 for phase, _ in mine if phase != "exec"),
                    "compile_s": span["compile_s"],
                    "parquet_scans": span["parquet_scans"],
                    "exchanges": span["exchanges"],
                    "codegen_stages": span["codegen_stages"],
                    "exec_wall_s": exec_wall,
                    "egress_s": span["end_epoch"] - max(ready, last_end or ready),
                    "jobs": len(mine),
                    "stages": sum(1 for ts in tasks_by_stage if ts),
                    "tasks": len(tasks),
                    "task_s": sum(t["run"] for t in tasks),
                    "exec_task_s": sum(t["run"] for t in exec_tasks),
                    "task_cpu_s": sum(t["cpu"] for t in tasks),
                    "task_gc_s": sum(t["gc"] for t in tasks),
                    "scan_mb": sum(t["in"] for t in tasks) / MB,
                    "shuffle_read_mb": sum(t["sr"] for t in tasks) / MB,
                    "shuffle_write_mb": sum(t["sw"] for t in tasks) / MB,
                    "spill_mb": sum(t["spill"] for t in tasks) / MB,
                    "max_task_skew": max(skews, default=1.0),
                    "rows": span["rows"],
                    "egress_mb": span["egress_mb"],
                    "checkpoint_mb": span["checkpoint_mb"],
                }
            )
    return rows


def pass_metrics(record: dict, rows: list[dict], cores: int) -> tuple[dict, list[str]]:
    """Per-layer metrics, each the median over the timed passes, and the
    passes that break a bound reached by two independent paths."""
    per_pass = []
    broken = []
    for rec in record["passes"]:
        mine = [r for r in rows if r["pass"] == rec["label"]]
        m = {name: sum(r[key] for r in mine) for name, key in SUMMED.items()}
        exec_task_s = sum(r["exec_task_s"] for r in mine)
        m["exec.busy_share"] = exec_task_s / max(m["exec.wall_s"] * cores, 1e-9)
        m["exec.max_task_skew"] = max((r["max_task_skew"] for r in mine), default=1.0)
        m["operators.checkpoint_mb"] = max((r["checkpoint_mb"] for r in mine), default=0.0)
        m["operators.blocks_left_mb"] = rec["blocks_left_mb"]
        m["jvm.gc_s"] = rec["jvm_gc_s"]
        if m["exec.task_s"] > rec["wall_s"] * cores:
            broken.append(f"{rec['label']}: task_s {m['exec.task_s']:.3f} > wall x cores")
        if rec["jvm_cpu_s"] < m["exec.task_cpu_s"]:
            broken.append(
                f"{rec['label']}: JVM cpu {rec['jvm_cpu_s']:.3f} < task cpu {m['exec.task_cpu_s']:.3f}"
            )
        if rec["label"].startswith("p"):
            per_pass.append(m)
    metrics = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    metrics["session.start_s"] = record["session_s"]
    metrics["catalog.compact_s"] = record["compact_s"]
    metrics["catalog.compact_mb"] = record["compact_mb"]
    return metrics, broken
