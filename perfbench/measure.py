"""One workload run inside the program's process (started by run.py).

Calls only the program's public functions: ``session.get_spark``,
``catalog.optimize_tables``, each registered ``Query.fn`` and the returned
DataFrame's ``queryExecution().executedPlan()`` and ``toPandas()``. The
session is used exactly as ``get_spark`` builds it. Writes the timings,
spans and results to ``--out`` for run.py to check and summarize.

Each query execution is one closed-loop operation: build a fresh
DataFrame, force the physical plan, pull the result into pandas. Its
wall time and the CPU time of the program's processes are read around
it, and the timed passes run back to back. One more untimed pass after
them reads the JVM's heap occupancy after full collections following
each execution: the live set with that query's plan still referenced.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import sys
import time
from pathlib import Path

import procstat
from workloads import WORKLOADS

ROOT = Path(__file__).resolve().parent.parent
WARMUP = 1  # untimed passes before the timed ones
# At least MIN_TIMED timed passes: with two, each query's median would
# take in the first timed pass, which is still slowed by JIT warm-up, and
# a slightly slower run would be measured on a slower pass as well.
MIN_TIMED = 3


class Py4jCounter:
    """Counts commands sent over py4j, by wrapping the client's send."""

    def __init__(self) -> None:
        self.calls = 0
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send(conn, command, *a, _orig=orig, **kw):
                self.calls += 1
                return _orig(conn, command, *a, **kw)

            cls.send_command = send


class Jvm:
    """JMX reads through the gateway (outside every timed window)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self.memory = mf.getMemoryMXBean()
        self.gcs = list(mf.getGarbageCollectorMXBeans())
        self.system = jvm.java.lang.System
        self.pid = procstat.jvm_pid()

    def gc_s(self) -> float:
        return sum(max(0, g.getCollectionTime()) for g in self.gcs) / 1000.0

    def heap_after_gc_mb(self) -> float:
        """Heap in use after a full collection, once the ContextCleaner
        has dropped the blocks of plans released before it: the first
        collection lets the cleaner act, the second frees what it drops."""
        self.system.gc()
        time.sleep(0.2)
        self.system.gc()
        return self.memory.getHeapMemoryUsage().getUsed() / 2**20

    def block_mb(self) -> float:
        """RDD blocks (localCheckpoint data) held in the block store."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def plan_counts(df) -> dict:
    """Exchange nodes of the executed (final adaptive) plan, and the
    codegen stage count from plans/explain."""
    import re

    from vault_8_hive_spark.plans.explain import codegen_stage_count

    text = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    return {
        "exchanges": len(re.findall(r"(?<![A-Za-z])(?:Broadcast)?Exchange\b", text)),
        "codegen_stages": codegen_stage_count(df),
    }


def run_pass(spark, jvm, queries, sf_dir, label, trace, py4j, results, read_heap=False):
    """One pass over the workload; returns its record."""
    import gc

    from vault_8_hive_spark.plans.explain import parquet_scans

    sc = spark.sparkContext
    jcpu0, gc0 = procstat.cpu_s(jvm.pid), jvm.gc_s()
    t_start = time.time()
    rec = {"label": label, "queries": []}
    for q in queries:
        span = {"query": q.name}
        try:
            if trace:
                sc.setLocalProperty("perfbench.span", f"{label}|{q.name}|build")
                calls0 = py4j.calls
            cpu0 = procstat.tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            t1 = time.perf_counter()
            if trace:
                span["py4j_calls"] = py4j.calls - calls0
                sc.setLocalProperty("perfbench.span", f"{label}|{q.name}|compile")
                t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            if trace:
                span["parquet_scans"] = parquet_scans(df)
                sc.setLocalProperty("perfbench.span", f"{label}|{q.name}|exec")
                span["plan_ready_epoch"] = time.time()
                t2 = time.perf_counter()
            pdf = df.toPandas()
            t3 = time.perf_counter()
            cpu1 = procstat.tree_cpu_s(os.getpid())
            span.update(
                cpu_s=cpu1 - cpu0,
                build_s=t1 - t0,
                compile_s=t2 - t1,
                wall_s=(t1 - t0) + (t2 - t1) + (t3 - t2),
                end_epoch=time.time(),
                rows=len(pdf),
            )
            if trace:
                sc.setLocalProperty("perfbench.span", None)
                span["egress_mb"] = float(pdf.memory_usage(deep=True).sum()) / 2**20
                span["checkpoint_mb"] = jvm.block_mb()
                span.update(plan_counts(df))
            if read_heap:
                span["heap_after_gc_mb"] = jvm.heap_after_gc_mb()
            results.append((label, q.name, pdf))
            del df, pdf
        except Exception as exc:  # a failed execution is counted, not fatal
            span["error"] = f"{type(exc).__name__}: {str(exc)[:400]}"
            if trace:
                sc.setLocalProperty("perfbench.span", None)
        gc.collect()
        rec["queries"].append(span)
    t_end = time.time()
    rec.update(
        wall_s=t_end - t_start,
        jvm_cpu_s=procstat.cpu_s(jvm.pid) - jcpu0,
        jvm_gc_s=jvm.gc_s() - gc0,
    )
    if trace:
        # Blocks still held once the pass's plans are unreferenced: up to
        # three collections, each followed by time for the ContextCleaner
        # to act on it.
        for _ in range(3):
            jvm.system.gc()
            time.sleep(0.5)
            rec["blocks_left_mb"] = jvm.block_mb()
            if not rec["blocks_left_mb"]:
                break
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True, help="time.monotonic() at launch")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    out = Path(args.out)
    py4j = Py4jCounter() if args.trace else None

    sys.path.insert(0, str(ROOT))
    t = time.perf_counter()
    from vault_8_hive_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{wl.name}")
    session_s = time.perf_counter() - t
    jvm = Jvm(spark)

    from vault_8_hive_spark.catalog import WORK_DIR, optimize_tables
    from vault_8_hive_spark.queries import all_queries

    t = time.perf_counter()
    optimize_tables(spark, args.data, tables=wl.tables)
    compact_s = time.perf_counter() - t
    opt_dir = Path(WORK_DIR) / Path(args.data).name / "opt"
    compact_mb = sum(f.stat().st_size for f in opt_dir.rglob("*") if f.is_file()) / 2**20

    registry = all_queries()
    queries = [registry[n] for n in wl.queries]
    results: list = []
    passes = []
    for i in range(WARMUP):
        passes.append(run_pass(spark, jvm, queries, args.data, f"w{i}", args.trace, py4j, results))
    setup_s = time.monotonic() - args.t0
    t_timed = time.monotonic()
    i = 0
    while i < MIN_TIMED or time.monotonic() - t_timed < args.seconds:
        passes.append(run_pass(spark, jvm, queries, args.data, f"p{i}", args.trace, py4j, results))
        i += 1
    if not args.trace:
        # Forced collections between timed executions would clear each
        # query's garbage off the clock, so the heap is read in a pass of
        # its own.
        passes.append(
            run_pass(spark, jvm, queries, args.data, "heap", 0, None, results, read_heap=True)
        )

    record = {
        "workload": wl.name,
        "trace": args.trace,
        "cores": spark.sparkContext.defaultParallelism,
        "session_s": session_s,
        "compact_s": compact_s,
        "compact_mb": compact_mb,
        "setup_s": setup_s,
        "jvm_gc_total_s": jvm.gc_s(),
        "passes": passes,
    }
    with open(out / "results.pkl", "wb") as fh:
        pickle.dump(results, fh)
    (out / "measure.json").write_text(json.dumps(record))
    procstat.stop_spark(spark)


if __name__ == "__main__":
    main()
