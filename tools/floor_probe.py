#!/usr/bin/env python
"""Floor-crossover probe: do the scheduling-floor-priced queries
(agg_basic, events_tumbling_hourly) converge toward DuckDB once the
per-query work dwarfs the fixed per-job overhead?

Replicates ONLY the tables those two queries touch (customer x R1 with
key offsets, events x R2 with event_id/user_id offsets; nation/region
copied) to .work/floor_probe_c{R1}_e{R2}, then times the Spark query vs
its DuckDB oracle on the same files — fresh-build methodology identical
to bench.py. Measurement tooling only; run exclusively.

Usage: python tools/floor_probe.py [customer_replicas] [events_replicas]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SRC_SF = "/root/testdata/sf0.1"


def build(spark, dst: str, r_cust: int, r_events: int) -> None:
    from pyspark.sql import functions as F

    from vault_8_hive_spark.catalog import normalize_events_ts
    from vault_8_hive_spark.session import prep

    prep(spark)
    os.makedirs(dst, exist_ok=True)
    for name in ("region", "nation"):
        spark.read.parquet(f"{SRC_SF}/{name}.parquet").write.mode("overwrite").parquet(
            f"{dst}/{name}.parquet"
        )
    # Replicate via crossJoin with a replica range (one operator, not an
    # R-way union — a 1000-branch union plan is a Catalyst stress test,
    # not a data builder).
    cust = spark.read.parquet(f"{SRC_SF}/customer.parquet")
    reps = spark.range(r_cust).withColumnRenamed("id", "__r")
    (
        cust.crossJoin(F.broadcast(reps))
        .withColumn("c_custkey", F.col("c_custkey") + F.col("__r") * 100_000_000)
        .drop("__r")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{dst}/customer.parquet")
    )

    # repartition BEFORE the multiplying crossJoin: the landing file is
    # one row group = one task, which would generate all R x N rows on a
    # single thread.
    ev = normalize_events_ts(spark.read.parquet(f"{SRC_SF}/events.parquet")).repartition(32)
    reps = spark.range(r_events).withColumnRenamed("id", "__r")
    (
        ev.crossJoin(F.broadcast(reps))
        .withColumn("event_id", F.col("event_id") + F.col("__r") * 1_000_000_000)
        .withColumn("user_id", F.col("user_id") + F.col("__r") * 100_000_000)
        .drop("__r")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{dst}/events.parquet")
    )


def main() -> None:
    import duckdb

    from vault_8_hive_spark.benchlib import time_query
    from vault_8_hive_spark.queries import all_queries
    from vault_8_hive_spark.session import get_spark

    r_cust = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    r_events = int(sys.argv[2]) if len(sys.argv) > 2 else 300

    dst = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".work", f"floor_probe_c{r_cust}_e{r_events}",
    )
    if not os.path.exists(os.path.join(dst, "events.parquet", "_SUCCESS")):
        if "--build-only" in sys.argv:
            spark = get_spark(app_name="floor-probe-build")
            build(spark, dst, r_cust, r_events)
            spark.stop()
            return
        # Build in a CHILD process: timing in the same JVM that just wrote
        # 45M rows measures that build's GC/ContextCleaner backlog, not
        # the query (measured 5x inflation — see the memory-exclusivity
        # note in BASELINE.md methodology).
        import subprocess

        subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             str(r_cust), str(r_events), "--build-only"],
            check=True,
        )

    spark = get_spark(app_name="floor-probe")  # cluster posture: AQE on

    qs = all_queries()
    names = ("agg_basic", "events_tumbling_hourly")
    out: dict = {"customer_replicas": r_cust, "events_replicas": r_events}
    for name in names:
        qs[name].fn(spark, dst).toPandas()  # warm
        out.setdefault("spark", {})[name] = round(time_query(spark, qs[name], dst, runs=5), 4)

    conn = duckdb.connect()
    for t in ("region", "nation", "customer", "events"):
        conn.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{dst}/{t}.parquet/*.parquet')"
        )
    for name in names:
        sql = qs[name].oracle
        conn.execute(sql).df()  # warm
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            conn.execute(sql).df()
            runs.append(time.perf_counter() - t0)
        out.setdefault("duckdb", {})[name] = round(statistics.median(runs), 4)
    out["ratio"] = {
        n: round(out["spark"][n] / out["duckdb"][n], 2) for n in names
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
