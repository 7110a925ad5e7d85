#!/usr/bin/env python
"""Scale probe: do the engine's plans (and their DuckDB ratios) hold when
the data grows 5x?

Builds a synthetic "sf0.5" under .work by replicating the driver's sf0.1
tables 5x with key offsets (joins stay key-correct), per-replica word
tags on document text (so near-dup structure does not change — replicas
must not look like duplicates of each other), and vec_id offsets for the
embedding corpus. Then runs the comparable headline queries through BOTH
engines on the SAME generated files (fresh-build-per-run methodology,
identical to bench.py — see vault_8_hive_spark/benchlib.py) and prints
one JSON line with both engines' end-to-end times and their ratios.

This is measurement tooling, not part of the query surface: the driver's
tables remain the only correctness inputs.

Usage: python tools/scale_probe.py [replicas]
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
REPLICAS = int(sys.argv[1]) if len(sys.argv) > 1 else 5

COMPARABLE = (
    "agg_basic",
    "events_sessionize",
    "events_tumbling_hourly",
    "local_supplier_volume",
    "pricing_summary",
    "text_minhash_lsh",
    "top_segment_revenue",
    "vec_cosine_topk",
    "win_topk_per_group",
)
# Override the measured set (comma-separated query names). The replica
# word-tagging (below) prefixes every document token EXCEPT the BM25
# fixed query terms (imported from queries/text.py so they stay in
# sync), so text_bm25_search is comparable on replicated text too: its
# terms survive replication with df and tf scaling linearly, while all
# other tokens stay replica-unique (near-dup structure unchanged).
_env_set = os.environ.get("SPARK_GRAFT_PROBE_QUERIES")
if _env_set:
    COMPARABLE = tuple(n.strip() for n in _env_set.split(",") if n.strip())

# key column -> offset stride per replica (large enough to never collide)
_KEY_OFFSETS = {
    "o_orderkey": 1_000_000_000,
    "l_orderkey": 1_000_000_000,
    "o_custkey": 100_000_000,
    "c_custkey": 100_000_000,
    "l_suppkey": 10_000_000,
    "s_suppkey": 10_000_000,
    "l_partkey": 100_000_000,
    "p_partkey": 100_000_000,
    "event_id": 1_000_000_000,
    "user_id": 100_000_000,
    "doc_id": 10_000_000,
    "vec_id": 10_000_000,
}
_REPLICATED = (
    "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def build(spark, dst: str) -> None:
    from pyspark.sql import functions as F

    from vault_8_hive_spark.session import prep

    prep(spark)
    os.makedirs(dst, exist_ok=True)
    for name in ("region", "nation"):
        spark.read.parquet(f"{SRC_SF}/{name}.parquet").write.mode("overwrite").parquet(
            f"{dst}/{name}.parquet"
        )
    for name in _REPLICATED:
        raw = spark.read.parquet(f"{SRC_SF}/{name}.parquet")
        if name == "events":
            # materialize a session-tz timestamp (whatever encoding the
            # landing file shipped — int64 nanos or micros-NTZ)
            from vault_8_hive_spark.catalog import normalize_events_ts

            raw = normalize_events_ts(raw)
        parts = []
        for r in range(REPLICAS):
            df = raw
            for col, stride in _KEY_OFFSETS.items():
                if col in df.columns:
                    df = df.withColumn(col, F.col(col) + F.lit(r * stride))
            if name == "documents" and "text" in df.columns:
                # tag every word per replica: replicas must not become
                # near-duplicates of each other (that would change the
                # dedup workload's shape, not just its size). EXCEPT the
                # BM25 query terms — a negative lookahead leaves those
                # untagged so fixed-term search queries stay comparable
                # on the replicated corpus.
                from vault_8_hive_spark.queries.text import _BM25_QUERIES

                protected = sorted(
                    {t for _qid, terms in _BM25_QUERIES for t in terms}
                )
                alt = "|".join(protected)
                df = df.withColumn(
                    "text",
                    F.regexp_replace(
                        "text", f"(^| )(?!(?:{alt})\\b)", f"$1r{r}"
                    ),
                )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(8).write.mode("overwrite").parquet(f"{dst}/{name}.parquet")


def main() -> None:
    import duckdb

    from vault_8_hive_spark.queries import all_queries
    from vault_8_hive_spark.session import get_spark

    spark = get_spark(app_name="scale-probe")
    # Latency mode (AQE off, 8 partitions) only while inputs stay sub-GB —
    # SCALE.md documents that mode as wrong above ~1 GB, and it shows at
    # 25x: the static planner broadcast-builds a 1.4M-row filtered orders
    # side in top_segment_revenue (5.2 s/run); the session's cluster
    # posture (AQE on, partitions ~ cores) re-plans it at runtime (1.5 s).
    if REPLICAS <= 5:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "8")

    dst = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".work", f"scale_probe_x{REPLICAS}",
    )
    if not os.path.exists(os.path.join(dst, "embeddings.parquet")):
        build(spark, dst)

    from vault_8_hive_spark.benchlib import time_query

    qs = all_queries()
    spark_times: dict[str, float] = {}
    for name in COMPARABLE:
        qs[name].fn(spark, dst).toPandas()  # warm: JIT/codegen/footers
    for name in COMPARABLE:
        spark_times[name] = round(time_query(spark, qs[name], dst), 4)

    conn = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        conn.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{dst}/{t}.parquet/*.parquet')"
        )
    duck_times: dict[str, float] = {}
    for name in COMPARABLE:
        sql = qs[name].oracle
        conn.execute(sql).df()  # warm
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            conn.execute(sql).df()
            runs.append(time.perf_counter() - t0)
        duck_times[name] = round(statistics.median(runs), 4)

    ratios = {n: round(spark_times[n] / duck_times[n], 2) for n in COMPARABLE}
    print(json.dumps({"replicas": REPLICAS, "spark": spark_times,
                      "duckdb": duck_times, "ratio": ratios,
                      "spark_total": round(sum(spark_times.values()), 3),
                      "duckdb_total": round(sum(duck_times.values()), 3)}))


if __name__ == "__main__":
    main()
