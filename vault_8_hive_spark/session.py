"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
settings are the documented starting point for a multi-executor cluster at
the 100 TB design point (see SCALE.md): AQE on (runtime re-planning, skew
join splitting, partition coalescing), UTC session timezone (oracle
comparability), Arrow for every Python boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def _driver_mem() -> str:
    """Local-mode JVM heap: $SPARK_GRAFT_DRIVER_MEM, else half the
    machine's physical memory, at most 24g. A heap cap above physical
    memory lets the JVM grow its heap instead of collecting until the
    kernel OOM-kills it (seen mid-suite on a 15 GB box under 24g)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, phys_mb // 2)}m"


def get_spark(app_name: str = "vault-8-hive-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Shuffle partitions default to the core count: at local scale every
    partition stays in memory; on a real cluster this is overridden to
    ~2-3x total executor cores (and AQE coalesces down after the fact).
    """
    n = cpus or _cpus()
    # Export the protobuf-shim PYTHONPATH BEFORE the JVM launches so
    # transformWithStateInPandas workers inherit it (no-op if the machine
    # lacks the on-disk SDK protobuf; see compat/protobuf_alias.py).
    from .compat.protobuf_alias import ensure_tws_env

    ensure_tws_env()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", _driver_mem())
        # UI off for bench hygiene; SPARK_GRAFT_UI=1 turns it on for the
        # stage-timing probe (tools/stage_probe.py reads the REST API).
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false")
    )
    return builder.getOrCreate()


def prep(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable session conf the engine depends on.

    Called at the top of every registered query so results are correct even
    when the caller (e.g. the verify driver) built its own SparkSession.
    Only CORRECTNESS-critical runtime keys belong here — performance knobs
    stay in get_spark()/bench so callers can tune without prep undoing it.
    """
    # Read-before-write: an unconditional conf.set invalidates the
    # session's plan/codegen caches and costs ~0.5s of recompilation on
    # the next query — a no-op set must stay a true no-op.
    # (no default arg: conf.get validates defaults for this key and throws
    # on an empty string when the key is unset)
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Some driver rounds ship events.parquet as TIMESTAMP(NANOS), which
    # vanilla Spark rejects; with this conf the raw int64 comes through
    # and catalog.normalize_events_ts converts to micros (matching DuckDB,
    # which truncates parquet nanos). Harmless when the landing file is
    # already micros (current rounds) — normalize_events_ts branches on
    # the observed dtype.
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def materialize_once(df: DataFrame, *keys, n: int | None = None) -> DataFrame:
    """`df` materialized once per execution, hash-partitioned on `keys`
    (into `n` partitions, else the session default) when any are given.

    The engine's one per-run materialization point:
    - the checkpoint is lazy, so it materializes inside the caller's
      action (no extra driver round-trip, no work at build time);
    - it is a barrier no optimizer rule crosses, so every consumer reads
      the same blocks and the input is evaluated once, however the
      consumers are projected or filtered;
    - it is not persist(): a CacheManager entry would match the canonical
      plan of every later fresh build of the same query and serve it the
      first build's blocks, whereas each build here derives a fresh RDD
      and recomputes;
    - its blocks are released with the DataFrame (ContextCleaner), so no
      release scope is needed.
    """
    if keys:
        df = df.repartition(n, *keys) if n else df.repartition(*keys)
    return df.localCheckpoint(eager=False)
