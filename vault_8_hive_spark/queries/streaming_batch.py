"""Streaming operators exposed as driver-checkable entries: each runs a
real Structured Streaming query (file source, availableNow trigger, memory
sink) and returns the final sink — batch-replay equivalence makes the
DuckDB oracle applicable (SURVEY.md §5.2 item 2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec, round4
from ..session import prep
from ..streaming.ops import run_to_memory, stateful_user_stats, stream_events
from . import register


@register(
    "stream_tumbling_counts",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) AND abs(value) < 1e12 THEN value END AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_value
FROM events
WHERE ts IS NOT NULL AND ts >= TIMESTAMP '2000-01-01' AND ts < TIMESTAMP '2200-01-01'
GROUP BY 1, 2
""",
    tags=("streaming", "window-time"),
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation as a real streaming query;
    complete output mode emits every window, so an in-order replay equals
    the batch aggregate (events_tumbling_hourly) exactly."""
    prep(spark)
    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        round4(F.sum(dec("value", "decimal(18,4)"))).alias("total_value"),
    )
    out = run_to_memory(agg, "complete")
    return out.select(
        F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value"
    )


@register(
    "stream_session_window",
    oracle="""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts - LAG(ts) OVER w >= INTERVAL 30 minutes
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WHERE ts IS NOT NULL AND ts >= TIMESTAMP '2000-01-01' AND ts < TIMESTAMP '2200-01-01'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seq
  FROM marked
)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) + INTERVAL 30 minutes AS session_end,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, seq
""",
    tags=("streaming", "session-window"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (session_window, 30-min gap).
    Oracle replays the merge semantics in batch SQL: a session extends
    while successive events arrive strictly within the gap; window end =
    last event + gap."""
    prep(spark)
    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out = run_to_memory(agg, "complete")
    return out.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    )


@register(
    "stream_dedup_watermark",
    oracle="""
SELECT event_type, COUNT(*) AS n_unique
FROM events
WHERE ts IS NOT NULL AND ts >= TIMESTAMP '2000-01-01' AND ts < TIMESTAMP '2200-01-01'
GROUP BY event_type
""",
    tags=("streaming", "dedup"),
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: the stream is unioned with a full copy of
    itself (every event duplicated), then dropDuplicatesWithinWatermark on
    event_id reduces it back — counts must equal the clean batch counts."""
    prep(spark)
    ev = stream_events(spark, sf_dir)
    doubled = ev.unionByName(stream_events(spark, sf_dir))
    deduped = doubled.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))
    return run_to_memory(agg, "complete")


@register(
    "stream_stateful_user_stats",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       MAX(CASE WHEN isfinite(value) AND abs(value) < 1e12 THEN value END) AS max_value
FROM events
WHERE ts IS NOT NULL AND ts >= TIMESTAMP '2000-01-01' AND ts < TIMESTAMP '2200-01-01'
GROUP BY user_id
""",
    tags=("streaming", "stateful", "udf"),
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing (applyInPandasWithState): running
    per-user count/max. With the whole file in one availableNow batch the
    final update per user equals the batch aggregate (max over doubles is
    exact — no float-order concern)."""
    prep(spark)
    ev = stream_events(spark, sf_dir)
    return run_to_memory(stateful_user_stats(ev), "update")


@register(
    "stream_static_join",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) AND abs(value) < 1e12 THEN value END AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
WHERE ts IS NOT NULL AND ts >= TIMESTAMP '2000-01-01' AND ts < TIMESTAMP '2200-01-01'
GROUP BY c_mktsegment
""",
    tags=("streaming", "join", "agg"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer dimension (broadcast - the static side is planned per
    micro-batch, so a dim-table update is picked up at the next batch),
    then a per-segment rollup.

    Scale: the stream side never shuffles for the join itself (broadcast
    hash join inside each micro-batch); only the 5-segment aggregate
    state crosses the exchange.
    """
    from ..catalog import table

    prep(spark)
    ev = stream_events(spark, sf_dir)
    cust = F.broadcast(table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"))
    joined = ev.join(cust, ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        round4(F.sum(dec("value", "decimal(18,4)"))).alias("total_value"),
    )
    return run_to_memory(agg, "complete")


_LATE_BASE = 1709251200  # 2024-03-01 00:00:00 UTC


def _events_split4(spark: SparkSession, sf_dir: str) -> str:
    """events.parquet range-split into 4 files — with maxFilesPerTrigger=1
    each file becomes one micro-batch, so multi-batch state handling is
    actually exercised (a single-file source would collapse to one batch)."""
    from ..catalog import work_dir

    src = work_dir(sf_dir, "events_split4")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .repartitionByRange(4, "event_id")
            .write.mode("overwrite")
            .parquet(src)
        )
    return src


def _late_fixture() -> tuple[list[tuple[int, int]], list[tuple[int, int]], list[tuple]]:
    """(phase-1 rows, phase-2 rows, expected emitted windows).

    Phase 1: 60 events in hour 0, 30 in hour 1, 11 in hour 2 (the last at
    02:59 drives the watermark to 02:29, closing hours 0 and 1).
    Phase 2: 20 LATE events back in hour 0 (must be dropped — their
    window closed in phase 1), 5 more hour-2 events (on time), and one
    far-future flush event that advances the watermark past hour 2.
    """
    p1 = [(i, _LATE_BASE + i * 60) for i in range(60)]  # hour 0
    p1 += [(100 + i, _LATE_BASE + 3600 + i * 60) for i in range(30)]  # hour 1
    p1 += [(200 + i, _LATE_BASE + 7200 + i * 60) for i in range(10)]  # hour 2
    p1.append((299, _LATE_BASE + 7200 + 59 * 60))  # 02:59 watermark driver
    p2 = [(300 + i, _LATE_BASE + i * 60) for i in range(20)]  # LATE: hour 0
    p2 += [(400 + i, _LATE_BASE + 7200 + 30 * 60 + i * 60) for i in range(5)]  # hour 2
    p2.append((499, _LATE_BASE + 36000))  # flush: hour 10
    expected = [
        ("2024-03-01 00:00:00", 60),
        ("2024-03-01 01:00:00", 30),
        ("2024-03-01 02:00:00", 16),
    ]
    return p1, p2, expected


@register(
    "stream_late_data_drop",
    oracle=(
        "SELECT CAST(window_start AS TIMESTAMP) AS window_start, "
        "CAST(n_events AS BIGINT) AS n_events FROM (VALUES "
        + ", ".join(f"('{w}', {n})" for w, n in _late_fixture()[2])
        + ") AS t(window_start, n_events)"
    ),
    tags=("streaming", "watermark", "late-data"),
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data drop, end to end and driver-checkable: two
    availableNow runs share one checkpoint, so the second run restores
    the first run's watermark (02:29) from state — its 20 hour-0 events
    arrive BELOW the watermark and are dropped, while its on-time hour-2
    events merge into the still-open window. Append mode emits each
    window exactly once, when the watermark passes its end; the flush
    event closes hour 2 and its own window never emits. The oracle is the
    hand-computed emitted set — any failure to drop (or double-emit)
    breaks the hash.

    Scale: this is the micro-shaped proof of the state-bounding contract
    streaming depends on at 100 TB — watermark state survives restarts
    via the checkpoint, and late data costs nothing but the drop."""
    import shutil

    from ..catalog import work_dir

    prep(spark)
    p1, p2, _ = _late_fixture()
    land = work_dir(sf_dir, "late_drop_landing")
    ckpt = work_dir(sf_dir, "late_drop_ckpt")
    sink = work_dir(sf_dir, "late_drop_out")
    for d in (land, ckpt, sink):
        shutil.rmtree(d, ignore_errors=True)

    def write_phase(rows: list[tuple[int, int]]) -> None:
        # one landing file per phase; the checkpoint's file log makes
        # run 2 read only the file added after run 1
        df = spark.createDataFrame(rows, "event_id long, epoch_s long")
        df.coalesce(1).write.mode("append").parquet(land)

    def run_phase() -> None:
        schema = spark.read.parquet(land).schema
        stream = spark.readStream.schema(schema).parquet(land)
        agg = (
            stream.withColumn("ts", F.timestamp_seconds("epoch_s"))
            .withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "n_events")
        )
        # File sink (not memory): the memory sink is not fault-tolerant,
        # so only a recoverable sink lets run 2 restore run 1's watermark
        # from the checkpoint — which is the behavior under test.
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_phase(p1)
    run_phase()
    write_phase(p2)
    run_phase()
    return spark.read.parquet(sink)


@register(
    "stream_foreach_batch_upsert",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) AND abs(value) < 1e12 THEN value END AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
""",
    tags=("streaming", "foreachBatch", "sink", "agg"),
)
def stream_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: the event stream is consumed one file per
    micro-batch (4 range-split files), and each batch APPENDS its partial
    per-user aggregate to a parquet target; the serving read compacts the
    partials into final totals.

    foreachBatch is at-least-once, so idempotency must come from the
    write: every partial row is stamped with its batch_id and written via
    dynamic partition overwrite into partition batch_id=N — a replayed
    micro-batch rewrites its own partition instead of appending a
    duplicate, so the compaction (sum over all partitions) can never
    double-count. Scale: each micro-batch ships a partial agg (bounded by
    distinct keys, not events); compaction is one shuffle at read or a
    periodic background rewrite.
    """
    import shutil

    from ..catalog import work_dir

    prep(spark)
    src = _events_split4(spark, sf_dir)
    target = work_dir(sf_dir, "user_totals_incremental")
    ckpt = target + "_ckpt"
    for d in (target, ckpt):
        shutil.rmtree(d, ignore_errors=True)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    from ..catalog import normalize_events_ts

    stream = normalize_events_ts(stream)

    q = (
        stream.writeStream.foreachBatch(partition_overwrite_upsert(target))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return compact_user_totals(spark, target)


def partition_overwrite_upsert(target: str):
    """The idempotent foreachBatch writer stream_foreach_batch_upsert
    sinks through, exposed for reuse (and for the crash-recovery /
    replayed-batch test in tests/test_streaming.py): each micro-batch's
    per-user partial aggregate lands in partition batch_id=N via dynamic
    partition overwrite, so an at-least-once redelivery rewrites its own
    partition instead of appending a duplicate."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(dec("value", "decimal(18,4)")).alias("value_dec"),
            )
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(target)
        )

    return upsert


def _has_parquet_files(target: str) -> bool:
    """True if the directory holds at least one parquet data file —
    the guard both foreachBatch serving reads use, because a zero-batch
    run (empty source slice) writes nothing and schema inference on the
    bare directory would abort."""
    if not os.path.isdir(target):
        return False
    return any(
        f.endswith(".parquet")
        for _, _, fs in os.walk(target)
        for f in fs
        if not f.startswith(("_", "."))
    )


def compact_user_totals(spark: SparkSession, target: str) -> DataFrame:
    """Serving read over the upsert target: sum the per-batch partials.
    Empty-slice guard: zero batches -> explicit partials schema (the
    upsert's aggregate shape) instead of schema inference on an empty
    directory."""
    if not _has_parquet_files(target):
        partials = spark.createDataFrame(
            [],
            "user_id bigint, n_events bigint, value_dec decimal(28,4), "
            "batch_id int",
        )
    else:
        partials = spark.read.parquet(target)
    return partials.groupBy("user_id").agg(
        F.sum("n_events").alias("n_events"),
        round4(F.sum("value_dec")).alias("total_value"),
    )


def stream_partial_agg(
    stream_df: DataFrame,
    partial_agg,
    sf_dir: str,
    name: str,
) -> DataFrame:
    """Drive an UNAGGREGATED stream to completion through a foreachBatch
    sink that aggregates each micro-batch EXECUTOR-SIDE before anything
    persists: the sink holds per-batch partial aggregates (bounded by the
    grouping keys), never raw joined/exploded rows — the pattern for
    sinking a stream whose per-batch row count is unbounded (a
    stream-stream join can emit quadratically many pairs per hot key).
    Partials land under partition batch_id=N via dynamic partition
    overwrite (same idempotency contract as partition_overwrite_upsert:
    an at-least-once redelivery rewrites its own partition). Returns the
    partials as a batch DataFrame for the caller's final merge."""
    import shutil

    from ..catalog import work_dir

    target = work_dir(sf_dir, name)
    ckpt = target + "_ckpt"
    for d in (target, ckpt):
        shutil.rmtree(d, ignore_errors=True)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            partial_agg(batch_df)
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(target)
        )

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = stream_df.sparkSession
    if not _has_parquet_files(target):
        # Empty-slice guard: an empty source fires ZERO micro-batches,
        # so the sink never writes and the target cannot be
        # schema-inferred. The partials schema is derivable without any
        # file: apply the same partial_agg to an empty static frame of
        # the stream's schema (plus the sink's batch_id column).
        return partial_agg(
            spark.createDataFrame([], stream_df.schema)
        ).withColumn("batch_id", F.lit(0).cast("int"))
    return spark.read.parquet(target)


@register(
    "stream_stream_join",
    oracle="""
WITH pairs AS (
  SELECT v.user_id, p.ts - v.ts AS gap
  FROM events v JOIN events p
    ON v.user_id = p.user_id
   AND v.event_type = 'view' AND p.event_type = 'purchase'
   AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
)
SELECT user_id, COUNT(*) AS n_attributed,
       CAST(ROUND(MAX(date_part('epoch', gap)), 0) AS DOUBLE) AS max_gap_s
FROM pairs GROUP BY user_id
""",
    tags=("streaming", "stream-stream-join", "watermark", "interval"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join (view -> purchase attribution): two
    watermarked event streams joined on user plus a time-range condition
    (purchase within 1 hour after the view) — the canonical streaming
    attribution/correlation shape, and the join kind where Spark's state
    store earns its keep: each side buffers only rows younger than
    watermark + range, so state is bounded by the time window however
    long the streams run.

    The availableNow file replay delivers all files in one micro-batch,
    so no state eviction can race a late partner and the result equals
    the batch interval join exactly — which is what makes the DuckDB
    oracle applicable. The pair stream (quadratic per hot user within
    the window — unbounded per batch) is sunk through stream_partial_agg,
    so every micro-batch is reduced to per-user partials executor-side
    and no unaggregated pair set ever reaches the driver."""
    prep(spark)
    views = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "30 minutes")
    )
    purchases = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    pairs = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND "
            "purchase_ts >= view_ts AND purchase_ts <= view_ts + interval 1 hour"
        ),
    ).select(
        F.col("v_user").alias("user_id"),
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )
    partials = stream_partial_agg(
        pairs,
        lambda b: b.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("pn"), F.max("gap_us").alias("pm")
        ),
        sf_dir,
        "ss_join_partials",
    )
    return partials.groupBy("user_id").agg(
        F.sum("pn").alias("n_attributed"),
        F.round(F.max("pm") / 1_000_000.0, 0).alias("max_gap_s"),
    )


@register(
    "stream_stream_left_outer",
    oracle="""
WITH v AS (
  SELECT user_id, event_id AS view_id, ts AS view_ts
  FROM events
  WHERE event_type = 'view' AND ts IS NOT NULL AND ts >= TIMESTAMP '2000-01-01' AND ts < TIMESTAMP '2200-01-01' AND user_id IS NOT NULL
),
p AS (
  SELECT user_id AS p_user, event_id AS purchase_id, ts AS purchase_ts
  FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL AND ts >= TIMESTAMP '2000-01-01' AND ts < TIMESTAMP '2200-01-01' AND user_id IS NOT NULL
),
pairs AS (
  SELECT v.user_id, v.view_id, p.purchase_id,
         p.purchase_ts - v.view_ts AS gap
  FROM v LEFT JOIN p
    ON v.user_id = p.p_user
   AND p.purchase_ts >= v.view_ts
   AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
)
SELECT user_id,
       COUNT(*) AS n_view_pairs,
       COUNT(purchase_id) AS n_attributed,
       COUNT(*) - COUNT(purchase_id) AS n_silent,
       CAST(ROUND(MAX(date_part('epoch', gap)), 0) AS DOUBLE) AS max_gap_s
FROM pairs GROUP BY user_id
""",
    tags=("streaming", "stream-stream-join", "outer", "watermark", "interval"),
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — "views with NO purchase
    within the hour" (the fleet dual: who went silent?). The subtle part
    is WHEN the null-extended row can be emitted: an unmatched view may
    only leave the state store after the watermark passes the end of its
    match interval (view_ts + 1h), because until then a matching purchase
    could still arrive. tests/test_streaming.py asserts that timing
    batch-by-batch.

    Because the watermark is min(maxEventTime) - delay over BOTH inputs,
    a plain end-of-file replay would leave the last ~90 minutes of
    unmatched views sitting in state forever (nothing ever advances the
    watermark past their interval end). The landing therefore appends one
    far-future FLUSH event per side (sentinel user_id -1, excluded from
    the result) — the streaming analog of closing the books: the final
    no-data micro-batch then evicts and null-extends every remaining real
    view, making the result equal the batch LEFT JOIN dual exactly, which
    is what the DuckDB oracle checks.

    Scale: the unbounded pair stream is reduced to per-user partials
    executor-side (stream_partial_agg) — state stays watermark-bounded,
    the sink stays key-bounded."""
    prep(spark)
    land = _flushed_events_landing(spark, sf_dir)
    schema = spark.read.parquet(land).schema
    stream = spark.readStream.schema(schema).parquet(land)
    views = _ss_views(stream)
    purchases = _ss_purchases(stream)
    pairs = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND "
            "purchase_ts >= view_ts AND purchase_ts <= view_ts + interval 1 hour"
        ),
        "leftOuter",
    ).select(
        F.col("v_user").alias("user_id"),
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )
    partials = stream_partial_agg(
        pairs,
        lambda b: b.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("pn"),
            F.count("purchase_id").alias("pa"),
            F.max("gap_us").alias("pm"),
        ),
        sf_dir,
        "ss_outer_partials",
    )
    return (
        partials.where(F.col("user_id") >= 0)  # drop the flush sentinel
        .groupBy("user_id")
        .agg(
            F.sum("pn").alias("n_view_pairs"),
            F.sum("pa").alias("n_attributed"),
            (F.sum("pn") - F.sum("pa")).alias("n_silent"),
            F.round(F.max("pm") / 1_000_000.0, 0).alias("max_gap_s"),
        )
    )


def _ss_views(stream: DataFrame) -> DataFrame:
    return (
        stream.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "30 minutes")
    )


def _ss_purchases(stream: DataFrame) -> DataFrame:
    return (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )


def _flushed_events_landing(spark: SparkSession, sf_dir: str) -> str:
    """Events landing with one far-future FLUSH sentinel per side (the
    watermark-advancing 'close the books' row both outer joins need);
    fingerprinted against the source so testdata regeneration rebuilds it."""
    import shutil

    from ..catalog import normalize_events_ts, work_dir

    land = work_dir(sf_dir, "ss_outer_landing")
    marker = os.path.join(land, "_FLUSHED")
    src = f"{sf_dir}/events.parquet"
    st = os.stat(src)
    fingerprint = f"{st.st_size}:{st.st_mtime_ns}"
    current = False
    try:
        with open(marker, encoding="utf-8") as fh:
            current = fh.read() == fingerprint
    except OSError:
        pass
    if not current:
        shutil.rmtree(land, ignore_errors=True)
        # stream-stream interval joins are keyed, event-time operators:
        # the landing declares the (ts, user) domain — a NULL in either
        # can never match (null-flood sweep, round 7), and the event
        # time is BOUNDED like stream_events' (an epoch-edge or
        # far-future row turns watermark survival into a batch-
        # scheduling artifact — extremes sweep); the batch-dual oracles
        # carry the same WHERE. The flush sentinel is derived from the
        # IN-DOMAIN max, so it stays just past the real data.
        ev = normalize_events_ts(spark.read.parquet(src)).where(
            F.col("ts").isNotNull()
            & (F.col("ts") >= F.lit("2000-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2200-01-01").cast("timestamp"))
            & F.col("user_id").isNotNull()
        )
        ev.write.mode("overwrite").parquet(land)
        mx = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
        import datetime

        if mx is None:
            # Empty-slice guard: an empty events landing still needs the
            # flush sentinels (they are what closes the stream-stream
            # join's watermark), anchored to a fixed instant instead of
            # max(ts) — which is NULL with no rows to flush after.
            mx = datetime.datetime(2024, 1, 1)
        flush_ts = mx + datetime.timedelta(days=10)
        flush = spark.createDataFrame(
            [
                (-1, flush_ts, -1, "view", 0.0, "{}"),
                (-2, flush_ts, -1, "purchase", 0.0, "{}"),
            ],
            spark.read.parquet(land).schema,
        )
        flush.coalesce(1).write.mode("append").parquet(land)
        with open(marker, "w", encoding="utf-8") as fh:
            fh.write(fingerprint)
    return land


@register(
    "stream_stream_full_outer",
    oracle="""
WITH v AS (
  SELECT user_id, event_id AS view_id, ts AS view_ts
  FROM events
  WHERE event_type = 'view' AND ts IS NOT NULL AND ts >= TIMESTAMP '2000-01-01' AND ts < TIMESTAMP '2200-01-01' AND user_id IS NOT NULL
),
p AS (
  SELECT user_id AS p_user, event_id AS purchase_id, ts AS purchase_ts
  FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL AND ts >= TIMESTAMP '2000-01-01' AND ts < TIMESTAMP '2200-01-01' AND user_id IS NOT NULL
),
pairs AS (
  SELECT COALESCE(v.user_id, p.p_user) AS user_id, v.view_id, p.purchase_id
  FROM v FULL JOIN p
    ON v.user_id = p.p_user
   AND p.purchase_ts >= v.view_ts
   AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
)
SELECT user_id,
       COUNT(*) AS n_rows,
       COUNT(CASE WHEN view_id IS NOT NULL AND purchase_id IS NOT NULL
             THEN 1 END) AS n_matched,
       COUNT(CASE WHEN view_id IS NOT NULL AND purchase_id IS NULL
             THEN 1 END) AS n_silent_views,
       COUNT(CASE WHEN view_id IS NULL THEN 1 END) AS n_orphan_purchases
FROM pairs GROUP BY user_id
""",
    tags=("streaming", "stream-stream-join", "outer", "watermark", "interval"),
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — both directions of the
    silence question at once: views that never converted (purchase-side
    null) AND purchases with no preceding view inside the hour
    (view-side null, the broken-attribution orphans an instrumentation
    audit hunts for). Each side's unmatched rows null-extend only after
    the watermark passes its join-interval bound, so state stays
    time-bounded on both sides however long the streams run.

    Shares the flush-sentinel landing with stream_stream_left_outer
    (one far-future event per side advances the min-of-both watermark
    past every real interval at end of replay), which makes the result
    equal the batch FULL JOIN dual — checked by the oracle. The
    unbounded pair stream reduces to per-user partials executor-side
    (stream_partial_agg); the user key comes from whichever side is
    present."""
    prep(spark)
    land = _flushed_events_landing(spark, sf_dir)
    schema = spark.read.parquet(land).schema
    stream = spark.readStream.schema(schema).parquet(land)
    pairs = _ss_views(stream).join(
        _ss_purchases(stream),
        F.expr(
            "v_user = p_user AND "
            "purchase_ts >= view_ts AND purchase_ts <= view_ts + interval 1 hour"
        ),
        "fullOuter",
    ).select(
        F.coalesce("v_user", "p_user").alias("user_id"),
        "view_id",
        "purchase_id",
    )
    partials = stream_partial_agg(
        pairs,
        lambda b: b.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("pn"),
            F.count(
                F.when(
                    F.col("view_id").isNotNull()
                    & F.col("purchase_id").isNotNull(),
                    1,
                )
            ).alias("pm"),
            F.count(
                F.when(
                    F.col("view_id").isNotNull() & F.col("purchase_id").isNull(),
                    1,
                )
            ).alias("psv"),
            F.count(F.when(F.col("view_id").isNull(), 1)).alias("pop"),
        ),
        sf_dir,
        "ss_full_partials",
    )
    return (
        partials.where(F.col("user_id") >= 0)  # drop the flush sentinels
        .groupBy("user_id")
        .agg(
            F.sum("pn").alias("n_rows"),
            F.sum("pm").alias("n_matched"),
            F.sum("psv").alias("n_silent_views"),
            F.sum("pop").alias("n_orphan_purchases"),
        )
    )


@register(
    "stream_transform_with_state",
    oracle="""
WITH ev AS (
  -- the stateful processor's declared input domain: fully-present rows
  -- (a NULL user key, NaT event time, NaN cents, or None map key each
  -- crash or silently skew a python-side state update — null-flood
  -- sweep; real deployments validate-then-route before stateful ops)
  SELECT * FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND ts >= TIMESTAMP '2000-01-01' AND ts < TIMESTAMP '2200-01-01'
    AND value IS NOT NULL AND event_type IS NOT NULL
),
tc AS (
  SELECT user_id, event_type, COUNT(*) AS c
  FROM ev GROUP BY user_id, event_type
),
top AS (
  SELECT user_id, event_type AS top_type
  FROM (SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY c DESC, event_type) AS rn
        FROM tc) r
  WHERE rn = 1
),
base AS (
  SELECT user_id,
         COUNT(*)                                        AS n_events,
         SUM(CAST(ROUND(CAST(CASE WHEN isfinite(value) AND abs(value) < 1e12 THEN value END AS DECIMAL(18,4)) * 100, 0) AS BIGINT)) AS cents,
         COUNT(DISTINCT event_type)                      AS n_types,
         COUNT(*)                                        AS n_ids,
         MIN(event_id)                                   AS min_id,
         MAX(event_id)                                   AS max_id
  FROM ev GROUP BY user_id
)
SELECT b.user_id, n_events,
       CAST(cents AS DOUBLE) / 100.0 AS total_value,
       n_types, top_type, n_ids, min_id, max_id
FROM base b JOIN top USING (user_id)
""",
    tags=("streaming", "stateful", "transformWithState", "rocksdb"),
)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming v2 (transformWithStateInPandas): the
    4-file event stream drains one file per micro-batch through a
    StatefulProcessor holding ValueState (n + integer-cent totals),
    MapState (per-event-type counters, point updates), and ListState
    (event-id log) per user on the RocksDB state store; update-mode
    emissions are finalized to the last snapshot per user, which must
    equal the batch dual exactly (every emitted stat is batch-slicing
    invariant; money rides integer cents until the final projection).

    See streaming/tws.py for the operator, the 100 TB state-store
    posture, and the documented applyInPandasWithState fallback for
    environments whose JVM predates the protobuf shim (identical result,
    engine flag in the module; our pytest pins the 'tws' path).
    """
    from ..catalog import normalize_events_ts
    from ..streaming.tws import transform_user_stats

    prep(spark)
    src = _events_split4(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = normalize_events_ts(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    ).where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        & (F.col("ts") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2200-01-01").cast("timestamp"))
        & F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    final, _engine = transform_user_stats(spark, stream)
    return final.select(
        "user_id",
        "n_events",
        (F.col("total_cents") / F.lit(100.0)).alias("total_value"),
        "n_types",
        "top_type",
        "n_ids",
        "min_id",
        "max_id",
    )


@register(
    "stream_tws_packed",
    oracle="""
WITH ev AS (
  SELECT * FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND ts >= TIMESTAMP '2000-01-01' AND ts < TIMESTAMP '2200-01-01'
    AND value IS NOT NULL AND event_type IS NOT NULL
),
tc AS (
  SELECT user_id, event_type, COUNT(*) AS c
  FROM ev GROUP BY user_id, event_type
),
top AS (
  SELECT user_id, event_type AS top_type
  FROM (SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY c DESC, event_type) AS rn
        FROM tc) r
  WHERE rn = 1
),
base AS (
  SELECT user_id,
         COUNT(*)                                        AS n_events,
         SUM(CAST(ROUND(CAST(CASE WHEN isfinite(value) AND abs(value) < 1e12 THEN value END AS DECIMAL(18,4)) * 100, 0) AS BIGINT)) AS cents,
         COUNT(DISTINCT event_type)                      AS n_types,
         COUNT(*)                                        AS n_ids,
         MIN(event_id)                                   AS min_id,
         MAX(event_id)                                   AS max_id
  FROM ev GROUP BY user_id
)
SELECT b.user_id, n_events,
       CAST(cents AS DOUBLE) / 100.0 AS total_value,
       n_types, top_type, n_ids, min_id, max_id
FROM base b JOIN top USING (user_id)
""",
    tags=("streaming", "stateful", "transformWithState", "rocksdb",
          "state-packing"),
)
def stream_tws_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming v2 with the whole per-user state PACKED into
    one ValueState row — the production posture for a small fixed
    fan-out that BASELINE §3g-bis's protocol-cost decomposition
    prescribes. Same input domain, same emitted stats, same oracle as
    stream_transform_with_state (the MapState/ListState row, kept
    registered so the point-updatable primitives stay exercised); the
    difference is the state layout: counts + a canonical sorted-JSON
    type map in a single row, so the hot path pays exactly 2
    state-server round trips per key per batch (get + update) instead
    of ~9. At 100 TB stream rates the state-protocol chatter IS the
    operator's cost (measured python/Arrow-bound, not data-bound), so
    the packing choice — not the state-store engine — dominates
    throughput when the fan-out is bounded.

    Trade-off recorded with the design rule: MapState wins when the
    per-key map is large or dynamic (point updates touch only seen
    keys; a packed row rewrites O(map) per batch).
    """
    from ..catalog import normalize_events_ts
    from ..streaming.tws import transform_user_stats_packed

    prep(spark)
    src = _events_split4(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = normalize_events_ts(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    ).where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        & (F.col("ts") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2200-01-01").cast("timestamp"))
        & F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    final, _engine = transform_user_stats_packed(spark, stream)
    return final.select(
        "user_id",
        "n_events",
        (F.col("total_cents") / F.lit(100.0)).alias("total_value"),
        "n_types",
        "top_type",
        "n_ids",
        "min_id",
        "max_id",
    )


@register(
    "stream_state_introspect",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       SUM(CAST(ROUND(CAST(CASE WHEN isfinite(value) AND abs(value) < 1e12 THEN value END AS DECIMAL(18,4)) * 100, 0) AS BIGINT)) AS total_cents
FROM events
WHERE ts IS NOT NULL AND ts >= TIMESTAMP '2000-01-01' AND ts < TIMESTAMP '2200-01-01'
GROUP BY user_id
""",
    tags=("streaming", "statestore", "introspection"),
)
def stream_state_introspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming state introspection (Spark 4 state data source): run a
    per-user streaming aggregation to a checkpoint, then read the
    operator's STATE STORE back as a DataFrame —
    spark.read.format("statestore").load(ckpt) — and verify the live
    state equals the batch aggregate. This is the debugging/ops surface
    a 100 TB streaming deployment needs: inspect (or audit, or backfill
    from) the exact per-key state a running query holds, without
    touching the query. partition_id is projected away (it encodes
    hash-partition layout, not data); money rides integer cents so the
    state values are order-exact.
    """
    import shutil

    from ..catalog import work_dir

    prep(spark)
    from ..functions.exact import dec

    # dec(), not a raw decimal cast: an out-of-domain measure (1e150
    # overflows DECIMAL(18,4), NaN/Inf abort the ANSI cast) must ride
    # the finite-measure contract INSIDE the stream too — a poisoned
    # micro-batch otherwise kills the whole query (extremes-sweep
    # finding; the oracle's CASE WHEN isfinite() already matched).
    ev = stream_events(spark, sf_dir).select(
        "user_id",
        F.round(dec("value") * 100, 0).cast("bigint").alias("cents"),
    )
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    ck = work_dir(sf_dir, "state_introspect_ckpt")
    shutil.rmtree(ck, ignore_errors=True)
    name = f"ss_introspect_{os.getpid()}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.catalog.dropTempView(name)
    state = spark.read.format("statestore").load(ck)
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").alias("n_events"),
        F.col("value.sum").alias("total_cents"),
    )


@register(
    "stream_stream_left_semi",
    oracle="""
WITH conv AS (
  SELECT DISTINCT v.user_id, v.event_id AS view_id
  FROM events v
  WHERE v.event_type = 'view' AND EXISTS (
    SELECT 1 FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
      AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
)
SELECT user_id,
       COUNT(*) AS n_converted_views,
       MIN(view_id) AS min_view_id,
       MAX(view_id) AS max_view_id
FROM conv GROUP BY user_id
""",
    tags=("streaming", "stream-stream-join", "semi", "watermark", "interval"),
)
def stream_stream_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join — "views that DID convert
    within the hour", one row per converting view, no purchase columns:
    the existence-check dual of stream_stream_left_outer's silence
    question, completing the join family (inner / left outer / full
    outer / left semi). Semi semantics matter for state and emission: a
    view emits AT MOST ONCE however many purchases land in its window
    (the inner join would fan out per purchase), it can emit as soon as
    the FIRST match arrives, and its state still evicts on the same
    watermark bound as the outer variants.

    Shares the flush-sentinel landing (the sentinels never match, so
    they add no rows — they only advance the min-of-both watermark so
    end-of-replay state drains deterministically). The already-
    deduplicated match stream reduces to per-user partials executor-side;
    the batch EXISTS dual is the oracle."""
    prep(spark)
    land = _flushed_events_landing(spark, sf_dir)
    schema = spark.read.parquet(land).schema
    stream = spark.readStream.schema(schema).parquet(land)
    matched = _ss_views(stream).join(
        _ss_purchases(stream),
        F.expr(
            "v_user = p_user AND "
            "purchase_ts >= view_ts AND purchase_ts <= view_ts + interval 1 hour"
        ),
        "leftSemi",
    ).select(F.col("v_user").alias("user_id"), "view_id")
    partials = stream_partial_agg(
        matched,
        lambda b: b.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("pn"),
            F.min("view_id").alias("pmin"),
            F.max("view_id").alias("pmax"),
        ),
        sf_dir,
        "ss_semi_partials",
    )
    return (
        partials.where(F.col("user_id") >= 0)  # drop the flush sentinel
        .groupBy("user_id")
        .agg(
            F.sum("pn").alias("n_converted_views"),
            F.min("pmin").alias("min_view_id"),
            F.max("pmax").alias("max_view_id"),
        )
    )


@register(
    "stream_stream_right_outer",
    oracle="""
WITH v AS (
  SELECT user_id, event_id AS view_id, ts AS view_ts
  FROM events
  WHERE event_type = 'view' AND ts IS NOT NULL AND ts >= TIMESTAMP '2000-01-01' AND ts < TIMESTAMP '2200-01-01' AND user_id IS NOT NULL
),
p AS (
  SELECT user_id AS p_user, event_id AS purchase_id, ts AS purchase_ts
  FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL AND ts >= TIMESTAMP '2000-01-01' AND ts < TIMESTAMP '2200-01-01' AND user_id IS NOT NULL
),
pairs AS (
  SELECT p.p_user AS user_id, v.view_id, p.purchase_id,
         p.purchase_ts - v.view_ts AS gap
  FROM v RIGHT JOIN p
    ON v.user_id = p.p_user
   AND p.purchase_ts >= v.view_ts
   AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
)
SELECT user_id,
       COUNT(*) AS n_purchase_pairs,
       COUNT(view_id) AS n_attributed,
       COUNT(*) - COUNT(view_id) AS n_orphan_purchases,
       CAST(ROUND(MAX(date_part('epoch', gap)), 0) AS DOUBLE) AS max_gap_s
FROM pairs GROUP BY user_id
""",
    tags=("streaming", "stream-stream-join", "outer", "watermark", "interval"),
)
def stream_stream_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream RIGHT OUTER interval join — "purchases with NO view
    in the preceding hour" (the orphan-attribution question asked from
    the purchase side), completing the outer family (inner / left /
    full / semi / right). Emission timing mirrors the left outer with
    the sides swapped: an unmatched purchase can only null-extend after
    the watermark passes the END of its match interval — a matching view
    has view_ts in [purchase_ts - 1h, purchase_ts], so the purchase must
    wait until the view-side watermark clears purchase_ts itself.
    tests/test_streaming.py pins that eviction timing batch-by-batch,
    like the left outer's.

    Shares the flush-sentinel landing (one far-future event per side
    advances the min-of-both watermark past every real interval at end
    of replay), so the drained result equals the batch RIGHT JOIN dual
    — which is what the DuckDB oracle checks. The unbounded pair stream
    reduces to per-user partials executor-side (stream_partial_agg)."""
    prep(spark)
    land = _flushed_events_landing(spark, sf_dir)
    schema = spark.read.parquet(land).schema
    stream = spark.readStream.schema(schema).parquet(land)
    pairs = _ss_views(stream).join(
        _ss_purchases(stream),
        F.expr(
            "v_user = p_user AND "
            "purchase_ts >= view_ts AND purchase_ts <= view_ts + interval 1 hour"
        ),
        "rightOuter",
    ).select(
        F.col("p_user").alias("user_id"),
        "view_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )
    partials = stream_partial_agg(
        pairs,
        lambda b: b.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("pn"),
            F.count("view_id").alias("pa"),
            F.max("gap_us").alias("pm"),
        ),
        sf_dir,
        "ss_right_partials",
    )
    return (
        partials.where(F.col("user_id") >= 0)  # drop the flush sentinel
        .groupBy("user_id")
        .agg(
            F.sum("pn").alias("n_purchase_pairs"),
            F.sum("pa").alias("n_attributed"),
            (F.sum("pn") - F.sum("pa")).alias("n_orphan_purchases"),
            F.round(F.max("pm") / 1_000_000.0, 0).alias("max_gap_s"),
        )
    )
