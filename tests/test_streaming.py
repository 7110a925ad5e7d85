"""Streaming tests beyond the oracle entries: file sink round trip and
incremental (multi-batch) semantics of the stateful operator."""

from __future__ import annotations

import shutil
import uuid

from pyspark.sql import functions as F

from vault_8_hive_spark.catalog import WORK_DIR
from vault_8_hive_spark.streaming.ops import stream_events


def test_stream_parquet_sink_roundtrip(spark, sf_dir):
    """readStream -> filter -> writeStream(parquet) -> read back: the
    append file sink must deliver exactly the filtered rows."""
    out = f"{WORK_DIR}/stream_sink_{uuid.uuid4().hex[:8]}"
    ev = stream_events(spark, sf_dir).where(F.col("event_type") == "purchase")
    q = (
        ev.writeStream.format("parquet")
        .option("path", f"{out}/data")
        .option("checkpointLocation", f"{out}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        got = spark.read.parquet(f"{out}/data").count()
        want = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .where(F.col("event_type") == "purchase")
            .count()
        )
        assert got == want
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_watermark_metadata_present(spark, sf_dir):
    """withWatermark must annotate the plan's event-time column."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    assert "watermark" in ev._jdf.queryExecution().analyzed().toString().lower()


def test_watermark_drops_late_data(spark, sf_dir):
    """True late-data semantics: two files processed as separate
    micro-batches (maxFilesPerTrigger=1); the second file's rows are far
    older than the watermark advanced by the first, so an append-mode
    windowed aggregation must drop them."""
    import time as _time

    base = f"{WORK_DIR}/late_{uuid.uuid4().hex[:8]}"
    on_time = spark.createDataFrame(
        [(i, f"2024-06-01 12:{m:02d}:00") for i, m in enumerate([0, 5, 50, 55])],
        "id long, ts_s string",
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
    late = spark.createDataFrame(
        [(100, "2024-06-01 10:00:00"), (101, "2024-06-01 10:05:00")],
        "id long, ts_s string",
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
    # Two EXPLICIT micro-batches: write f1, drain, then write f2, drain —
    # so the watermark computed from batch 1 (12:55 - 10min = 12:45) is in
    # force when the late rows arrive in batch 2.
    on_time.coalesce(1).write.parquet(f"{base}/in/f1")

    stream = spark.readStream.schema("id long, ts timestamp").parquet(f"{base}/in/*")
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{base}/ckpt")
        .start()
    )
    q.processAllAvailable()
    late.coalesce(1).write.parquet(f"{base}/in/f2")
    _time.sleep(0.2)
    q.processAllAvailable()
    q.stop()
    try:
        got = {
            (r["w"]["start"].hour, r["w"]["start"].minute): r["n"]
            for r in spark.table(name).collect()
        }
        # Windows from the on-time batch close when the watermark passes;
        # the 10:00/10:05 late rows arrive after the watermark reached
        # 12:45 and must NOT appear anywhere.
        assert not any(h == 10 for (h, m) in got), got
        assert got.get((12, 0)) == 2, got
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_rate_source_smoke(spark):
    """The rate source (synthetic streaming benchmark source) produces
    monotonically increasing values with timestamps."""
    stream = spark.readStream.format("rate").option("rowsPerSecond", "50").load()
    name = f"rate_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        import time as _time

        deadline = _time.time() + 15
        while _time.time() < deadline and spark.table(name).count() < 5:
            _time.sleep(0.5)
        rows = spark.table(name).collect()
        assert len(rows) >= 5
        vals = sorted(r["value"] for r in rows)
        assert vals == list(range(vals[0], vals[0] + len(vals)))
    finally:
        q.stop()


def test_foreach_batch_upsert_recovers_and_never_double_applies(spark, sf_dir):
    """Crash-recovery + exactly-once for the foreachBatch upsert sink:

    1. the stream is KILLED between micro-batches; a restart on the same
       checkpoint must resume from the committed offset (not reprocess
       committed batches) and finish with totals equal to the batch
       ground truth;
    2. a batch is then REPLAYED by hand (at-least-once redelivery, the
       failure mode foreachBatch contracts the writer to survive) — the
       dynamic-partition-overwrite writer must rewrite its own partition,
       leaving the compacted totals unchanged. A sink that appends on
       replay double-counts and fails the assert."""
    import time

    from vault_8_hive_spark.catalog import normalize_events_ts
    from vault_8_hive_spark.queries.streaming_batch import (
        compact_user_totals,
        partition_overwrite_upsert,
    )

    base = f"{WORK_DIR}/upsert_recovery_{uuid.uuid4().hex[:8]}"
    src, target, ckpt = f"{base}/src", f"{base}/target", f"{base}/ckpt"
    events = normalize_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    events.repartitionByRange(4, "event_id").write.parquet(src)
    truth = {
        r["user_id"]: (r["n"], r["t"])
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("t"),
        )
        .collect()
    }

    writer = partition_overwrite_upsert(target)
    captured: dict[int, list] = {}

    def slow_capturing_upsert(batch_df, batch_id):
        # Keep the raw batch rows so the replay below redelivers the real
        # payload; slow down so the kill lands between micro-batches.
        captured[int(batch_id)] = batch_df.collect()
        writer(batch_df, batch_id)
        time.sleep(1.5)

    def start(fn):
        return (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    try:
        # Run 1: kill after the first committed batch, mid-stream.
        q = start(slow_capturing_upsert)
        deadline = time.time() + 120
        while q.isActive and not captured and time.time() < deadline:
            time.sleep(0.1)
        q.stop()
        q.awaitTermination()
        n_before_restart = len(captured)
        assert n_before_restart >= 1, "stream never committed a batch"

        # Run 2: same checkpoint; must finish the remaining batches only.
        q = start(slow_capturing_upsert)
        q.awaitTermination()
        # Exactly the 4 source-file batches, ids 0..3: a restart that
        # re-processed extra batches (or invented new ids) must fail here,
        # not just "at least 4 seen". (A batch killed mid-flight is
        # legitimately retried under the SAME id — the dict keying
        # absorbs that, which is the exactly-once contract under test.)
        assert set(captured) == {0, 1, 2, 3}

        def totals():
            return {
                r["user_id"]: (r["n_events"], r["total_value"])
                for r in compact_user_totals(spark, target).collect()
            }

        got = totals()
        assert set(got) == set(truth)
        for u, (n, t) in truth.items():
            assert got[u][0] == n, (u, got[u], n, t)
            assert abs(got[u][1] - float(t)) < 1e-6

        # Replay: redeliver an already-committed batch verbatim.
        bid = min(captured)
        replay_df = spark.createDataFrame(
            captured[bid], spark.read.parquet(src).schema
        )
        writer(replay_df, bid)
        assert totals() == got, "sink double-applied a replayed batch"
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_left_outer_interval_join_null_extends_only_after_watermark(spark):
    """Stream-stream LEFT OUTER interval join eviction timing: an
    unmatched left row may be null-extended ONLY once the watermark has
    passed the end of its match interval (view_ts + 1h) — before that a
    matching purchase could still arrive, so emitting early would be
    wrong, and never emitting would lose the row.

    Three-batch fixture (maxFilesPerTrigger=1, watermark delay 30 min):
      file 1: view A(u1)@00:00 + purchase(u1)@00:10  -> matched pair
              view B(u2)@00:00                        -> silent
              view C(u3)@02:00                        -> silent, late-open
      file 2: flush view+purchase (u -1) @ +10 days
    The hard guarantee is NEVER-EARLY + exactly-once-eventually: batch 0
    runs with the epoch watermark, so no null row may appear there; C's
    interval (ends 03:00) is still open under batch 1's watermark (01:30
    = file 1's max 02:00 - 0:30), so C may not appear before batch 2.
    Eviction is allowed to LAG the watermark (measured on Spark 4.1: B's
    interval closed at 01:00 < the 01:30 watermark yet B emits in batch
    2, one batch later than the earliest correct point) — lateness is
    conservative and safe; earliness would be a wrong answer, and that is
    what these asserts make impossible."""
    import datetime
    import os
    import time

    base = f"{WORK_DIR}/outer_timing_{uuid.uuid4().hex[:8]}"
    land, ckpt = f"{base}/land", f"{base}/ckpt"
    t0 = datetime.datetime(2024, 3, 1, 0, 0, 0)
    m = datetime.timedelta(minutes=1)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    file1 = [
        (1, t0, 1, "view"),
        (2, t0 + 10 * m, 1, "purchase"),
        (3, t0, 2, "view"),
        (4, t0 + 120 * m, 3, "view"),
    ]
    file2 = [(5, t0 + datetime.timedelta(days=10), -1, "view"),
             (6, t0 + datetime.timedelta(days=10), -1, "purchase")]
    spark.createDataFrame(file1, schema).coalesce(1).write.mode("append").parquet(land)
    time.sleep(0.05)  # distinct mtimes -> deterministic file order
    spark.createDataFrame(file2, schema).coalesce(1).write.mode("append").parquet(land)

    src_schema = spark.read.parquet(land).schema
    stream = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    views = (
        stream.where(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "30 minutes")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "30 minutes")
    )
    pairs = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND "
            "purchase_ts >= view_ts AND purchase_ts <= view_ts + interval 1 hour"
        ),
        "leftOuter",
    )
    emitted: dict[int, list] = {}

    def capture(batch_df, batch_id):
        emitted[int(batch_id)] = [
            (r["v_user"], r["purchase_ts"] is not None) for r in batch_df.collect()
        ]

    q = (
        pairs.writeStream.foreachBatch(capture)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        # Batch 0 (epoch watermark): only the matched pair — no
        # null-extension may happen while every interval is still open.
        assert emitted.get(0) == [(1, True)], emitted
        # Null rows, keyed by the batch they surfaced in (the flush
        # sentinel's own matched pair is ignored).
        null_batches = {
            u: b
            for b, rows in emitted.items()
            for (u, matched) in rows
            if not matched and u > 0
        }
        # Exactly one null row each for B and C, never a duplicate.
        n_nulls = sum(
            1 for rows in emitted.values() for (u, m) in rows if not m and u > 0
        )
        assert set(null_batches) == {2, 3} and n_nulls == 2, emitted
        # Never early: B's interval closes under batch 1's watermark, so
        # batch 1 is its earliest correct batch; C's interval outlives
        # every data batch, so nothing before the final no-data batch may
        # carry it.
        assert null_batches[2] >= 1, emitted
        assert null_batches[3] >= 2, emitted
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_right_outer_interval_join_null_extends_only_after_watermark(spark):
    """Stream-stream RIGHT OUTER interval join eviction timing — the
    mirror of the left-outer test with the sides swapped: an unmatched
    PURCHASE may be null-extended only once the watermark has passed the
    end of its match interval. A matching view has view_ts in
    [purchase_ts - 1h, purchase_ts], so the purchase's interval closes
    at purchase_ts itself — it may emit once the watermark clears its
    own event time, and not one batch before.

    Three-batch fixture (maxFilesPerTrigger=1, watermark delay 30 min):
      file 1: view(u1)@00:00 + purchase A(u1)@00:10 -> matched pair
              purchase B(u2)@00:30                  -> orphan
              purchase C(u3)@02:00                  -> orphan, late-open
      file 2: flush view+purchase (u -1) @ +10 days
    Batch 0 runs with the epoch watermark, so no null row may appear
    there; B's interval (closes 00:30) clears under batch 1's watermark
    (01:30 = file 1's max 02:00 - 0:30) so batch 1 is its earliest
    correct batch; C's interval (closes 02:00) outlives every data
    batch, so only the post-flush batch may carry it. As in the
    left-outer test, eviction may LAG the watermark (conservative is
    safe) — earliness is the wrong answer these asserts forbid."""
    import datetime
    import time

    base = f"{WORK_DIR}/router_timing_{uuid.uuid4().hex[:8]}"
    land, ckpt = f"{base}/land", f"{base}/ckpt"
    t0 = datetime.datetime(2024, 3, 1, 0, 0, 0)
    m = datetime.timedelta(minutes=1)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    file1 = [
        (1, t0, 1, "view"),
        (2, t0 + 10 * m, 1, "purchase"),
        (3, t0 + 30 * m, 2, "purchase"),
        (4, t0 + 120 * m, 3, "purchase"),
    ]
    file2 = [(5, t0 + datetime.timedelta(days=10), -1, "view"),
             (6, t0 + datetime.timedelta(days=10), -1, "purchase")]
    spark.createDataFrame(file1, schema).coalesce(1).write.mode("append").parquet(land)
    time.sleep(0.05)  # distinct mtimes -> deterministic file order
    spark.createDataFrame(file2, schema).coalesce(1).write.mode("append").parquet(land)

    src_schema = spark.read.parquet(land).schema
    stream = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    views = (
        stream.where(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "30 minutes")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "30 minutes")
    )
    pairs = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND "
            "purchase_ts >= view_ts AND purchase_ts <= view_ts + interval 1 hour"
        ),
        "rightOuter",
    )
    emitted: dict[int, list] = {}

    def capture(batch_df, batch_id):
        emitted[int(batch_id)] = [
            (r["p_user"], r["view_ts"] is not None) for r in batch_df.collect()
        ]

    q = (
        pairs.writeStream.foreachBatch(capture)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        # Batch 0 (epoch watermark): only the matched pair — no
        # null-extension may happen while every interval is still open.
        assert emitted.get(0) == [(1, True)], emitted
        null_batches = {
            u: b
            for b, rows in emitted.items()
            for (u, matched) in rows
            if not matched and u > 0
        }
        n_nulls = sum(
            1 for rows in emitted.values() for (u, mt) in rows if not mt and u > 0
        )
        # Exactly one null row each for B and C, never a duplicate.
        assert set(null_batches) == {2, 3} and n_nulls == 2, emitted
        # Never early: B may not surface before batch 1, C not before
        # the post-flush batch 2.
        assert null_batches[2] >= 1, emitted
        assert null_batches[3] >= 2, emitted
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_transform_with_state_runs_v2_engine(spark, sf_dir):
    """The TWS (state v2) path must actually run in our harness — no
    silent fallback — and agree exactly with the v1 operator's result."""
    from vault_8_hive_spark.catalog import normalize_events_ts
    from vault_8_hive_spark.queries.streaming_batch import _events_split4
    from vault_8_hive_spark.streaming.tws import transform_user_stats

    src = _events_split4(spark, sf_dir)
    schema = spark.read.parquet(src).schema

    def stream():
        return normalize_events_ts(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    tws_df, engine = transform_user_stats(spark, stream(), allow_fallback=False)
    assert engine == "tws"
    tws_rows = {r.user_id: tuple(r) for r in tws_df.collect()}

    # force the v1 path by running the fallback operator directly (over
    # the same map-side pre-reduction transform_user_stats wires in)
    from vault_8_hive_spark.streaming.tws import (
        OUT_SCHEMA,
        PARTIAL_SCHEMA,
        _V1_STATE,
        _finalize,
        _pre_reduce,
        _run_update_stream,
        _v1_stats,
    )

    v1_out = stream().mapInPandas(
        _pre_reduce, PARTIAL_SCHEMA
    ).groupBy("user_id").applyInPandasWithState(
        _v1_stats,
        outputStructType=OUT_SCHEMA,
        stateStructType=_V1_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    v1_rows = {
        r.user_id: tuple(r) for r in _finalize(_run_update_stream(v1_out)).collect()
    }
    assert tws_rows == v1_rows
    # multi-batch statefulness really happened: users span multiple files
    assert len(tws_rows) > 10


def test_tws_packed_matches_mapstate_operator(spark, sf_dir):
    """The packed-ValueState posture (2 state round trips per key-batch)
    must run on the v2 engine and produce the exact result of the
    MapState/ListState operator — same stats, different state layout."""
    from vault_8_hive_spark.catalog import normalize_events_ts
    from vault_8_hive_spark.queries.streaming_batch import _events_split4
    from vault_8_hive_spark.streaming.tws import (
        transform_user_stats,
        transform_user_stats_packed,
    )

    src = _events_split4(spark, sf_dir)
    schema = spark.read.parquet(src).schema

    def stream():
        return normalize_events_ts(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    packed_df, engine = transform_user_stats_packed(
        spark, stream(), allow_fallback=False
    )
    assert engine == "tws"
    packed = {r.user_id: tuple(r) for r in packed_df.collect()}

    map_df, engine2 = transform_user_stats(spark, stream(), allow_fallback=False)
    assert engine2 == "tws"
    assert packed == {r.user_id: tuple(r) for r in map_df.collect()}
    assert len(packed) > 10


def test_transform_with_state_fallback_engine(spark, sf_dir, monkeypatch):
    """When the TWS env is unavailable the operator must degrade to the
    v1 engine (same schema/result), not fail."""
    import vault_8_hive_spark.compat.protobuf_alias as pa
    from vault_8_hive_spark.catalog import normalize_events_ts
    from vault_8_hive_spark.queries.streaming_batch import _events_split4
    from vault_8_hive_spark.streaming.tws import transform_user_stats

    monkeypatch.setattr(pa, "ensure_tws_env", lambda: False)
    src = _events_split4(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = normalize_events_ts(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    df, engine = transform_user_stats(spark, stream)
    assert engine == "v1"
    assert df.count() > 10


def test_state_metadata_reader(spark, sf_dir):
    """state-metadata names the stateful operator and its batch range;
    the statestore rows must equal the batch aggregate (the registered
    query checks values — here we pin the metadata surface)."""
    from vault_8_hive_spark.queries import all_queries
    from vault_8_hive_spark.catalog import work_dir

    all_queries()["stream_state_introspect"].fn(spark, sf_dir).count()
    ck = work_dir(sf_dir, "state_introspect_ckpt")
    md = spark.read.format("state-metadata").load(ck).collect()
    assert len(md) == 1
    assert md[0].operatorName == "stateStoreSave"
    assert md[0].minBatchId == 0 and md[0].maxBatchId >= 0


def test_transform_with_state_event_time_timers(spark, tmp_path):
    """Event-time TIMERS on the v2 state API — the 'gone silent' detector
    (the analytic dual of the reference implant's self-delete countdown):
    each user's timer re-arms at last_seen + 1h; when the WATERMARK
    passes a timer, handleExpiredTimer emits the silence row. Asserts
    both the emitted silence times and that a user whose timer the
    watermark never reached is NOT flagged."""
    import pandas as pd

    from vault_8_hive_spark.compat.protobuf_alias import ensure_tws_env
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StatefulProcessor

    assert ensure_tws_env()
    base = 1_700_000_000_000  # ms
    hour = 3_600_000

    def ev(uid, off_ms):
        return (uid, (base + off_ms) // 1000)

    f1 = [ev(1, 0), ev(1, 10 * 60_000), ev(2, 0)]
    f2 = [ev(1, 50 * 60_000), ev(99, 3 * hour)]
    src = str(tmp_path / "timer_src")
    for i, rows in enumerate([f1, f2]):
        spark.createDataFrame(rows, "user_id long, ts_s long").coalesce(1) \
            .write.mode("append" if i else "overwrite").parquet(src)

    class SilenceDetector(StatefulProcessor):
        def init(self, handle):
            self.handle = handle
            self.last = handle.getValueState("last", "ts_ms bigint")

        def handleInputRows(self, key, rows, timerValues):
            mx = 0
            for pdf in rows:
                if len(pdf):
                    mx = max(mx, int(pdf["ts_ms"].max()))
            prev = self.last.get()[0] if self.last.exists() else None
            if prev is not None and mx > prev:
                self.handle.deleteTimer(prev + hour)
            if mx:
                cur = max(mx, prev or 0)
                self.last.update((cur,))
                self.handle.registerTimer(cur + hour)
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            yield pd.DataFrame(
                {"user_id": [key[0]],
                 "silent_at_ms": [expiredTimerInfo.getExpiryTimeInMs()]}
            )

        def close(self):
            pass

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema("user_id long, ts_s long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select(
                "user_id",
                F.timestamp_seconds("ts_s").alias("ts"),
                (F.col("ts_s") * 1000).alias("ts_ms"),
            )
            .withWatermark("ts", "10 minutes")
        )
        out = stream.groupBy("user_id").transformWithStateInPandas(
            SilenceDetector(),
            outputStructType="user_id bigint, silent_at_ms bigint",
            outputMode="Append",
            timeMode="EventTime",
        )
        import tempfile

        name = "tws_timers"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="twst_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {r.user_id: r.silent_at_ms for r in spark.table(name).collect()}
        spark.catalog.dropTempView(name)
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
    # user 2 went silent 1h after its only event; user 1 1h after its
    # last (t0+50min) event; user 99 drove the watermark and is silent
    # only past it -> no row.
    assert got == {2: base + hour, 1: base + 50 * 60_000 + hour}


def test_full_outer_interval_join_null_extends_both_sides(spark):
    """Stream-stream FULL OUTER interval join: BOTH sides null-extend —
    an unmatched view after its interval (view_ts + 1h) closes under the
    watermark, and an unmatched purchase after its own bound (no view in
    [purchase_ts - 1h, purchase_ts] can still arrive once the watermark
    passes purchase_ts). Same never-early + exactly-once-eventually
    contract as the left-outer timing test, now asserted for the right
    side too.

    Fixture (maxFilesPerTrigger=1, watermark delay 30 min):
      file 1: view+purchase u1 -> matched pair
              view u2 @00:00   -> silent view (no purchase ever)
              purchase u4 @02:00 -> orphan purchase (no view ever)
      file 2: flush view+purchase (u -1) @ +10 days
    """
    import datetime
    import time

    base = f"{WORK_DIR}/fullouter_timing_{uuid.uuid4().hex[:8]}"
    land, ckpt = f"{base}/land", f"{base}/ckpt"
    t0 = datetime.datetime(2024, 3, 1, 0, 0, 0)
    m = datetime.timedelta(minutes=1)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    file1 = [
        (1, t0, 1, "view"),
        (2, t0 + 10 * m, 1, "purchase"),
        (3, t0, 2, "view"),
        (4, t0 + 120 * m, 4, "purchase"),
    ]
    file2 = [(5, t0 + datetime.timedelta(days=10), -1, "view"),
             (6, t0 + datetime.timedelta(days=10), -1, "purchase")]
    spark.createDataFrame(file1, schema).coalesce(1).write.mode("append").parquet(land)
    time.sleep(0.05)
    spark.createDataFrame(file2, schema).coalesce(1).write.mode("append").parquet(land)

    src_schema = spark.read.parquet(land).schema
    stream = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    views = (
        stream.where(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "30 minutes")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "30 minutes")
    )
    pairs = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND "
            "purchase_ts >= view_ts AND purchase_ts <= view_ts + interval 1 hour"
        ),
        "fullOuter",
    )
    emitted: dict[int, list] = {}

    def capture(batch_df, batch_id):
        emitted[int(batch_id)] = [
            (r["v_user"], r["p_user"]) for r in batch_df.collect()
        ]

    q = (
        pairs.writeStream.foreachBatch(capture)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        # Batch 0 (epoch watermark): only the matched u1 pair.
        assert emitted.get(0) == [(1, 1)], emitted
        silent_views = {
            v: b for b, rows in emitted.items()
            for (v, p) in rows if p is None and (v or 0) > 0
        }
        orphan_purchases = {
            p: b for b, rows in emitted.items()
            for (v, p) in rows if v is None and (p or 0) > 0
        }
        n_nulls = sum(
            1 for rows in emitted.values()
            for (v, p) in rows
            if (p is None and (v or 0) > 0) or (v is None and (p or 0) > 0)
        )
        # Exactly one null row per unmatched side, never duplicated,
        # never in the epoch batch.
        assert set(silent_views) == {2} and set(orphan_purchases) == {4}, emitted
        assert n_nulls == 2, emitted
        assert silent_views[2] >= 1 and orphan_purchases[4] >= 1, emitted
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- kill/restart recovery on the RocksDB state store (round 8) ------------
# The dual of test_foreach_batch_upsert_recovers_and_never_double_applies
# for the two operators whose state lives in RocksDB: the v2 stateful
# processor (transformWithStateInPandas) and the stream-stream interval
# join. Contract: stop the query between micro-batches, restart on the
# SAME checkpoint, and the final emission must equal the uninterrupted
# run (TWS) / the batch dual (join) — recovered state, no double-count,
# no lost batch.

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _run_killable(spark, build_query, sink, ckpt):
    """Start build_query() -> foreachBatch(sink) on ckpt, stop it after
    the first committed batch, then restart to completion."""
    import time

    def start():
        return (
            build_query()
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while q.isActive and not sink.seen and time.time() < deadline:
        time.sleep(0.1)
    q.stop()
    q.awaitTermination()
    assert sink.seen, "stream never committed a batch before the kill"
    n_before = len(sink.seen)
    q = start()
    q.awaitTermination()
    return n_before


class _CapturingSink:
    """foreachBatch sink: keep the LAST delivery per batch id (a batch
    killed mid-flight is legitimately retried under the same id) and
    sleep so the kill lands between micro-batches."""

    def __init__(self, delay=1.5):
        self.seen: dict[int, list] = {}
        self.delay = delay

    def __call__(self, batch_df, batch_id):
        import time

        self.seen[int(batch_id)] = batch_df.collect()
        time.sleep(self.delay)


def test_tws_rocksdb_kill_restart_recovers_state(spark, sf_dir):
    """transformWithStateInPandas (state v2, RocksDB): kill after the
    first committed micro-batch, restart on the same checkpoint; the
    finalized per-user snapshot must equal the uninterrupted run's."""
    import pytest

    from vault_8_hive_spark.catalog import normalize_events_ts
    from vault_8_hive_spark.compat.protobuf_alias import ensure_tws_env
    from vault_8_hive_spark.queries.streaming_batch import _events_split4
    from vault_8_hive_spark.streaming.tws import (
        OUT_SCHEMA,
        PARTIAL_SCHEMA,
        _make_processor,
        _pre_reduce,
        transform_user_stats,
    )

    if not ensure_tws_env():
        pytest.skip("TWS env unavailable")
    src = _events_split4(spark, sf_dir)
    schema = spark.read.parquet(src).schema

    def stream():
        return normalize_events_ts(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    base = f"{WORK_DIR}/tws_recovery_{uuid.uuid4().hex[:8]}"
    sink = _CapturingSink()
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER
    )
    try:
        def build_query():
            out = (
                stream()
                .mapInPandas(_pre_reduce, PARTIAL_SCHEMA)
                .groupBy("user_id")
                .transformWithStateInPandas(
                    _make_processor(),
                    outputStructType=OUT_SCHEMA,
                    outputMode="Update",
                    timeMode="None",
                )
            )
            return out.writeStream.foreachBatch(sink).outputMode("update")

        n_before = _run_killable(spark, build_query, sink, f"{base}/ckpt")
        uninterrupted, engine = transform_user_stats(
            spark, stream(), allow_fallback=False
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        shutil.rmtree(base, ignore_errors=True)

    assert engine == "tws"
    assert set(sink.seen) == {0, 1, 2, 3}
    assert 1 <= n_before < 4, "kill must land mid-stream"
    # finalize the captured update-mode emissions exactly like _finalize
    last: dict[int, tuple] = {}
    for rows in sink.seen.values():
        for r in rows:
            if r["user_id"] not in last or r["n_events"] > last[r["user_id"]][1]:
                last[r["user_id"]] = tuple(r)
    expected = {r["user_id"]: tuple(r) for r in uninterrupted.collect()}
    assert last == expected


def test_stream_stream_join_rocksdb_kill_restart(spark, sf_dir):
    """Stream-stream interval join on RocksDB: kill between micro-batches
    of a 4-file ts-ordered replay, restart on the same checkpoint; merged
    per-batch partials must equal the batch interval join exactly (the
    ts-range split keeps every in-window partner alive at the watermark,
    so the batch dual applies)."""
    from vault_8_hive_spark.catalog import normalize_events_ts

    events = normalize_events_ts(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    ).where(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & (F.col("ts") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2200-01-01").cast("timestamp"))
    )
    base = f"{WORK_DIR}/ssj_recovery_{uuid.uuid4().hex[:8]}"
    src = f"{base}/src"
    events.repartitionByRange(4, "ts").write.parquet(src)
    # The file source replays in MODIFICATION-TIME order, and parallel-
    # written range files share an mtime — ties scramble the replay out
    # of ts order, watermarks jump ahead, and genuine in-window partners
    # drop as late (observed live building this test). Stamp ascending
    # mtimes in range (= part-name) order so event time is monotone
    # across batches — the batch oracle applies only under ordered
    # delivery (SCALE.md "bounded event time" note).
    import glob as _glob
    import os as _os
    import time as _time

    now = _time.time()
    for i, pth in enumerate(sorted(_glob.glob(f"{src}/part-*"))):
        _os.utime(pth, (now - 400 + i * 60, now - 400 + i * 60))
    schema = spark.read.parquet(src).schema

    def side(event_type, pfx):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .where(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{pfx}_user"),
                F.col("ts").alias(f"{pfx}_ts"),
            )
            .withWatermark(f"{pfx}_ts", "30 minutes")
        )

    sink = _CapturingSink()
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER
    )
    try:
        def build_query():
            pairs = side("view", "v").join(
                side("purchase", "p"),
                F.expr(
                    "v_user = p_user AND p_ts >= v_ts "
                    "AND p_ts <= v_ts + interval 1 hour"
                ),
            ).select(
                F.col("v_user").alias("user_id"),
                (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("gap_us"),
            )
            # executor-side partial agg per batch (bounded rows at driver)
            return pairs.writeStream.foreachBatch(
                lambda bdf, bid: sink(
                    bdf.groupBy("user_id").agg(
                        F.count(F.lit(1)).alias("pn"),
                        F.max("gap_us").alias("pm"),
                    ),
                    bid,
                )
            )

        n_before = _run_killable(spark, build_query, sink, f"{base}/ckpt")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )

    assert 1 <= n_before, "kill must land after a committed batch"
    got: dict[int, tuple[int, int]] = {}
    for rows in sink.seen.values():
        for r in rows:
            n, m = got.get(r["user_id"], (0, None))
            got[r["user_id"]] = (
                n + r["pn"],
                r["pm"] if m is None else max(m, r["pm"]),
            )
    v = events.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    p = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    batch = (
        v.join(
            p,
            F.expr(
                "v_user = p_user AND p_ts >= v_ts "
                "AND p_ts <= v_ts + interval 1 hour"
            ),
        )
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(
                F.unix_micros("p_ts") - F.unix_micros("v_ts")
            ).alias("m"),
        )
    )
    expected = {r["user_id"]: (r["n"], r["m"]) for r in batch.collect()}
    shutil.rmtree(base, ignore_errors=True)
    assert got == expected
