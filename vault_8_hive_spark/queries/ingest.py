"""Landing-zone ingestion queries (SURVEY.md §1 D4 + §3.1 lifecycle).

domain_rsi_parse — the reference LP's canonical parsed output is the
`.rsi` XML beacon document (one file per beacon,
honeycomb/honeycomb.py:318-385 writes it; honeycomb/processRSI.py:54-117
re-parses it). This module renders the same document shape from the
fixture records, lands the files in a raw directory, and ingests them
with Spark's native XML source into the nested StructType D4 declares —
the raw-landing-zone -> parsed-table pattern.

stream_beacon_ingest — the reference's data path is an unbounded beacon
stream (SURVEY.md §1.3, §3.1): blobs land continuously and the LP parses
each on arrival. Here that lifecycle runs end-to-end as Structured
Streaming: file-source stream of enveloped blobs -> from_hive_beacon ->
watermarked typed append, whose replay must equal the batch bronze table
(the oracle embeds the encoder inputs).
"""

from __future__ import annotations

import os
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.codecs import OS_NAMES
from ..session import prep
from ..sources.beacons import make_fixture_records
from .domain import _expected_bytecount, _values
from . import register

_RECORDS = make_fixture_records()


def _built_with_tag(path: str) -> bool:
    """True if `path` was built from the current fixture generation;
    otherwise clears it so the caller rebuilds."""
    import shutil

    from ..sources.beacons import FIXTURE_VERSION

    marker = os.path.join(path, "_FIXTURE_TAG")
    try:
        with open(marker, encoding="utf-8") as fh:
            if fh.read() == FIXTURE_VERSION:
                return True
    except OSError:
        pass
    shutil.rmtree(path, ignore_errors=True)
    return False


def _stamp_tag(path: str) -> None:
    from ..sources.beacons import FIXTURE_VERSION

    with open(os.path.join(path, "_FIXTURE_TAG"), "w", encoding="utf-8") as fh:
        fh.write(FIXTURE_VERSION)

_BASE_EPOCH = 1709251200  # 2024-03-01 00:00:00 UTC — recv_ts base
_RECV_STEP_S = 600  # one beacon lands every 10 minutes (synthetic)


def _recv_str(beacon_id: int) -> str:
    import datetime as _dt

    t = _dt.datetime.fromtimestamp(
        _BASE_EPOCH + beacon_id * _RECV_STEP_S, _dt.timezone.utc
    )
    return t.strftime("%Y-%m-%d %H:%M:%S")


def render_rsi(rec: dict) -> str:
    """One beacon as a ToolHandlerFile XML document — field-for-field the
    shape honeycomb.py:318-385 emits (header ID = dash-stripped MAC,
    IP = proxy, byteCount = encapsulated size, deviceStats uptime,
    networkAddress = beacon source IP, extraData[@label] blobs)."""

    def tag(name: str, text: str | None, label: str | None = None) -> str:
        attr = f' label="{label}"' if label else ""
        body = escape(text) if text is not None else ""
        return f"<{name}{attr}>{body}</{name}>"

    extras = [tag("extraData", str(rec["next_beacon_s"]), "next_beacon_time"),
              tag("extraData", str(rec["version"]), "hiveVersion"),
              tag("extraData", OS_NAMES[rec["os"]], "os")]
    for label, key in (
        ("processList", "proc_list"),
        ("ipconfig", "ipconfig"),
        ("netstat_rn", "netstat_rn"),
        ("netstat_an", "netstat_an"),
    ):
        if rec[key] is not None:
            extras.append(tag("extraData", rec[key], label))
    return (
        '<ToolHandlerFile version="1.0">'
        "<header>"
        + tag("ID", rec["mac"].replace("-", ""))
        + tag("IP", rec["proxy_ip"])
        + tag("dateTimeStamp", _recv_str(rec["beacon_id"]))
        + tag("byteCount", str(_expected_bytecount(rec)))
        + tag("dataDescription", "Beacon")
        + tag("toolHandlerID", "88")
        + "</header>"
        "<beacon>"
        "<deviceStats>"
        + tag("beaconSeqNumber", "0")
        + tag("beaconAckNumber", "0")
        + tag("sequenceTrigger", "0")
        + tag("deviceUptimeSeconds", str(rec["uptime_s"]))
        + "</deviceStats>"
        "<deviceIP><networkAddress>"
        + tag("addressString", rec["beacon_ip"])
        + tag("mask", "")
        + "</networkAddress></deviceIP>"
        + tag("MACAddress", rec["mac"])
        + "".join(extras)
        + "</beacon>"
        "</ToolHandlerFile>"
    )


_RSI_SCHEMA = (
    "header struct<ID:string, IP:string, dateTimeStamp:string, byteCount:bigint, "
    "dataDescription:string, toolHandlerID:int>, "
    "beacon struct<"
    "deviceStats:struct<beaconSeqNumber:int, beaconAckNumber:int, "
    "sequenceTrigger:int, deviceUptimeSeconds:bigint>, "
    "deviceIP:struct<networkAddress:struct<addressString:string, mask:string>>, "
    "MACAddress:string, "
    "extraData:array<struct<_VALUE:string, _label:string>>>"
)


def _rsi_landing_dir(sf_dir: str) -> str:
    from ..catalog import work_dir

    path = work_dir(sf_dir, "rsi_landing")
    if not _built_with_tag(path):
        os.makedirs(path, exist_ok=True)
        for rec in _RECORDS:
            # timestamp+MAC filename like the LP's writer, minus the
            # colons — Hadoop paths reject ':' in file names.
            stamp = _recv_str(rec["beacon_id"]).replace(" ", "-").replace(":", "")
            fname = f"{stamp}_{rec['mac']}.rsi"
            with open(os.path.join(path, fname), "w", encoding="utf-8") as fh:
                fh.write(render_rsi(rec))
        _stamp_tag(path)
    return path


_RSI_COLS = [
    "beacon_id", "mac_id", "proxy_ip", "bytecount", "uptime_s", "beacon_ip",
    "mac", "os_name", "hive_version", "next_beacon_s", "has_proclist",
]
_RSI_ROWS = [
    (
        r["beacon_id"],
        r["mac"].replace("-", ""),
        r["proxy_ip"],
        _expected_bytecount(r),
        r["uptime_s"],
        r["beacon_ip"],
        r["mac"],
        OS_NAMES[r["os"]],
        str(r["version"]),
        r["next_beacon_s"],
        r["proc_list"] is not None,
    )
    for r in _RECORDS
]


@register(
    "domain_rsi_parse",
    oracle=(
        "SELECT CAST(beacon_id AS BIGINT) AS beacon_id, mac_id, proxy_ip, "
        "CAST(bytecount AS BIGINT) AS bytecount, CAST(uptime_s AS BIGINT) AS uptime_s, "
        "beacon_ip, mac, os_name, hive_version, next_beacon_s, has_proclist "
        f"FROM {_values(_RSI_ROWS, _RSI_COLS)}"
    ),
    tags=("domain", "xml", "scan", "landing-zone"),
)
def domain_rsi_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """.rsi XML beacon documents -> typed table via Spark's native XML
    source (rowTag=ToolHandlerFile, explicit nested schema — never infer
    at 100 TB). beacon_id is reconstructed from the header timestamp
    (receive times step deterministically), extraData[@label] becomes a
    map via map_from_arrays, and the label lookups pull the typed fields
    out — the engine-side equivalent of processRSI.py:54-117.

    Scale: one file per beacon is exactly how the LP lands them; the XML
    source parallelizes per file (and per split for large files), and
    everything after the parse is columnar. A real deployment compacts
    bronze XML into parquet on a schedule; that sink is
    sink_partitioned_parquet's pattern."""
    prep(spark)
    path = _rsi_landing_dir(sf_dir)
    raw = (
        spark.read.format("xml")
        .option("rowTag", "ToolHandlerFile")
        .schema(_RSI_SCHEMA)
        .load(path + "/*.rsi")
    )
    extra = F.col("beacon.extraData")
    xmap = F.map_from_arrays(
        F.transform(extra, lambda x: x["_label"]),
        F.transform(extra, lambda x: x["_VALUE"]),
    )
    recv = F.to_timestamp("header.dateTimeStamp", "yyyy-MM-dd HH:mm:ss")
    return raw.select(
        ((F.unix_timestamp(recv) - F.lit(_BASE_EPOCH)) / _RECV_STEP_S)
        .cast("bigint")
        .alias("beacon_id"),
        F.col("header.ID").alias("mac_id"),
        F.col("header.IP").alias("proxy_ip"),
        F.col("header.byteCount").alias("bytecount"),
        F.col("beacon.deviceStats.deviceUptimeSeconds").alias("uptime_s"),
        F.col("beacon.deviceIP.networkAddress.addressString").alias("beacon_ip"),
        F.col("beacon.MACAddress").alias("mac"),
        xmap["os"].alias("os_name"),
        xmap["hiveVersion"].alias("hive_version"),
        xmap["next_beacon_time"].cast("int").alias("next_beacon_s"),
        F.map_contains_key(xmap, "processList").alias("has_proclist"),
    )


# --- streaming beacon ingestion (§3.1 lifecycle as Structured Streaming) ---

_STREAM_COLS = ["beacon_id", "os_name", "mac", "uptime_s", "beacon_ip", "recv_ts"]
_STREAM_ROWS = [
    (
        r["beacon_id"],
        OS_NAMES[r["os"]],
        r["mac"],
        r["uptime_s"],
        r["beacon_ip"],
        _recv_str(r["beacon_id"]),
    )
    for r in _RECORDS
]


@register(
    "stream_beacon_ingest",
    oracle=(
        "SELECT CAST(beacon_id AS BIGINT) AS beacon_id, os_name, mac, "
        "CAST(uptime_s AS BIGINT) AS uptime_s, beacon_ip, "
        "CAST(recv_ts AS TIMESTAMP) AS recv_ts "
        f"FROM {_values(_STREAM_ROWS, _STREAM_COLS)}"
    ),
    tags=("domain", "streaming", "codec", "udf"),
)
def stream_beacon_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's beacon data path (SURVEY.md §3.1) end-to-end as a
    stream: enveloped blobs land as files -> file-source stream (one
    landing file per micro-batch) -> from_hive_beacon (the same mapInPandas
    decode the batch path uses) -> event-time watermark on the receive
    time -> typed bronze append. The replayed stream must equal the batch
    bronze table, which is what the encoder-input oracle checks.

    Scale: the decode is per-blob parallel inside each micro-batch; the
    watermark bounds state for any downstream windowed aggregation
    (beacons arrive late by design — the reference jitters its interval);
    the memory sink stands in for a partitioned parquet/Delta append."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    from ..catalog import work_dir
    from ..sources.beacons import encode_fixture_blob, from_hive_beacon
    from ..streaming.ops import run_to_memory

    prep(spark)
    src = work_dir(sf_dir, "beacon_stream")
    if not _built_with_tag(src):
        rows = [
            (r["beacon_id"], bytearray(encode_fixture_blob(r))) for r in _RECORDS
        ]
        schema = StructType(
            [StructField("beacon_id", LongType()), StructField("blob", BinaryType())]
        )
        (
            spark.createDataFrame(rows, schema)
            .repartitionByRange(4, "beacon_id")
            .write.mode("overwrite")
            .parquet(src)
        )
        _stamp_tag(src)
    blob_schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(blob_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    parsed = from_hive_beacon(stream)
    bronze = parsed.select(
        "beacon_id",
        "os_name",
        "mac",
        "uptime_s",
        "beacon_ip",
        F.timestamp_seconds(
            F.lit(_BASE_EPOCH) + F.col("beacon_id") * _RECV_STEP_S
        ).alias("recv_ts"),
    ).withWatermark("recv_ts", "30 minutes")
    return run_to_memory(bronze, "append")


# --- Python DataSource API (custom `hive_beacons` format) -------------------


def _pyds_landing(spark: SparkSession, sf_dir: str) -> str:
    """Framed datagram shard files (sources/pyds.py wire format),
    good + corrupt records, built once per fixture generation."""
    from ..catalog import work_dir
    from ..sources.beacons import bad_fixture_blobs, encode_fixture_blob
    from ..sources.pyds import write_datagram_shards

    path = work_dir(sf_dir, "pyds_landing")
    if not _built_with_tag(path):
        os.makedirs(path, exist_ok=True)
        recs = [
            (r["beacon_id"], encode_fixture_blob(r)) for r in _RECORDS
        ] + bad_fixture_blobs()
        write_datagram_shards(path, recs)
        _stamp_tag(path)
    return path


def _pyds_batch_expected() -> list[tuple]:
    """Expected (shard, os_name, parse_ok, n, total_uptime) for shard < 6,
    computed from the encoder's input — the source+decode chain must
    reproduce it exactly."""
    from ..sources.beacons import _BAD_ID_BASE, bad_fixture_blobs
    from ..sources.pyds import shard_of

    agg: dict[tuple, list] = {}
    for r in _RECORDS:
        s = shard_of(r["beacon_id"])
        if s >= 6:
            continue
        key = (s, OS_NAMES[r["os"]], "true")
        cur = agg.setdefault(key, [0, 0])
        cur[0] += 1
        cur[1] += r["uptime_s"]
    for bid, _ in bad_fixture_blobs():
        s = shard_of(bid)
        if s >= 6:
            continue
        cur = agg.setdefault((s, None, "false"), [0, None])
        cur[0] += 1
    return [(s, osn, ok, n, tot) for (s, osn, ok), (n, tot) in sorted(
        agg.items(), key=lambda kv: (kv[0][0], kv[0][1] or "", kv[0][2])
    )]


_PYDS_BATCH_COLS = ["shard", "os_name", "parse_ok", "n", "total_uptime"]


@register(
    "domain_pyds_scan",
    oracle=(
        "SELECT CAST(shard AS INT) AS shard, os_name, parse_ok, "
        "CAST(n AS BIGINT) AS n, CAST(total_uptime AS BIGINT) AS total_uptime "
        f"FROM {_values(_pyds_batch_expected(), _PYDS_BATCH_COLS)}"
    ),
    tags=("domain", "source", "python-datasource", "pushdown", "codec"),
)
def domain_pyds_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 pyspark.sql.datasource): the
    `hive_beacons` batch format reads framed datagram shard files as
    (shard, beacon_id, blob) with one InputPartition per shard file, the
    `shard < 6` predicate handled in the source's pushFilters (two whole
    files are never opened — the Python answer to partition pruning),
    then the standard from_hive_beacon decode and a per-shard/OS rollup.
    Corrupt datagrams surface as parse_ok='false' groups, never task
    failures. The oracle is the encoder's input re-aggregated in Python:
    transport framing, pruning, decode, or rollup defects all break the
    hash.

    Scale: the landing list is the only driver-side state; shard files
    read in parallel on executors; at 100 TB this source is thousands of
    shards behind the same three-column contract.
    """
    from ..sources.beacons import from_hive_beacon
    from ..sources.pyds import register_datasource

    prep(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_datasource(spark)
    path = _pyds_landing(spark, sf_dir)
    raw = (
        spark.read.format("hive_beacons")
        .option("path", path)
        .load()
        .where(F.col("shard") < 6)
    )
    decoded = from_hive_beacon(raw.select("beacon_id", "blob")).join(
        raw.select("beacon_id", "shard"), "beacon_id"
    )
    return (
        decoded.groupBy("shard", "os_name", "parse_ok")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("uptime_s").alias("total_uptime"),
        )
    )


def _pyds_stream_expected() -> list[tuple]:
    agg: dict[str, int] = {}
    for r in _RECORDS:
        agg[OS_NAMES[r["os"]]] = agg.get(OS_NAMES[r["os"]], 0) + 1
    return sorted(agg.items())


@register(
    "stream_pyds_source",
    oracle=(
        "SELECT os_name, CAST(n AS BIGINT) AS n "
        f"FROM {_values(_pyds_stream_expected(), ['os_name', 'n'])}"
    ),
    tags=("streaming", "source", "python-datasource", "codec"),
)
def stream_pyds_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same custom format as a STREAMING source: the
    SimpleDataSourceStreamReader serves one datagram shard per
    micro-batch ({"shard": k} offsets, replayable for checkpoint
    recovery), so the 202-datagram landing drains over 8 incremental
    batches into a complete-mode per-OS rollup; corrupt datagrams are
    filtered by parse_ok after decode. The final table must equal the
    batch rollup of the same landing — micro-batch slicing cannot
    change a complete-mode aggregate once the source is caught up.
    """
    import time
    import uuid

    from ..sources.beacons import from_hive_beacon
    from ..sources.pyds import register_datasource

    prep(spark)
    register_datasource(spark)
    path = _pyds_landing(spark, sf_dir)
    stream = spark.readStream.format("hive_beacons").option("path", path).load()
    agg = (
        from_hive_beacon(stream.select("beacon_id", "blob"))
        .where(F.col("parse_ok") == "true")
        .groupBy("os_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"pyds_stream_{uuid.uuid4().hex[:8]}"
    import tempfile

    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="pyds_ck_"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    expected_total = len(_RECORDS)
    deadline = time.time() + 120
    while time.time() < deadline:
        try:
            got = spark.table(name).agg(F.sum("n")).collect()[0][0]
        except Exception:
            got = None
        if got == expected_total:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    return spark.table(name)


def _pyds_os_expected() -> list[tuple]:
    """(os_name, n, n_blob_ok) — writer round trips must be byte-exact."""
    return [(osn, n, n) for osn, n in _pyds_stream_expected()]


@register(
    "io_pyds_writer",
    oracle=(
        "SELECT os_name, CAST(n AS BIGINT) AS n, "
        "CAST(n_blob_ok AS BIGINT) AS n_blob_ok "
        f"FROM {_values(_pyds_os_expected(), ['os_name', 'n', 'n_blob_ok'])}"
    ),
    tags=("sink", "source", "python-datasource", "commit-protocol"),
)
def io_pyds_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER (two-phase commit): the fixture
    blobs are written through df.write.format('hive_beacons') — each
    task frames rows into a hidden temp file, the driver's commit()
    atomically publishes them (abort() removes them, so a half-failed
    write is never readable) — then read back through the matching
    source, decoded, and byte-compared (md5) against the originals.
    n_blob_ok must equal n per OS: the transport is byte-exact both
    directions. Scale: tasks write independently, the driver touches
    only commit messages — the same O(tasks) commit protocol any
    object-store sink uses.
    """
    import shutil

    from ..catalog import work_dir
    from ..sources.beacons import fixture_blobs_df, from_hive_beacon
    from ..sources.pyds import register_datasource

    prep(spark)
    register_datasource(spark)
    sink = work_dir(sf_dir, "pyds_sink_batch")
    shutil.rmtree(sink, ignore_errors=True)
    orig = fixture_blobs_df(spark).repartition(4)
    orig.write.format("hive_beacons").mode("overwrite").option("path", sink).save()
    back = spark.read.format("hive_beacons").option("path", sink).load()
    decoded = from_hive_beacon(back.select("beacon_id", "blob"))
    matched = (
        back.select("beacon_id", F.md5("blob").alias("m_back"))
        .join(orig.select("beacon_id", F.md5("blob").alias("m_orig")), "beacon_id")
        .select(
            "beacon_id",
            (F.col("m_back") == F.col("m_orig")).cast("int").alias("ok"),
        )
    )
    return (
        decoded.select("beacon_id", "os_name")
        .join(matched, "beacon_id")
        .groupBy("os_name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("ok").alias("n_blob_ok"))
    )


@register(
    "stream_pyds_sink",
    oracle=(
        "SELECT os_name, CAST(n AS BIGINT) AS n "
        f"FROM {_values(_pyds_stream_expected(), ['os_name', 'n'])}"
    ),
    tags=("streaming", "sink", "python-datasource", "commit-protocol"),
)
def stream_pyds_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource STREAMING sink: the 4-file blob stream
    drains through writeStream.format('hive_beacons') with a per-batch
    two-phase commit whose target names embed the batch id — commit()
    clears the batch's namespace before publishing, so an at-least-once
    replay rewrites its own files instead of duplicating datagrams
    (the idempotency contract of the foreachBatch upsert, expressed as
    a reusable sink). The sunk landing read back through the batch
    source must reproduce the per-OS census exactly.
    """
    import shutil

    from ..catalog import work_dir
    from ..sources.beacons import from_hive_beacon
    from ..sources.pyds import register_datasource

    prep(spark)
    register_datasource(spark)
    src = work_dir(sf_dir, "beacon_stream")
    if not _built_with_tag(src):
        # same landing stream_beacon_ingest builds; build if absent
        from ..queries import QUERIES

        QUERIES["stream_beacon_ingest"].fn(spark, sf_dir)
    sink = work_dir(sf_dir, "pyds_sink_stream")
    ck = sink + "_ckpt"
    for d in (sink, ck):
        shutil.rmtree(d, ignore_errors=True)
    blob_schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(blob_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(F.lit(0).alias("shard"), "beacon_id", "blob")
    )
    q = (
        stream.writeStream.format("hive_beacons")
        .option("path", sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.format("hive_beacons").option("path", sink).load()
    return (
        from_hive_beacon(back.select("beacon_id", "blob"))
        .groupBy("os_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
