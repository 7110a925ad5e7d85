"""Table catalog: loaders for the driver-generated parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings, one parquet file per table under an sf dir.

Scale note (100 TB design point): these are plain parquet scans — Catalyst
pushes predicates and prunes columns into the vectorized parquet reader.
On a cluster the fact tables (lineitem/orders/events/documents) would be
written partitioned (e.g. by month of the time column) so partition pruning
kicks in; the small dims (region: 5 rows, nation: 25 rows) are always
broadcast — `dim()` wraps them in an explicit broadcast hint.
"""

from __future__ import annotations

import hashlib
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WORK_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".work")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Tables small enough (fixed cardinality, independent of SF) to always broadcast.
BROADCAST_TABLES = frozenset({"region", "nation"})


# Memo of lazy DataFrame handles: spark.read.parquet does an eager file
# listing + footer schema read per call, which dominates latency for
# repeated small queries. DataFrames are immutable, so reusing the handle
# per (application, path) is safe. Keyed by applicationId (stable per
# SparkContext, never recycled) rather than id(spark): CPython can reuse
# an id() after a stopped session is collected, which would hand back
# handles bound to a dead session.
_HANDLES: dict[tuple[str, str, str], DataFrame] = {}


def build_lock(path: str):
    """Exclusive advisory lock serializing concurrent builders of one
    derived fixture dir (pytest-xdist workers, a parallel bench run):
    check-marker / rebuild / stamp-marker is not atomic, so two sessions
    interleaving over the same sf_dir could let one reader see a
    partially rewritten fixture before the marker lands (round-8 ADVICE).
    The lock file is a SIBLING of the fixture dir (`<path>.lock`), never
    inside it — a builder's rmtree would delete an in-dir lock file and
    later openers would lock a fresh inode, silently splitting the lock.
    Callers re-check the fingerprint marker AFTER acquiring: the peer
    that held the lock usually just built the fixture."""
    import fcntl
    from contextlib import contextmanager

    @contextmanager
    def _lock():
        lf = os.path.normpath(path) + ".lock"
        os.makedirs(os.path.dirname(lf), exist_ok=True)
        with open(lf, "a+", encoding="utf-8") as fh:
            fcntl.flock(fh.fileno(), fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(fh.fileno(), fcntl.LOCK_UN)

    return _lock()


def write_atomic(dest: str, text: str) -> None:
    """Write-temp-then-os.replace so no reader ever opens a half-written
    file; used for fixture data files and ALWAYS for the fingerprint
    marker (the marker landing last + atomically is what makes the
    fast-path marker check safe without taking the lock)."""
    tmp = f"{dest}.tmp.{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(text)
    os.replace(tmp, dest)


def marker_current(marker: str, fingerprint: str) -> bool:
    try:
        with open(marker, encoding="utf-8") as fh:
            return fh.read() == fingerprint
    except OSError:
        return False


def _work_key(sf_dir: str) -> tuple[str, str]:
    src = os.path.abspath(sf_dir)
    tag = os.path.basename(src)
    # A corpus living directly under WORK_DIR (e.g. a regenerated native
    # sf1 at .work/sf1_native) must not have its derived files written
    # into itself (directory-scanning readers then trip on the extra
    # roots); they go to a sibling namespace.
    if os.path.dirname(src) == os.path.abspath(WORK_DIR):
        tag += "_fx"
    return tag, hashlib.sha1(src.encode()).hexdigest()[:12]


def work_dir(sf_dir: str, kind: str) -> str:
    """Where the engine keeps what it derives from input dir `sf_dir`
    (compacted copies, bucketed tables, fixtures, stream checkpoints):
    .work/<base name>/<kind>/<digest of the absolute path>. The digest
    keeps two input dirs with one base name apart; everything stays
    under .work/<base name>/, so removing that directory drops every
    derived file of the dir."""
    tag, digest = _work_key(sf_dir)
    return os.path.join(WORK_DIR, tag, kind, digest)


def work_table(sf_dir: str, stem: str) -> str:
    """Session-catalog name for a table kept under work_dir(sf_dir, ...),
    unique per input dir like the path."""
    return re.sub(r"\W", "_", "_".join((stem, *_work_key(sf_dir))))


def _opt_path(sf_dir: str, name: str) -> str:
    return os.path.join(work_dir(sf_dir, "opt"), name)


def _src_fingerprint(sf_dir: str, name: str) -> str:
    """Identity of the raw landing source (size + mtime): the compacted
    copy is only valid for the exact source it was built from. A
    multi-file landing is a DIRECTORY whose own st_size says nothing
    about the data — fold the contained data files recursively (same
    contract as queries.formats._src_fingerprint) so a rewritten part
    file invalidates the compacted copy."""
    p = f"{sf_dir}/{name}.parquet"
    st = os.stat(p)
    if not os.path.isdir(p):
        return f"{st.st_size}:{st.st_mtime_ns}"
    total = 0
    newest = 0
    for dirpath, dirnames, filenames in os.walk(p):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith(("_", ".")))
        for fname in sorted(filenames):
            if fname.startswith(("_", ".")):
                continue
            s = os.stat(os.path.join(dirpath, fname))
            total += s.st_size
            newest = max(newest, s.st_mtime_ns)
    return f"dir:{total}:{newest}"


def _opt_is_current(sf_dir: str, name: str) -> bool:
    opt = _opt_path(sf_dir, name)
    tag = os.path.join(opt, "_SRC_FINGERPRINT")
    try:
        with open(tag, encoding="utf-8") as fh:
            return fh.read() == _src_fingerprint(sf_dir, name)
    except OSError:
        return False


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events `ts` column to a session-tz (UTC) timestamp.

    The driver's landing file has shipped two encodings across rounds:
    int64 TIMESTAMP(NANOS) (read as bigint under the legacy nanosAsLong
    conf) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as
    timestamp_ntz). Both normalize to the same instant DuckDB sees —
    callers run session.prep first, so the NTZ cast interprets the naive
    value as UTC."""
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .session import prep

    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # The source fingerprint is part of the memo key: a regenerated
    # landing file must invalidate a cached handle (a compacted-copy
    # handle would otherwise keep serving stale data — the fingerprint
    # guard below only runs on a memo miss).
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        name,
        _src_fingerprint(sf_dir, name),
    )
    if key in _HANDLES:
        return _HANDLES[key]
    prep(spark)  # idempotent; needed before schema resolution (nanos conf)
    # Prefer the split-friendly compacted copy when the ingest layer has
    # built one (optimize_tables) AND it still matches the raw landing
    # file (size+mtime fingerprint — a regenerated source must never be
    # served from a stale compaction): the driver-generated files are a
    # single parquet row group each, which pins every scan to ONE task no
    # matter the core count — the compacted layout restores parallelism.
    opt = _opt_path(sf_dir, name)
    src = opt if _opt_is_current(sf_dir, name) else f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(src)
    if name == "events":
        df = normalize_events_ts(df)
    _HANDLES[key] = df
    return df


def optimize_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TABLES,
    chunks: int | None = None,
) -> None:
    """Ingest-layer compaction: rewrite each landing parquet into a
    multi-file layout so scans split across the cluster.

    This is the 100 TB posture made literal at bench scale — no engine
    keeps terabyte tables as one row group; landing data is compacted into
    split-sized files (and, for the real deployment, partitioned /
    bucketed — see SCALE.md) as the first step of ingestion. Queries are
    byte-identical over either layout; only scan parallelism changes.
    Idempotent: each table is rewritten once per sf dir.
    """
    from .session import prep

    prep(spark)
    n = chunks or spark.sparkContext.defaultParallelism
    for name in tables:
        dst = _opt_path(sf_dir, name)
        if _opt_is_current(sf_dir, name):
            continue
        with build_lock(dst):
            if _opt_is_current(sf_dir, name):
                continue  # a concurrent session built it while we waited
            # Capture the fingerprint BEFORE reading: if the source is
            # regenerated mid-compaction, the stale copy gets stamped with
            # the OLD identity and the next check correctly rebuilds.
            fp = _src_fingerprint(sf_dir, name)
            raw = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            # Small dims stay single-file (splitting 5 rows buys nothing).
            parts = 1 if name in BROADCAST_TABLES else n
            raw.repartition(parts).write.mode("overwrite").parquet(dst)
            write_atomic(os.path.join(dst, "_SRC_FINGERPRINT"), fp)
        # Invalidate memoized handles that still point at the raw file.
        key = (spark.sparkContext.applicationId, sf_dir, name, fp)
        _HANDLES.pop(key, None)


def bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    key: str,
    buckets: int = 8,
) -> DataFrame:
    """A hash-bucketed, per-bucket-sorted copy of a landing table,
    registered in the session catalog so joins/aggregations on `key` read
    the layout's distribution and skip their shuffle entirely.

    This is SCALE.md's bucketing posture made executable: at 100 TB the
    fact tables are written once, bucketed by their join key, and every
    subsequent key-join or key-agg against them is exchange-free (the
    ingest pays one shuffle; every query after that pays zero). Bucket
    files are written once per (sf, table, key) and fingerprint-guarded
    like the compaction copies; a later session re-attaches the existing
    files with a CREATE TABLE ... CLUSTERED BY DDL instead of rewriting
    (bucket identity is carried in the file names, so registration is
    metadata-only). Bucket count is fixed at write time — on a cluster
    you size it to target-file-size at the table's full volume, not to
    the core count of any one reader.
    """
    from .session import prep

    prep(spark)
    tbl = work_table(sf_dir, f"{name}_by_{key}_{buckets}")
    path = os.path.join(work_dir(sf_dir, "bucket"), f"{name}_by_{key}_{buckets}")
    tag = os.path.join(path, "_SRC_FINGERPRINT")
    fp = _src_fingerprint(sf_dir, name)
    if not marker_current(tag, fp):
        with build_lock(path):
            if not marker_current(tag, fp):
                _write_buckets(spark, sf_dir, name, key, buckets, tbl, path)
                write_atomic(tag, fp)
    if not spark.catalog.tableExists(tbl):
        # Files are current but this session's (in-memory) catalog has
        # never seen them: attach metadata-only. Spark reads the bucket id
        # from each file's _NNNNN name suffix, so no data moves. Schema
        # comes from the SOURCE landing, never inference over the bucket
        # dir — a zero-row slice's bucketed write emits no data files and
        # inference would abort (the bucketed copy is a column-identical
        # rewrite of the landing, so the schemas agree by construction).
        schema = table(spark, sf_dir, name).schema
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema)
        spark.sql(
            f"CREATE TABLE {tbl} ({cols}) USING PARQUET "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {buckets} BUCKETS "
            f"LOCATION '{path}'"
        )
    return spark.table(tbl)


def _write_buckets(spark, sf_dir, name, key, buckets, tbl, path):
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        # repartition on the BUCKET key first: DataFrame hash
        # partitioning and bucket-id assignment use the same
        # pmod(murmur3) function, so each write task holds exactly
        # one bucket and emits ONE file per bucket. That single-file
        # property is load-bearing: a one-file bucket lets the scan
        # report the SORTED BY ordering, so key-joins skip the Sort
        # as well as the Exchange (multi-file buckets force a
        # read-side sort — measured 3x slower at 15M rows,
        # tools/bucket_probe.py).
        table(spark, sf_dir, name)
        .repartition(buckets, F.col(key))
        .write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(tbl)
    )


def dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A dimension table wrapped in a broadcast hint (skips the shuffle)."""
    return F.broadcast(table(spark, sf_dir, name))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() can see them."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
