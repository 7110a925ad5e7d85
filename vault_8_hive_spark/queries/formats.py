"""Source/sink formats (SURVEY.md §2B scan/sink rows): schema'd CSV and
JSON scans, partitioned parquet write + read-back.

The CSV/JSON fixtures are derived deterministically from the parquet
tables themselves (written once per (sf, table) under .work/), so the
oracle can check the full write -> scan round trip against the original
table. The partitioned-write query proves partition pruning survives the
engine's own sink layout.

Scale: CSV/JSON scans parallelize per file split like parquet (minus
pushdown — only parquet gets predicate/projection pushdown, which is why
the bronze/silver layers always land as parquet); partitioned writes are
the mechanism behind SCALE.md's partition-pruning story.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..catalog import build_lock, marker_current, table, work_dir, write_atomic
from ..session import prep
from . import register


def _ensure_csv(spark: SparkSession, sf_dir: str) -> str:
    """nation as a headered CSV (written once, deterministic content)."""
    path = work_dir(sf_dir, "nation_csv")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            table(spark, sf_dir, "nation")
            .coalesce(1)
            .write.mode("overwrite")
            .option("header", True)
            .csv(path)
        )
    return path


def _ensure_json(spark: SparkSession, sf_dir: str) -> str:
    """supplier as JSON-lines."""
    path = work_dir(sf_dir, "supplier_json")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        table(spark, sf_dir, "supplier").coalesce(1).write.mode("overwrite").json(path)
    return path


NATION_SCHEMA = "n_nationkey INT, n_name STRING, n_regionkey INT"
SUPPLIER_SCHEMA = "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"


@register(
    "scan_csv_schema",
    oracle="""
SELECT n_regionkey, COUNT(*) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation
GROUP BY n_regionkey
""",
    tags=("scan", "csv"),
)
def scan_csv_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-schema CSV scan (no inferSchema — a full extra pass at
    scale): engine-written CSV read back and aggregated; must equal the
    parquet original."""
    prep(spark)
    path = _ensure_csv(spark, sf_dir)
    df = spark.read.schema(NATION_SCHEMA).option("header", True).csv(path)
    return df.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
    )


@register(
    "scan_json_schema",
    oracle="""
SELECT s_nationkey, COUNT(*) AS n_supp,
       CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(28,4))), 4) AS DOUBLE) AS total_bal
FROM supplier
GROUP BY s_nationkey
""",
    tags=("scan", "json"),
)
def scan_json_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-schema JSON-lines scan, same round-trip contract."""
    prep(spark)
    path = _ensure_json(spark, sf_dir)
    df = spark.read.schema(SUPPLIER_SCHEMA).json(path)
    return df.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.round(F.sum(F.col("s_acctbal").cast("decimal(28,4)")), 4)
        .cast("double")
        .alias("total_bal"),
    )


def _ensure_orders_by_year(spark: SparkSession, sf_dir: str) -> str:
    path = work_dir(sf_dir, "orders_by_year")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            table(spark, sf_dir, "orders")
            .withColumn("order_year", F.year("o_orderdate"))
            .write.mode("overwrite")
            .partitionBy("order_year")
            .parquet(path)
        )
    return path


def _read_orders_by_year(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """Schema-EXPLICIT read of the partitioned landing. A zero-row
    slice's partitionBy write emits only _SUCCESS, and schema inference
    over a directory with no data files aborts the read — so the reader
    never infers: the schema is the writer's source schema (the 100 TB
    posture regardless; inference costs a listing pass and drifts when
    a producer evolves)."""
    schema = (
        table(spark, sf_dir, "orders")
        .withColumn("order_year", F.year("o_orderdate"))
        .schema
    )
    return spark.read.schema(schema).parquet(path)


@register(
    "sink_partitioned_parquet",
    oracle="""
SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderstatus, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,4))), 4) AS DOUBLE) AS total
FROM orders
WHERE year(o_orderdate) IN (1996, 1997)
GROUP BY 1, 2
""",
    tags=("sink", "parquet", "partition-pruning"),
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders partitioned by year, read back with a partition filter
    (pruned to 2 of 7 directories — the physical layout behind SCALE.md's
    pruning claim), aggregate, and match the unpartitioned original."""
    prep(spark)
    path = _ensure_orders_by_year(spark, sf_dir)
    df = _read_orders_by_year(spark, sf_dir, path).where(
        F.col("order_year").isin(1996, 1997)
    )
    return df.groupBy("order_year", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(28,4)")), 4)
        .cast("double")
        .alias("total"),
    )


@register(
    "sink_orc_roundtrip",
    oracle="""
SELECT p_type, p_brand, COUNT(*) AS n_parts,
       CAST(ROUND(SUM(CAST(p_retailprice AS DECIMAL(28,4))), 4) AS DOUBLE) AS total_price
FROM part
GROUP BY p_type, p_brand
""",
    tags=("sink", "scan", "orc"),
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan round trip: part written as ORC once, read back and
    aggregated; must equal the parquet original. ORC is the other columnar
    format with predicate pushdown/pruning in Spark — interchange with
    ORC-based warehouses without a correctness cliff."""
    prep(spark)
    path = work_dir(sf_dir, "part_orc")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        table(spark, sf_dir, "part").write.mode("overwrite").orc(path)
    df = spark.read.orc(path)
    return df.groupBy("p_type", "p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.sum(F.col("p_retailprice").cast("decimal(28,4)")), 4)
        .cast("double")
        .alias("total_price"),
    )


@register(
    "join_dynamic_partition_pruning",
    oracle="""
SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,4))), 4) AS DOUBLE) AS total
FROM orders
WHERE year(o_orderdate) IN (
  SELECT DISTINCT year(l_shipdate) FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
)
GROUP BY order_year, o_orderstatus
""",
    tags=("scan", "join", "partition-pruning", "dpp"),
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the year-partitioned orders layout is
    joined to a dim derived at RUNTIME (distinct ship-years of a
    filtered lineitem scan) — no literal ever touches the fact side, yet
    Spark injects a dynamicpruning# subquery into the fact scan's
    PartitionFilters, so only the joined years' directories are read
    (asserted in tests/test_plans.py). At 100 TB this is THE mechanism
    that makes star joins over date-partitioned facts affordable: the
    dim filter prunes fact partitions before any fact byte is read,
    with no pipeline-author involvement."""
    prep(spark)
    path = _ensure_orders_by_year(spark, sf_dir)
    fact = _read_orders_by_year(spark, sf_dir, path)
    dim = (
        table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select(F.year("l_shipdate").alias("yr"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), fact.order_year == dim.yr)
        .groupBy("order_year", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(28,4)")), 4)
            .cast("double")
            .alias("total"),
        )
    )


@register(
    "io_schema_evolution",
    oracle="""
WITH v1 AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
),
v2 AS (
  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders WHERE o_orderkey % 2 = 1
),
unioned AS (
  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority FROM v1
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderpriority FROM v2
)
SELECT COALESCE(o_orderpriority, '(pre-evolution)') AS priority,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,4))), 4) AS DOUBLE) AS total
FROM unioned
GROUP BY priority
""",
    tags=("scan", "schema-evolution", "mergeSchema"),
)
def io_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet generations of the same
    table — an old layout without o_orderpriority and a new layout with
    it — read as ONE DataFrame via mergeSchema, with the missing column
    null-filled for old files. This is the append-only table lifecycle
    every long-lived 100 TB dataset goes through (columns arrive;
    history is never rewritten), and the query charges the pre-evolution
    rows to an explicit bucket.

    Footer-merge cost note: mergeSchema reads every file's footer at
    planning time — on a million-file table the production posture is a
    catalog-declared schema (the DDL-attach path bucketed_table uses)
    with parquet's per-file missing-column null-fill doing the same
    work; mergeSchema is the discovery-time tool."""
    import os

    from ..catalog import _src_fingerprint

    prep(spark)
    base = os.path.join(work_dir(sf_dir, "evolve"), "orders")
    orders = table(spark, sf_dir, "orders")
    # Fingerprint-guard the derived generations: a regenerated landing
    # file must rebuild them (same contract as catalog compaction).
    fp = _src_fingerprint(sf_dir, "orders")
    tag = os.path.join(base, "_SRC_FINGERPRINT")
    if not marker_current(tag, fp):
        with build_lock(base):
            if not marker_current(tag, fp):
                (
                    orders.where(F.col("o_orderkey") % 2 == 0)
                    .select("o_orderkey", "o_totalprice")
                    .write.mode("overwrite")
                    .parquet(os.path.join(base, "gen1"))
                )
                (
                    orders.where(F.col("o_orderkey") % 2 == 1)
                    .select("o_orderkey", "o_totalprice", "o_orderpriority")
                    .write.mode("overwrite")
                    .parquet(os.path.join(base, "gen2"))
                )
                os.makedirs(base, exist_ok=True)
                write_atomic(tag, fp)
    evolved = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen1"), os.path.join(base, "gen2")
    )
    return (
        evolved.groupBy(
            F.coalesce("o_orderpriority", F.lit("(pre-evolution)")).alias("priority")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(28,4)")), 4)
            .cast("double")
            .alias("total"),
        )
    )


@register(
    "io_observed_metrics",
    oracle="""
SELECT 'n_rows' AS metric, CAST(COUNT(*) AS DOUBLE) AS value
FROM lineitem WHERE l_quantity >= 10
UNION ALL
SELECT 'sum_qty', CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,4))), 4) AS DOUBLE)
FROM lineitem WHERE l_quantity >= 10
UNION ALL
SELECT 'null_comments', CAST(COUNT(*) FILTER (WHERE l_returnflag IS NULL) AS DOUBLE)
FROM lineitem WHERE l_quantity >= 10
UNION ALL
SELECT 'max_price', CAST(ROUND(MAX(l_extendedprice), 2) AS DOUBLE)
FROM lineitem WHERE l_quantity >= 10
""",
    tags=("scan", "observability", "metrics"),
)
def io_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query observability via df.observe(): data-quality metrics (row
    count, quantity total, null count, distinct flags) piggybacked on a
    pass the pipeline was making ANYWAY — the audit pattern that at
    100 TB replaces a second full scan per quality check with free
    accumulator-style aggregates collected during the main action.

    The observed pass here is the filtered scan itself; after the
    action, Observation.get hands the driver the metric row, which this
    entry surfaces as a (metric, value) DataFrame so the oracle can
    recompute each metric relationally. Only the metric VALUES cross
    the driver — the observed query's own result stays distributed."""
    from pyspark.sql import Observation

    prep(spark)
    li = table(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 10)
    obs = Observation("ingest_audit")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(28,4)")), 4)
        .cast("double")
        .alias("sum_qty"),
        F.count_if(F.col("l_returnflag").isNull()).alias("null_comments"),
        # DISTINCT aggregates are rejected inside observed metrics
        # (single-pass accumulator contract) — sketch metrics
        # (approx_count_distinct) are the supported cardinality probe.
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )
    # The pipeline's own action (here a count; in production the write).
    observed.count()
    m = obs.get

    def _f(v):
        # SUM/MAX observe as None when the filter matched zero rows (a
        # degenerate draw) — surface NULL, matching the oracle's SQL
        # aggregates over the same empty set.
        return None if v is None else float(v)

    return spark.createDataFrame(
        [
            ("n_rows", _f(m["n_rows"])),
            ("sum_qty", _f(m["sum_qty"])),
            ("null_comments", _f(m["null_comments"])),
            ("max_price", _f(m["max_price"])),
        ],
        "metric string, value double",
    )


def _src_fingerprint(src: str) -> str:
    """size+mtime fingerprint of a parquet source path. A multi-file
    parquet table is a DIRECTORY, whose own st_size says nothing about
    the data — fold over the contained data files (sum of sizes + newest
    mtime) so a rewritten part file invalidates derived fixtures, which
    is the regeneration contract the fixtures rely on."""
    st = os.stat(src)
    if not os.path.isdir(src):
        return f"{st.st_size}:{st.st_mtime_ns}"
    # Walk recursively: a partitioned layout (key=value/ subdirs) keeps its
    # data files below the top level, where a shallow listdir would only see
    # subdirectory inodes and miss a rewritten nested part file.
    total = 0
    newest = 0
    for dirpath, dirnames, filenames in os.walk(src):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith(("_", ".")))
        for name in sorted(filenames):
            if name.startswith(("_", ".")):
                continue
            s = os.stat(os.path.join(dirpath, name))
            total += s.st_size
            newest = max(newest, s.st_mtime_ns)
    return f"dir:{total}:{newest}"


def _ensure_corrupt_jsonl(spark: SparkSession, sf_dir: str) -> str:
    """JSONL landing with deliberate damage: (doc_id, lang) lines for
    doc_id < 100, every 10th replaced by malformed text — written as ONE
    deterministic file, fingerprinted against the source so testdata
    regeneration rebuilds it."""
    import json as _json

    path = work_dir(sf_dir, "docs_corrupt_jsonl")
    src = os.path.join(sf_dir, "documents.parquet")
    fingerprint = _src_fingerprint(src)
    marker = os.path.join(path, "_FINGERPRINT")
    if marker_current(marker, fingerprint):
        return path
    with build_lock(path):
        if marker_current(marker, fingerprint):
            return path
        rows = (
            table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 100)
            .select("doc_id", "lang")
            .orderBy("doc_id")
            .collect()  # 100 metadata-sized rows, driver-side by design
        )
        lines = []
        for r in rows:
            if r["doc_id"] % 10 == 0:
                lines.append(f'{{"doc_id": {r["doc_id"]}, "lang": UNQUOTED_GARBAGE')
            else:
                lines.append(_json.dumps({"doc_id": r["doc_id"], "lang": r["lang"]}))
        os.makedirs(path, exist_ok=True)
        # temp-then-replace for the data file, marker atomically LAST:
        # a lock-free fast-path reader either sees the old consistent
        # (file, marker) pair or the new one, never a torn file.
        write_atomic(os.path.join(path, "part-0.jsonl"), "\n".join(lines) + "\n")
        write_atomic(marker, fingerprint)
    return path


@register(
    "scan_json_corrupt",
    oracle="""
SELECT lang, COUNT(*) AS n
FROM documents WHERE doc_id < 100 AND doc_id % 10 <> 0
GROUP BY lang
UNION ALL
-- corrupt count derived from the table, not hardcoded: a regenerated
-- draw may have fewer than 100 documents (tools/regen_data.py permits
-- n_doc >= 60), so the fixture writes fewer than 10 bad lines.
SELECT '_CORRUPT_' AS lang, COUNT(*) AS n
FROM documents WHERE doc_id < 100 AND doc_id % 10 = 0
-- HAVING: on an EMPTY slice the engine's groupBy emits zero rows while
-- a bare global COUNT would emit ('_CORRUPT_', 0); identity otherwise.
HAVING COUNT(*) > 0
""",
    tags=("scan", "json", "corrupt-record", "robustness"),
)
def scan_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSON scan with corrupt-record capture: malformed lines
    land in `_corrupt_record` instead of killing the job (FAILFAST) or
    silently vanishing (DROPMALFORMED) — the operational posture for a
    100 TB landing zone where some producer WILL ship garbage, and the
    corrupt bucket must be counted and quarantined, not lost. The
    fixture plants 10 known-bad lines among 90 good ones; the oracle
    recomputes the expected split from the clean table.

    At scale the corrupt rows route to a quarantine sink
    (partitionBy on the corrupt flag) for producer-side triage."""
    prep(spark)
    path = _ensure_corrupt_jsonl(spark, sf_dir)
    df = (
        spark.read.schema("doc_id LONG, lang STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return df.groupBy(
        F.when(F.col("_corrupt_record").isNotNull(), "_CORRUPT_")
        .otherwise(F.col("lang"))
        .alias("lang")
    ).agg(F.count(F.lit(1)).alias("n"))


def _ensure_text_lines(spark: SparkSession, sf_dir: str) -> str:
    """Raw line-oriented landing file (doc_id < 200): one record per line,
    `doc_id<TAB>lang<TAB>payload`, NULL spelled `\\N` (the classic dump
    convention — an empty string and SQL NULL must survive the text
    round trip as distinct values), and TAB/CR/LF inside any field
    folded to a single space so one record is always one line. Written
    deterministically and fingerprinted against the source parquet so a
    regenerated testdata dir rebuilds it."""
    path = work_dir(sf_dir, "docs_text_lines")
    src = os.path.join(sf_dir, "documents.parquet")
    fingerprint = _src_fingerprint(src)
    marker = os.path.join(path, "_FINGERPRINT")
    if marker_current(marker, fingerprint):
        return path
    with build_lock(path):
        if marker_current(marker, fingerprint):
            return path
        rows = (
            table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 200)
            .select("doc_id", "lang", "text")
            .orderBy("doc_id")
            .collect()  # <=200 bounded rows, driver-side fixture by design
        )

        def esc(v):
            if v is None:
                return "\\N"
            return v.replace("\t", " ").replace("\r", " ").replace("\n", " ")

        os.makedirs(path, exist_ok=True)
        write_atomic(
            os.path.join(path, "part-0.txt"),
            "".join(
                f"{r['doc_id']}\t{esc(r['lang'])}\t{esc(r['text'])}\n"
                for r in rows
            ),
        )
        write_atomic(marker, fingerprint)
    return path


_O_ESC = (
    "replace(replace(replace({c}, chr(9), ' '), chr(13), ' '), chr(10), ' ')"
)


@register(
    "scan_text_lines",
    oracle=f"""
-- NULLIF mirrors the line format's \\N convention end to end: a field
-- whose DATA is the literal two characters \\N is indistinguishable
-- from NULL after the text round trip, so the oracle adopts the same
-- collapse (lossy by design of any dump format; folding can't create
-- the sequence, so only exact-literal fields are affected).
SELECT NULLIF({_O_ESC.format(c="lang")}, '\\N') AS lang,
       COUNT(*) AS n_docs,
       COUNT(CASE WHEN text IS NULL OR text = '\\N' THEN 1 END) AS n_null_text,
       CAST(COALESCE(SUM(CASE WHEN text IS NULL OR text = '\\N' THEN 0
                     ELSE len(regexp_extract_all(text, '[A-Za-z0-9]+')) END),
                     0) AS BIGINT) AS n_tokens
FROM documents WHERE doc_id < 200
GROUP BY 1
""",
    tags=("scan", "text", "lines", "ingest"),
)
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-line ingest (`spark.read.text`) + regexp silver parse:
    the log-file landing path — no schema, no delimiter inference, just
    one string column per line, parsed by expression into typed fields.
    The fixture writes docs as TAB-separated lines with `\\N` NULLs;
    the parse splits (limit 3, so a pathological payload can never
    shift fields), restores NULLs, and rolls up per-lang doc/token
    counts. The oracle recomputes the same rollup from the parquet
    table through the identical field-folding, so the text round trip
    is value-checked end to end — including the NULL-vs-empty-string
    distinction a naive CSV read destroys.

    Scale: read.text splits by line across executors like any file
    source (no driver parse); the regexp/split work is JVM codegen.
    Tokenization is whitespace-class-insensitive, so the TAB/LF->space
    folding the line format requires cannot change token counts."""
    prep(spark)
    path = _ensure_text_lines(spark, sf_dir)
    parts = F.split("value", "\t", 3)
    parsed = (
        spark.read.text(path)
        .select(
            F.element_at(parts, 1).cast("bigint").alias("doc_id"),
            F.nullif(F.element_at(parts, 2), F.lit("\\N")).alias("lang"),
            F.nullif(F.element_at(parts, 3), F.lit("\\N")).alias("payload"),
        )
    )
    toks = F.size(F.regexp_extract_all("payload", F.lit("[A-Za-z0-9]+"), 0))
    return parsed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("payload").isNull()).alias("n_null_text"),
        F.coalesce(
            F.sum(F.when(F.col("payload").isNull(), 0).otherwise(toks)),
            F.lit(0),
        ).cast("bigint").alias("n_tokens"),
    )


def _ensure_binary_blobs(spark: SparkSession, sf_dir: str) -> str:
    """One deterministic .bin file per region row (content
    '<key>|<name>\\n'), fingerprinted against the source parquet so a
    regenerated testdata dir rebuilds the blobs."""
    path = work_dir(sf_dir, "binary_blobs")
    marker = os.path.join(path, "_FINGERPRINT")
    src = f"{sf_dir}/region.parquet"
    fingerprint = _src_fingerprint(src)
    if not marker_current(marker, fingerprint):
        import shutil

        with build_lock(path):
            if marker_current(marker, fingerprint):
                return path
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path, exist_ok=True)
            rows = table(spark, sf_dir, "region").collect()  # 5-row dim
            for r in rows:
                blob = f"{r['r_regionkey']}|{r['r_name']}\n"
                write_atomic(
                    os.path.join(path, f"region_{r['r_regionkey']}.bin"), blob
                )
            write_atomic(marker, fingerprint)
    return path


@register(
    "scan_binary_files",
    oracle="""
SELECT 'region_' || CAST(r_regionkey AS VARCHAR) || '.bin' AS file,
       CAST(LENGTH(CAST(r_regionkey AS VARCHAR) || '|' || r_name) + 1
         AS BIGINT) AS length,
       md5(CAST(r_regionkey AS VARCHAR) || '|' || r_name || chr(10))
         AS content_md5,
       CAST(r_regionkey AS INT) AS parsed_key
FROM region
""",
    tags=("scan", "binary", "multimodal", "io"),
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in `binaryFile` source — the ingestion shape every
    multimodal pipeline starts from (images/audio land as opaque files;
    the engine reads path + length + raw bytes as columns and the
    decode UDFs take over, cf. operators/multimodal.py). The judged
    contract round-trips REAL bytes: deterministic per-region blob
    files are written to the work dir, read back through binaryFile,
    and both the md5 of the raw bytes and a field parsed OUT of the
    bytes must match what the oracle recomputes from the region table —
    proving content, not just metadata, flows through the source.

    Scale: binaryFile parallelizes by file (maxPartitionBytes applies
    per file, whole-file rows), so a 100 TB image corpus reads with one
    task per file-split group; pair with
    spark.sql.files.maxRecordsPerFile-style batching upstream when
    files are tiny (the small-files problem is the source's known sharp
    edge — compact blobs into parquet binary columns, the
    multimodal_suite layout, once past ingest)."""
    prep(spark)
    path = _ensure_binary_blobs(spark, sf_dir)
    # pathGlobFilter over the DIRECTORY, not a glob-in-path: binaryFile
    # has a static schema, so a blob-less landing (empty slice) reads as
    # zero rows where the glob form aborts with PATH_NOT_FOUND.
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
    )
    text = F.decode(F.col("content"), "UTF-8")
    return blobs.select(
        F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("file"),
        F.col("length").cast("bigint").alias("length"),
        F.md5(F.col("content")).alias("content_md5"),
        F.split(text, r"\|").getItem(0).cast("int").alias("parsed_key"),
    )


def _ensure_rangefiles(spark: SparkSession, sf_dir: str) -> str:
    """Orders written as range-partitioned files (repartitionByRange on
    o_orderkey, 8 files) — the zone-map fixture: each file covers a
    near-disjoint key range, so a min/max manifest can prune most of
    them. Fingerprinted against the source parquet so a regenerated
    testdata dir rebuilds the layout."""
    path = work_dir(sf_dir, "orders_rangefiles")
    marker = os.path.join(path, "_FINGERPRINT")
    src = f"{sf_dir}/orders.parquet"
    fingerprint = _src_fingerprint(src)
    if marker_current(marker, fingerprint):
        return path
    with build_lock(path):
        if marker_current(marker, fingerprint):
            return path
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        (
            table(spark, sf_dir, "orders")
            .repartitionByRange(8, "o_orderkey")
            .write.mode("overwrite")
            .parquet(path)
        )
        write_atomic(marker, fingerprint)
    return path


def zonemap_pruned_scan(spark: SparkSession, path: str, lo: int, hi: int):
    """Zone-map (min/max manifest) file pruning: build the per-file
    manifest with ONE metadata-cheap aggregate, select the files whose
    [min, max] key range overlaps the predicate, and return (pruned
    DataFrame over only those files, n_files_total, n_files_selected).

    This is the engine-level data-skipping mechanism every table format
    (Delta/Iceberg zone maps, parquet row-group stats) implements — done
    here explicitly over vanilla parquet: at 100 TB the manifest is a
    tiny table maintained incrementally at write time (not rebuilt per
    query, as this demo does) and the file list feeds the scan, turning
    a full-corpus scan into an O(selectivity) one even when the
    predicate column is not the partition column."""
    files = spark.read.parquet(path).select(
        F.input_file_name().alias("f"), F.col("o_orderkey").alias("k")
    )
    manifest = files.groupBy("f").agg(
        F.min("k").alias("kmin"), F.max("k").alias("kmax")
    )
    rows = manifest.collect()  # one row per FILE — manifest-sized, tiny
    selected = [r["f"] for r in rows if r["kmax"] >= lo and r["kmin"] <= hi]
    pruned = spark.read.parquet(*selected) if selected else spark.read.parquet(path).limit(0)
    return pruned, len(rows), len(selected)


@register(
    "scan_zonemap_prune",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,4))), 4) AS DOUBLE)
         AS total_price
FROM orders
WHERE o_orderkey BETWEEN 1000 AND 20000
GROUP BY o_orderstatus
""",
    tags=("scan", "zone-map", "data-skipping", "pruning"),
)
def scan_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping over vanilla parquet: orders laid out as
    range-partitioned files, a min/max manifest built per file, and a
    key-range query answered by reading ONLY the overlapping files
    (tests/test_plans.py asserts fewer files are read than exist). The
    result must equal the same predicate over the full table — pruning
    is an optimization, never a semantics change, which is exactly what
    the oracle checks."""
    prep(spark)
    path = _ensure_rangefiles(spark, sf_dir)
    pruned, _total, _sel = zonemap_pruned_scan(spark, path, 1000, 20000)
    return (
        pruned.where(F.col("o_orderkey").between(1000, 20000))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
            F.max("o_orderkey").cast("bigint").alias("max_key"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(28,4)")), 4)
            .cast("double")
            .alias("total_price"),
        )
    )


def aggregate_pushdown_scan(spark: SparkSession, sf_dir: str):
    """MIN/MAX/COUNT answered from parquet FOOTER STATISTICS (Spark's
    DSv2 parquet aggregate pushdown): the scan reads row-group metadata,
    not data pages — at 100 TB a full-table COUNT/MIN/MAX becomes a
    manifest-sized metadata pass, the same class of win as zone-map
    pruning but engine-native. Returns (row, physical plan string); the
    plan must carry PushedAggregation (asserted in tests/test_plans.py).

    DSv2-only surface: parquet must route off the v1 read path and the
    query must be a bare global aggregate (no filter, no non-partition
    grouping) — outside that envelope Spark silently falls back to a
    data scan, which is why the plan assertion exists. Confs are
    restored after the (eager) metadata-sized collect."""
    saved = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.parquet.aggregatePushdown",
                  "spark.sql.sources.useV1SourceList")
    }
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.min("o_orderkey").cast("bigint").alias("min_key"),
                F.max("o_orderkey").cast("bigint").alias("max_key"),
            )
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows = df.collect()  # one metadata-derived row
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)
    return rows, plan


@register(
    "scan_agg_pushdown",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders
""",
    tags=("scan", "aggregate-pushdown", "metadata", "pruning"),
)
def scan_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet aggregate pushdown (see aggregate_pushdown_scan): the
    whole-table COUNT/MIN/MAX served from footer statistics. The oracle
    checks the metadata answer equals the data answer — statistics that
    disagree with the data would be a corruption bug, not a fast path."""
    prep(spark)
    rows, _plan = aggregate_pushdown_scan(spark, sf_dir)
    # Empty-slice edges (round-7 sweep): a zero-row parquet has no row
    # groups, and the FOOTER-STATS count comes back NULL where the data
    # path (and SQL) says COUNT(*) = 0 — normalize, it is the one case
    # where the statistics answer and the data answer legitimately
    # differ in spelling. Explicit schema because createDataFrame cannot
    # infer types from the (NULL, NULL) min/max.
    rows = [
        (r["n_orders"] if r["n_orders"] is not None else 0,
         r["min_key"], r["max_key"])
        for r in rows
    ]
    return spark.createDataFrame(
        rows, "n_orders bigint, min_key bigint, max_key bigint"
    )


# Cached per-nation rollup handles with unpersist-on-evict (cap 4):
# repeated invocations in a long-lived harness session reuse ONE pinned
# copy per corpus instead of stacking a new block-store entry per call —
# the same bounded-memo posture as vectors._IVF_INDEX. The key folds in
# the SparkSession identity AND the source fingerprint: a restarted
# session leaves dead handles behind (never served), and a regenerated
# /root/testdata (the repo's reseed-each-round invariant) changes the
# fingerprint so a stale rollup is never returned.
_PERNATION_CACHE: dict[tuple, DataFrame] = {}
_PERNATION_CAP = 4


def _cached_pernation(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = os.path.join(sf_dir, "customer.parquet")
    key = (id(spark.sparkContext), _src_fingerprint(src), sf_dir)
    df = _PERNATION_CACHE.get(key)
    if df is not None:
        return df
    pernation = (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(28,4)")), 4)
            .cast("double")
            .alias("total_bal"),
        )
        .cache()
    )
    pernation.count()  # materialize so every consumer reads the cache
    while len(_PERNATION_CACHE) >= _PERNATION_CAP:
        evicted = _PERNATION_CACHE.pop(next(iter(_PERNATION_CACHE)))
        try:
            evicted.unpersist()
        except Exception:
            pass  # handle may belong to a stopped session — nothing to free
    _PERNATION_CACHE[key] = pernation
    return pernation


@register(
    "io_cached_plan_reuse",
    oracle="""
WITH pernation AS (
  SELECT c_nationkey,
         COUNT(*) AS n_cust,
         CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(28,4))), 4) AS DOUBLE)
           AS total_bal
  FROM customer GROUP BY c_nationkey
),
by_count AS (
  SELECT 'by_count' AS crit, c_nationkey, n_cust, total_bal,
         ROW_NUMBER() OVER (ORDER BY n_cust DESC, c_nationkey) AS rk
  FROM pernation
),
by_bal AS (
  SELECT 'by_bal' AS crit, c_nationkey, n_cust, total_bal,
         ROW_NUMBER() OVER (ORDER BY total_bal DESC, c_nationkey) AS rk
  FROM pernation
)
SELECT crit, c_nationkey, CAST(n_cust AS BIGINT) AS n_cust, total_bal
FROM by_count WHERE rk <= 5
UNION ALL
SELECT crit, c_nationkey, CAST(n_cust AS BIGINT) AS n_cust, total_bal
FROM by_bal WHERE rk <= 5
""",
    tags=("cache", "persist", "plan-reuse", "optimizer"),
)
def io_cached_plan_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.cache() plan reuse: the per-nation customer rollup is computed
    ONCE, materialized in the block store, and served to two downstream
    rankings (top-5 by count, top-5 by balance) from memory — the
    explicit-reuse surface for a shared intermediate that several
    consumers fan out from (Catalyst does not common-subexpression
    entire subplans across actions; cache() is how a pipeline pins one).
    The second consumer's scan is plan-asserted as InMemoryTableScan in
    tests/test_plans.py.

    Scale: cache the REDUCED relation (25 nation rows), never the fact —
    a cached fact at 100 TB evicts itself into recomputation thrash;
    MEMORY_AND_DISK on an aggregate is effectively free and saves a full
    fact re-scan per consumer. The count() that populates the cache is
    metadata-sized."""
    prep(spark)
    pernation = _cached_pernation(spark, sf_dir)
    outs = []
    for crit, order in (
        ("by_count", [F.desc("n_cust"), F.asc("c_nationkey")]),
        ("by_bal", [F.desc("total_bal"), F.asc("c_nationkey")]),
    ):
        w = Window.orderBy(*order)
        outs.append(
            pernation.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 5)
            .select(
                F.lit(crit).alias("crit"),
                "c_nationkey",
                F.col("n_cust").cast("bigint").alias("n_cust"),
                "total_bal",
            )
        )
    return outs[0].unionByName(outs[1])


def _ensure_xml(spark: SparkSession, sf_dir: str) -> str:
    """supplier as XML rows (written once, deterministic content) —
    exercises Spark 4's BUILT-IN xml datasource on the write side."""
    path = work_dir(sf_dir, "supplier_xml")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            table(spark, sf_dir, "supplier")
            .coalesce(1)
            .write.mode("overwrite")
            .format("xml")
            .option("rowTag", "supplier")
            .save(path)
        )
    return path


@register(
    "scan_xml_roundtrip",
    oracle="""
SELECT s_nationkey,
       COUNT(*) AS n_suppliers,
       CAST(SUM(CAST(ROUND(s_acctbal * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_bal
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
""",
    tags=("scan", "sink", "xml", "format"),
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip through Spark 4's native xml datasource (the
    spark-xml package folded into core): supplier written as
    <supplier> row elements, read back with an EXPLICIT schema (never
    inference at scale), and aggregated — the oracle computes the same
    rollup from the parquet source, so a green hash proves the XML
    write+read preserved every value. Complements the .rsi XML
    DOCUMENT parse (domain_rsi_parse, reference D4 ingest): that is
    string-level XML inside a column; this is XML as a TABLE format.

    Scale: XML is a slow verbose interchange format — the posture is
    land-and-convert (read once with rowTag streaming + explicit
    schema, write parquet, query that); the per-file parse
    parallelizes like any text source.
    """
    prep(spark)
    path = _ensure_xml(spark, sf_dir)
    xml = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema(
            "s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT,"
            " s_acctbal DOUBLE"
        )
        .load(path)
    )
    from ..functions.exact import scaled_long

    return (
        xml.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            (
                F.sum(scaled_long("s_acctbal")).cast("double") / 100.0
            ).alias("total_bal"),
        )
        .orderBy("s_nationkey")
    )
