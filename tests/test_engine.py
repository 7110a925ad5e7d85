"""Engine facade tests: the user-facing sql/table/run surface."""

from __future__ import annotations

from vault_8_hive_spark.engine import Engine


def test_engine_surface(spark, sf_dir):
    eng = Engine(sf_dir, spark=spark)
    assert eng.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"] > 0
    assert eng.table("nation").count() == 25
    assert len(eng.run("top_segment_revenue").collect()) == 5
    assert "lineitem" in eng.tables()


def test_exact_aggregates_invariant_under_replan(spark, sf_dir):
    """The determinism contract of functions/exact.py, tested directly:
    money aggregates must hash-match under different shuffle partition
    counts and with AQE toggled — the property that makes 1000-executor
    re-runs byte-identical."""
    from vault_8_hive_spark.queries import all_queries

    qs = all_queries()
    baseline = {}
    for name in ("pricing_summary", "agg_basic", "top_segment_revenue"):
        pdf = qs[name].fn(spark, sf_dir).toPandas()
        baseline[name] = sorted(
            tuple(repr(v) for v in r) for r in pdf[sorted(pdf.columns)].itertuples(index=False)
        )
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        for parts, aqe in (("3", "true"), ("17", "false")):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            for name, expect in baseline.items():
                pdf = qs[name].fn(spark, sf_dir).toPandas()
                got = sorted(
                    tuple(repr(v) for v in r)
                    for r in pdf[sorted(pdf.columns)].itertuples(index=False)
                )
                assert got == expect, f"{name} diverged at partitions={parts} aqe={aqe}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_bucketed_table_rebuilds_on_source_regeneration(spark, tmp_path):
    """The driver regenerates testdata every round: a derived bucketed
    layout must detect the new source fingerprint and rebuild, never
    serve stale rows (the same contract catalog compaction honors)."""
    import shutil

    from pyspark.sql import functions as F

    from vault_8_hive_spark.catalog import bucketed_table

    src = tmp_path / "sfX"
    src.mkdir()
    spark.range(0, 100).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 7).alias("o_custkey"),
        F.lit(1.0).alias("o_totalprice"),
    ).coalesce(1).write.parquet(str(src / "orders.parquet"))
    # bucketed_table loads through catalog.table, which requires a known
    # name — orders is one.
    t1 = bucketed_table(spark, str(src), "orders", "o_custkey", buckets=2)
    assert t1.count() == 100

    # "regenerate" the landing file with different contents
    shutil.rmtree(src / "orders.parquet")
    spark.range(0, 37).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 7).alias("o_custkey"),
        F.lit(2.0).alias("o_totalprice"),
    ).coalesce(1).write.parquet(str(src / "orders.parquet"))

    t2 = bucketed_table(spark, str(src), "orders", "o_custkey", buckets=2)
    assert t2.count() == 37, "stale bucketed layout served after regeneration"


def test_work_dir_keeps_same_named_inputs_apart():
    """Two input dirs with one base name must not share (and rebuild)
    each other's derived files, yet both stay under .work/<base name>/,
    which is what a caller removes to drop them."""
    import os

    from vault_8_hive_spark.catalog import WORK_DIR, work_dir, work_table

    base = os.path.join(WORK_DIR, "sf0.1")
    a, b = work_dir("/a/sf0.1", "opt"), work_dir("/b/sf0.1", "opt")
    assert a != b
    assert not a.startswith(b + os.sep) and not b.startswith(a + os.sep)
    assert a.startswith(base + os.sep) and b.startswith(base + os.sep)
    assert work_dir("/a/sf0.1/", "opt") == a  # one key per directory
    assert work_table("/a/sf0.1", "t") != work_table("/b/sf0.1", "t")
    # A corpus living directly under .work keeps its derived files out of itself.
    fx = os.path.join(WORK_DIR, "sf1_native")
    assert not work_dir(fx, "opt").startswith(fx + os.sep)


def test_committer_selection_by_destination():
    """Committer choice is a pure function of the destination URI —
    object stores must get the no-rename magic-committer stack, rename-
    capable filesystems the algorithm-2 FileOutputCommitter. SCALE.md
    'Object-store sink posture' cross-references this test."""
    from vault_8_hive_spark.sinks import committer_conf

    for dest in ("s3a://bucket/beacons/", "gs://b/x", "abfss://c@a/x",
                 "swift://container/x"):
        conf = committer_conf(dest)
        assert conf["spark.hadoop.fs.s3a.committer.name"] == "magic", dest
        assert "PathOutputCommitProtocol" in conf[
            "spark.sql.sources.commitProtocolClass"
        ], dest
    for dest in ("file:///tmp/x", "/tmp/x", "hdfs://nn/x"):
        conf = committer_conf(dest)
        assert conf == {
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2"
        }, dest


def test_committer_algorithm2_write_roundtrip(spark, tmp_path):
    """The rename-fs committer path EXECUTES (not just selects): a
    partitioned write through write_partitioned against file:// runs with
    fileoutputcommitter.algorithm.version=2 applied, round-trips the
    data, and restores the session conf afterwards."""
    from pyspark.sql import functions as F

    from vault_8_hive_spark.sinks import write_partitioned

    key = "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version"
    before = spark.conf.get(key, None)
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("p")
    )
    dest = str(tmp_path / "algo2_out")
    applied = write_partitioned(df, dest, partition_by=("p",))
    assert applied[key] == "2"
    back = spark.read.parquet(dest)
    assert back.count() == 100
    # partition values come back through partition-column type inference
    assert {str(r["p"]) for r in back.select("p").distinct().collect()} == {
        "0", "1", "2",
    }
    assert spark.conf.get(key, None) == before, "session conf leaked"


def test_object_store_write_fails_at_api_boundary(spark):
    """Without the hadoop-cloud committer jars an s3a:// destination must
    fail fast at the API boundary with the SCALE.md pointer — never a
    ClassNotFoundException from inside a launched job. (On a deployment
    with the jars present this same call proceeds to the magic
    committer; the selection test above pins that config.)"""
    import pytest

    from vault_8_hive_spark.sinks import write_partitioned

    df = spark.range(0, 10)
    with pytest.raises(RuntimeError, match="Object-store sink posture"):
        write_partitioned(df, "s3a://nope/beacons/")
