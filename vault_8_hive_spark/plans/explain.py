"""Physical-plan inspection helpers.

The 100 TB posture is only real if the optimized plans have the right
shape: filters reaching the parquet scan, projections pruned to the read
schema, small dims broadcast, expressions inside whole-stage codegen.
These helpers expose the formatted plan for assertions (tests/test_plans.py)
and ad-hoc iteration (`explain(df)` while developing an operator).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def parquet_scans(df: DataFrame) -> int:
    """Parquet scans the query pays, seen through checkpoints: the
    `Scan parquet` nodes of the executed plan plus the distinct
    FileScanRDDs in the lineage of its RDD-scan leaves (a
    localCheckpoint reads as `Scan ExistingRDD`, so its lineage is
    invisible in the plan string). Call before `df` runs: a materialized
    checkpoint truncates its lineage."""
    plan = df._jdf.queryExecution().executedPlan()
    leaves = plan.collectLeaves()
    rdd_scans: set[str] = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "RDDScanExec":
            rdd_scans |= set(re.findall(r"FileScanRDD\[(\d+)\]", leaf.rdd().toDebugString()))
    return plan.toString().count("Scan parquet") + len(rdd_scans)


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if a parquet scan reports a pushed filter containing fragment."""
    plan = formatted_plan(df)
    return any("PushedFilters" in line and fragment in line for line in plan.splitlines())


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns the parquet scan actually reads (pruning check)."""
    cols: list[str] = []
    for line in formatted_plan(df).splitlines():
        if "ReadSchema" in line:
            inner = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            cols.extend(f.split(":")[0].strip() for f in inner.split(",") if ":" in f)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def codegen_stage_count(df: DataFrame) -> int:
    """Number of distinct whole-stage-codegen stages in the plan (the
    formatted mode tags member operators with `[codegen id : N]`)."""
    ids = set()
    for line in formatted_plan(df).splitlines():
        if "[codegen id :" in line:
            ids.add(line.rsplit(":", 1)[1].strip(" ]"))
    return len(ids)
