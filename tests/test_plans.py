"""Plan-shape assertions: the scale posture, checked mechanically.

A query that silently loses predicate pushdown, column pruning, or a
broadcast hint still passes correctness tests — these tests fail instead.
"""

from __future__ import annotations

from vault_8_hive_spark.plans.explain import (
    codegen_stage_count,
    formatted_plan,
    has_broadcast_join,
    has_pushed_filter,
    parquet_scans,
    read_schema_columns,
)
from vault_8_hive_spark.queries import all_queries

QUERIES = all_queries()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["top_segment_revenue"].fn(spark, sf_dir)
    assert has_pushed_filter(df, "o_orderdate"), formatted_plan(df)


def test_column_pruning(spark, sf_dir):
    """pricing_summary needs 7 of lineitem's 11 columns — the scan must
    not read the others."""
    df = QUERIES["pricing_summary"].fn(spark, sf_dir)
    cols = set(read_schema_columns(df))
    assert "l_orderkey" not in cols and "l_partkey" not in cols, cols
    assert {"l_quantity", "l_extendedprice", "l_returnflag"} <= cols


def test_dim_join_broadcasts(spark, sf_dir):
    df = QUERIES["join_inner_equi"].fn(spark, sf_dir)
    assert has_broadcast_join(df), formatted_plan(df)


def test_band_join_is_broadcast_nested_loop(spark, sf_dir):
    """The tier band join must broadcast the 4-row dim, never shuffle."""
    plan = formatted_plan(QUERIES["join_band_nonequi"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_whole_stage_codegen_everywhere(spark, sf_dir):
    """Scalar-family plans must be a single codegen'd scan-project."""
    for name in ("scalar_string", "scalar_math", "scalar_conditional"):
        df = QUERIES[name].fn(spark, sf_dir)
        assert codegen_stage_count(df) >= 1, name
        assert "BatchEvalPython" not in formatted_plan(df), f"{name} fell back to Python"


def test_no_python_in_relational_plans(spark, sf_dir):
    """Every non-UDF query must stay fully JVM-side."""
    py_tags = {"udf", "domain", "streaming", "multimodal"}
    for name, q in QUERIES.items():
        if py_tags & set(q.tags) or name == "text_simhash":
            continue
        plan = formatted_plan(q.fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
            f"{name} unexpectedly contains a Python eval node"
        )


def test_q6_all_predicates_pushed(spark, sf_dir):
    """forecast_revenue's three predicates must all reach the parquet scan."""
    df = QUERIES["forecast_revenue"].fn(spark, sf_dir)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert has_pushed_filter(df, col), formatted_plan(df)


def test_q18_aggregates_before_join(spark, sf_dir):
    """large_order_customers must reduce lineitem to per-order sums BEFORE
    joining orders/customer (agg-below-join is the 100 TB survival trait),
    and the lineitem scan must read only the two needed columns."""
    df = QUERIES["large_order_customers"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    first_agg = plan.find("HashAggregate")
    first_join = min(
        (p for p in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin")) if p != -1),
        default=-1,
    )
    assert first_agg != -1 and first_join != -1
    # formatted mode lists operators leaves-last within each subtree; the
    # aggregate feeding the join must appear as a join child, so the plan
    # tree (section 1) must mention HashAggregate before any join consumes it.
    schema_cols = set(read_schema_columns(df))
    assert "l_quantity" in schema_cols and "l_extendedprice" not in schema_cols, schema_cols


def test_q14_part_side_broadcast(spark, sf_dir):
    df = QUERIES["promo_revenue_share"].fn(spark, sf_dir)
    assert has_broadcast_join(df), formatted_plan(df)


def test_q4_semi_join(spark, sf_dir):
    plan = formatted_plan(QUERIES["priority_late_ship"].fn(spark, sf_dir))
    assert "LeftSemi" in plan, plan


def test_vector_topk_is_take_ordered(spark, sf_dir):
    """The top-k finalization must plan TakeOrderedAndProject (distributed
    partial top-k), and every Window in the plan must keep a partition
    spec — an empty one moves ALL scored rows to a single partition (the
    round-1 scale-killer)."""
    import re

    for name in ("vec_cosine_topk", "vec_lsh_ann", "vec_ivf_topk"):
        plan = formatted_plan(QUERIES[name].fn(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, f"{name}: no distributed top-k\n{plan}"
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            # an empty partition spec renders the orderBy clause first —
            # a partitioned spec starts with the partition expressions
            assert not m.group(1).lstrip().startswith(("cos_sim", "nn_sim")), (
                f"{name}: window lost its partition spec: {m.group(0)}"
            )


def test_pack_sequences_window_is_partitioned(spark, sf_dir):
    """text_pack_sequences must never contain an unpartitioned window —
    the running sum is range-partitioned by design."""
    plan = formatted_plan(QUERIES["text_pack_sequences"].fn(spark, sf_dir))
    assert "range_id" in plan
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "range_id" in m.group(1), f"window not partitioned by range_id: {m.group(0)}"


def test_gateway_match_no_cartesian(spark, sf_dir):
    """The dialect-dispatched prefix match must stay an equi-join on
    beacon_id — never a cross product over routes x interfaces."""
    plan = formatted_plan(QUERIES["domain_gateway_prefix_match"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_partitioned_layout_prunes(spark, sf_dir):
    """vec_ivf_topk's documented production layout made literal: the
    corpus written partitionBy(list_id) turns probing 3 of 10 inverted
    lists into partition pruning at the scan (PartitionFilters on the
    file source, 70% of the I/O never read)."""
    import os

    from pyspark.sql import functions as F

    from vault_8_hive_spark.catalog import WORK_DIR, table

    path = os.path.join(WORK_DIR, os.path.basename(sf_dir), "ivf_layout")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            table(spark, sf_dir, "embeddings")
            .withColumn("list_id", F.col("label"))
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(path)
        )
    df = spark.read.parquet(path).where(F.col("list_id").isin(1, 2, 3))
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "list_id" in plan, plan
    # the pruned read must touch only the 3 probed lists
    assert df.select("list_id").distinct().count() == 3


def test_beacon_decoder_tolerates_bad_records(spark, sf_dir):
    """Corrupt landing blobs become parse_ok='false' rows — never task
    failures (the 100 TB ingest contract)."""
    from pyspark.sql import functions as F

    from vault_8_hive_spark.sources.beacons import fixture_blobs_df, from_hive_beacon

    raw = from_hive_beacon(fixture_blobs_df(spark, include_bad=True))
    bad = raw.where(F.col("parse_ok") == "false")
    assert bad.count() == 2
    assert bad.where(F.col("mac").isNotNull()).count() == 0


def test_compacted_layout_splits_scan_if_built(spark, sf_dir):
    """After optimize_tables, the lineitem scan must span >1 partition
    (the raw landing file is a single row group = a single task)."""
    from vault_8_hive_spark.catalog import optimize_tables, table

    optimize_tables(spark, sf_dir, tables=("lineitem",), chunks=4)
    df = table(spark, sf_dir, "lineitem")
    assert df.rdd.getNumPartitions() > 1


def test_selfjoin_shares_one_exchange(spark, sf_dir):
    """The dedup self-joins evaluate their expensive input (shingle sets,
    LSH signatures) exactly once, not once per join side: at most
    `scan_max` parquet scans in total, counting the scans inside
    checkpoint lineages (the band relation is a lazy localCheckpoint —
    shape and rationale in queries/text.py `_cap_banded`). AQE is
    toggled off so the executed plan is the static, fully planned one."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, scan_max in (
            ("text_minhash_lsh", 1),
            ("text_incremental_neardup", 1),
            ("vec_cosine_neardup_pairs", 1),
        ):
            df = QUERIES[name].fn(spark, sf_dir)
            assert parquet_scans(df) <= scan_max, (name, formatted_plan(df))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_two_phase_distinct_plan_shape(spark, sf_dir):
    """agg_salted_skew's skew mitigation is the manual two-phase distinct
    (the pattern the skew probe measured at 1.8x, BASELINE.md §3e): the
    first exchange must partition on the COMPOSITE (status, custkey) —
    spreading a hot status across every partition — and only the deduped
    set may re-exchange on status alone; both phases must stay
    map-side partial-aggregated, with no planner Expand rewrite."""
    import re

    plan = formatted_plan(QUERIES["agg_salted_skew"].fn(spark, sf_dir))
    comp = re.search(r"hashpartitioning\(o_orderstatus#\d+, o_custkey#\d+", plan)
    fin = re.search(r"hashpartitioning\(o_orderstatus#\d+, \d+\)", plan)
    assert comp, plan
    assert fin, plan
    assert comp.start() < fin.start(), "composite exchange must come first"
    assert "partial_count" in plan, plan
    assert "Expand" not in plan, plan


def test_lateral_decorrelates_to_window_topk(spark, sf_dir):
    """The LATERAL ORDER BY..LIMIT derived table must decorrelate into a
    ranked-window + join plan (one orders scan, WindowGroupLimit top-k
    pushdown, correlated predicate pushed into the scan) — NOT a
    nested-loop re-execution per outer row."""
    from vault_8_hive_spark.queries import all_queries

    df = all_queries()["sql_lateral_topk"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_dynamic_partition_pruning_in_fact_scan(spark, sf_dir):
    """The year-partitioned fact scan must carry a dynamicpruning#
    subquery in its PartitionFilters — runtime pruning from the joined
    dim, not a static literal."""
    from vault_8_hive_spark.queries import all_queries

    df = all_queries()["join_dynamic_partition_pruning"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Both bucketed scans must feed the sort-merge join directly: the
    layout IS the distribution, so no Exchange may appear below the join
    (the only exchange allowed is the final segment aggregation's)."""
    df = QUERIES["join_bucketed_smj"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Bucketed: true" in plan, plan
    join_pos = plan.index("SortMergeJoin")
    assert "Exchange" not in plan[join_pos:], (
        "exchange below the bucketed join:\n" + plan
    )
    # One sorted file per bucket + the scan-ordering trust window: the
    # join consumes the layout's SORT too, not just its distribution.
    assert "Sort " not in plan[join_pos:] and "+- Sort" not in plan[join_pos:], (
        "sort below the bucketed join:\n" + plan
    )


def test_bucket_pruning_on_key_equality(spark, sf_dir):
    """An equality predicate on the bucket key must prune to one bucket
    (SelectedBucketsCount: 1 out of 8) — file-level skipping from the
    layout, before any row is read."""
    from vault_8_hive_spark.catalog import bucketed_table

    from pyspark.sql import functions as F

    o = bucketed_table(spark, sf_dir, "orders", "o_custkey")
    # The aggregation keyed on the bucket column makes the scan consume
    # the layout's distribution (a bare filter lets the planner fall back
    # to a non-bucketed scan, and pruning rides the bucketed scan).
    df = (
        o.where(o.o_custkey == 421)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount: 1 out of 8" in plan, plan
    assert "Exchange" not in plan, plan


def test_bloom_filter_reaches_fact_scan(spark, sf_dir):
    """The runtime Bloom filter built from the filtered orders side must
    probe inside the lineitem side's filter, upstream of the join."""
    df = QUERIES["join_bloom_runtime_filter"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    # Logical: the optimizer injected BloomFilterMightContain over a
    # bloom_filter_agg aggregate subquery on the creation side.
    opt = qe.optimizedPlan().toString()
    assert "might_contain" in opt, opt
    assert "bloom_filter_agg" in opt, opt
    # Physical: the probe sits in the lineitem side's Filter (renders as
    # might_contain(Subquery ...)), upstream of the join's exchange.
    df.collect()
    plan = qe.executedPlan().toString()
    assert "might_contain" in plan, plan


def test_bucketed_layout_one_file_per_bucket(spark, sf_dir):
    """The bucketed write must emit exactly one file per bucket (the
    aligned-repartition contract: multi-file buckets measured 3.4x
    slower than the shuffle join they're meant to beat)."""
    import os

    from vault_8_hive_spark.catalog import bucketed_table, work_dir

    bucketed_table(spark, sf_dir, "orders", "o_custkey")
    path = os.path.join(work_dir(sf_dir, "bucket"), "orders_by_o_custkey_8")
    files = [f for f in os.listdir(path) if f.startswith("part-")]
    assert len(files) == 8, files


def test_cbo_reorders_join_tree(spark, sf_dir):
    """With ANALYZE stats + CBO, the (orders x customer) x nation SQL
    must be rewritten to build (customer x nation) first: in the
    optimized plan the orders relation appears AFTER both small
    relations (it becomes the probe side of the outer join)."""
    df = QUERIES["join_cbo_reorder"].fn(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    i_orders = opt.index("orders_by_o_custkey")
    i_cust = opt.index("customer_by_c_custkey")
    i_nation = opt.index("nation_cbo")
    assert i_orders > i_cust and i_orders > i_nation, opt


def test_plan_window_confs_restore(spark, sf_dir):
    """Queries that lower optimizer thresholds inside a plan-then-restore
    window must leave the session conf exactly as they found it — a
    leaked autoBroadcastJoinThreshold=-1 or cbo.enabled=true would
    silently re-plan every later query in the session."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.cbo.enabled",
        "spark.sql.cbo.joinReorder.enabled",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    QUERIES["join_bloom_runtime_filter"].fn(spark, sf_dir)
    QUERIES["join_cbo_reorder"].fn(spark, sf_dir)
    after = {k: spark.conf.get(k, None) for k in keys}
    assert after == before


def test_chunking_is_shuffle_free(spark, sf_dir):
    """text_chunk_overlap claims row-local chunking — the plan must not
    contain any Exchange."""
    plan = formatted_plan(QUERIES["text_chunk_overlap"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_naive_bayes_scoring_join_broadcasts(spark, sf_dir):
    """The V x C model and priors must reach the token stream as
    broadcast joins (the model-as-small-side posture), never a shuffle
    join on token."""
    df = QUERIES["ml_naive_bayes"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pq_ann_no_cartesian(spark, sf_dir):
    """PQ encoding/scoring is equi-join only (subspace id, code) — a
    CartesianProduct would mean the all-pairs path snuck back in."""
    plan = formatted_plan(QUERIES["vec_pq_ann"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_repetition_signals_shuffle_free(spark, sf_dir):
    """The run-length HOF formulation must keep per-doc n-gram counting
    row-local — no Exchange (the explode->groupBy version measured 9.9x
    DuckDB at 25x; this shape halves the time and frees two shuffles)."""
    plan = formatted_plan(QUERIES["text_repetition_signals"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_interval_overlap_is_bucketized_hash_join(spark, sf_dir):
    """The interval-overlap join must plan as an EQUI-join on the hour
    bucket (broadcast hash, range predicates as the join's residual
    condition) — a BroadcastNestedLoopJoin would mean the bucket
    decomposition fell apart and the O(|A| x |B|) theta join is back."""
    df = QUERIES["join_interval_overlap"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "NestedLoop" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_zonemap_prunes_files(spark, sf_dir):
    """The zone-map manifest must actually skip files: orders laid out
    as 8 range-partitioned files, a [1000, 20000] key predicate selects
    a strict subset (the layout gives each file ~1/8 of the key domain),
    and the pruned scan's result equals the unpruned one."""
    from pyspark.sql import functions as F

    from vault_8_hive_spark.queries.formats import (
        _ensure_rangefiles,
        zonemap_pruned_scan,
    )
    from vault_8_hive_spark.session import prep

    prep(spark)
    path = _ensure_rangefiles(spark, sf_dir)
    pruned, n_total, n_sel = zonemap_pruned_scan(spark, path, 1000, 20000)
    assert n_total >= 8
    assert 0 < n_sel < n_total, f"no pruning: {n_sel}/{n_total} files"
    got = pruned.where(F.col("o_orderkey").between(1000, 20000)).count()
    want = (
        spark.read.parquet(path)
        .where(F.col("o_orderkey").between(1000, 20000))
        .count()
    )
    assert got == want


def test_aggregate_pushdown_reaches_scan(spark, sf_dir):
    """The parquet aggregate-pushdown path must actually engage: the
    physical plan carries PushedAggregation with the three aggregates,
    and the metadata-derived answer equals the data answer."""
    from vault_8_hive_spark.queries.formats import aggregate_pushdown_scan
    from vault_8_hive_spark.session import prep

    prep(spark)
    rows, plan = aggregate_pushdown_scan(spark, sf_dir)
    assert "PushedAggregation" in plan, plan[:2000]
    # a disengaged pushdown renders "PushedAggregation: []" (Spark
    # truncates the scan line, so don't assert the full aggregate list)
    assert "PushedAggregation: []" not in plan, plan[:2000]
    want = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr("count(*)", "min(o_orderkey)", "max(o_orderkey)")
        .collect()[0]
    )
    got = rows[0]
    assert (got["n_orders"], got["min_key"], got["max_key"]) == tuple(want)


def test_join_hints_pick_their_strategies(spark, sf_dir):
    """Each hint variant must produce its named physical join — a hint
    that silently falls back leaves the row testing nothing."""
    from pyspark.sql import functions as F

    from vault_8_hive_spark.catalog import table
    from vault_8_hive_spark.session import prep

    prep(spark)
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    want = {
        "broadcast": "BroadcastHashJoin",
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
    }
    for variant, node in want.items():
        df = orders.join(
            customer.hint(variant), F.col("o_custkey") == F.col("c_custkey")
        ).groupBy("c_mktsegment").count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert node in plan, f"{variant}: {plan[:1500]}"


def test_cached_rollup_serves_second_consumer(spark, sf_dir):
    """io_cached_plan_reuse must read the per-nation rollup from the
    block store: both ranking branches scan InMemoryTableScan, and the
    parquet scan appears at most once in the union's plan."""
    from vault_8_hive_spark.queries.formats import io_cached_plan_reuse

    df = io_cached_plan_reuse(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2, plan[:2000]


def test_local_checkpoint_truncates_lineage(spark, sf_dir):
    """Iterative loops must be able to cut lineage growth: after
    localCheckpoint(eager=True) the logical plan is a LogicalRDD scan,
    not the accumulated join/agg tree — the posture graph_pagerank-style
    loops rely on at cluster scale (SCALE.md 'iterative analytics')."""
    from pyspark.sql import functions as F

    from vault_8_hive_spark.catalog import table
    from vault_8_hive_spark.session import prep

    prep(spark)
    df = table(spark, sf_dir, "orders")
    # simulate 3 loop rounds, each stacking a join+agg on the last
    cur = df.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    for _ in range(3):
        cur = (
            cur.join(df, "o_custkey")
            .groupBy("o_custkey")
            .agg(F.sum("n").alias("n"))
        )
    before = cur._jdf.queryExecution().analyzed().toString()
    assert before.count("Join") >= 3
    cut = cur.localCheckpoint(eager=True)
    after = cut._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in after and "Join" not in after
    # and the data survives the cut
    assert cut.count() == cur.count()


def test_global_rank_is_range_partitioned(spark, sf_dir):
    """operators/rank.py must sort in parallel: the plan shows a
    rangepartitioning exchange and the per-partition window keys on
    _pid — NOT the single-partition bare-ORDER-BY WindowExec path."""
    from vault_8_hive_spark.catalog import table
    from vault_8_hive_spark.operators.rank import global_row_number
    from vault_8_hive_spark.session import prep

    prep(spark)
    v = table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked = global_row_number(v, ["o_totalprice", "o_orderkey"])
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), plan[:2000]
    # uniqueness + density prove the partition offsets stitch correctly
    import pyspark.sql.functions as F

    stats = ranked.agg(
        F.count("rn").alias("n"),
        F.countDistinct("rn").alias("nd"),
        F.min("rn").alias("lo"),
        F.max("rn").alias("hi"),
    ).collect()[0]
    assert stats["n"] == stats["nd"] == stats["hi"] and stats["lo"] == 1


def test_global_rank_total_has_no_count_branch(spark, sf_dir):
    """rank.py's total=... must ride the offsets aggregate: the column
    equals the true count on every row, and consumers built on it
    (ml_eval_calibration, sample_systematic) must show NO nested-loop
    count cross-join in the executed plan — the shape the r7 rewrite
    removed (crossJoin(df.agg(count)) re-scanned the source for one
    scalar)."""
    import pyspark.sql.functions as F

    from vault_8_hive_spark.catalog import table
    from vault_8_hive_spark.operators.rank import global_row_number
    from vault_8_hive_spark.queries.pipeline import ml_eval_calibration
    from vault_8_hive_spark.queries.text import sample_systematic
    from vault_8_hive_spark.session import prep

    prep(spark)
    v = table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked = global_row_number(
        v, ["o_totalprice", "o_orderkey"], total="n_total"
    )
    stats = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("n_total").alias("lo"),
        F.max("n_total").alias("hi"),
    ).collect()[0]
    assert stats["lo"] == stats["hi"] == stats["n"]
    for q in (ml_eval_calibration, sample_systematic):
        plan = q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_shipping_priority_plan_shape(spark, sf_dir):
    """Q3 must finish with a TakeOrdered top-10 (per-partition heap, no
    global sort) and broadcast both dimension sides."""
    from vault_8_hive_spark.queries.tpch import shipping_priority

    plan = (
        shipping_priority(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:1500]


def test_disjunctive_predicates_push_to_both_scans(spark, sf_dir):
    """Q19's OR-of-ANDs must yield derived predicates at BOTH parquet
    scans: the quantity disjunction on lineitem, brand/size on part —
    the common-subpredicate extraction the query exists to test."""
    from vault_8_hive_spark.queries.tpch import disjunctive_predicate_revenue

    plan = (
        disjunctive_predicate_revenue(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    li_scan = [
        line for line in plan.splitlines()
        if "PushedFilters" in line and "l_quantity" in line
    ]
    part_scan = [
        line for line in plan.splitlines()
        if "PushedFilters" in line and "p_brand" in line
    ]
    assert li_scan and "GreaterThanOrEqual(l_quantity,1.0)" in li_scan[0]
    assert part_scan and "EqualTo(p_brand" in part_scan[0]


def test_waiting_suppliers_has_no_expand(spark, sf_dir):
    """Q21's per-order distinct counts must ride the (order, supplier)
    pair pre-reduction, never a multi-countDistinct Expand (which
    replicates the fact x3 — measured 2x slower at the 25x probe), and
    the pair reduction plus the per-order aggregate must share ONE
    exchange (the explicit hash repartition on l_orderkey)."""
    from vault_8_hive_spark.queries.tpch import waiting_suppliers

    plan = (
        waiting_suppliers(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan, plan[:1500]
    # exchanges: the explicit repartition(l_orderkey) + the final
    # s_name rollup; anything more means the pair/per-order groupBys
    # stopped sharing the orderkey partitioning
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 2, f"{n_shuffles} hash exchanges:\n{plan[:2000]}"


def test_funnel_exclusion_is_one_window_pass(spark, sf_dir):
    """The exclusion funnel must be the single per-user window pass —
    no pair join of views x purchases, and exactly one fact exchange
    (the user_id window partitioning, which the groupBy then reuses)."""
    from vault_8_hive_spark.queries.events import events_funnel_exclusion

    plan = (
        events_funnel_exclusion(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan, plan[:1500]
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles == 1, f"{n_shuffles} hash exchanges:\n{plan[:2000]}"
    assert plan.count("Window") >= 1, plan[:1500]


def test_dup_spans_is_posting_group_not_self_join(spark, sf_dir):
    """text_dup_spans must match grams by ONE groupBy on the dual
    xxhash64 key — the r7 rewrite removed the self-join whose
    post-explode size estimate slipped a corpus-sized build side under
    the broadcast threshold. No DATA-relation join belongs in this
    plan; the single allowed join is the r8 df-cap audit — a
    BroadcastNestedLoopJoin carrying the ONE-ROW max-posting-size
    scalar — and the gram relation must be shuffled exactly once
    (the audit branch reuses the posting exchange, never re-shuffles)."""
    from vault_8_hive_spark.queries.text import text_dup_spans

    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = (
            text_dup_spans(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert bad not in plan, (bad, plan[:1500])
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan[:1500]
    assert "xxhash64" in plan, plan[:1500]
    assert plan.count("ReusedExchange") >= 1, plan[:1500]


def test_reco_pair_stage_is_basket_expansion(spark, sf_dir):
    """reco_item_cosine must generate co-occurrence pairs from per-user
    baskets (row-local explode + map-side partial agg), never a
    corpus-sized sort-merge self-join; the only joins left are the
    broadcast item-norm lookups."""
    from vault_8_hive_spark.queries.pipeline import reco_item_cosine

    plan = (
        reco_item_cosine(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_open_backlog_joins_once(spark, sf_dir):
    """orders_open_backlog's +1/-1 delta rows must come from ONE
    inline() explode over the orders-to-ship-end join — spelling them
    as a UNION of two projections over the join output re-executes the
    whole join subtree (2 joins / 4 parquet scans, the r7 pre-rewrite
    plan). One join, one lineitem scan, one orders scan."""
    from vault_8_hive_spark.queries.tpch import orders_open_backlog

    plan = (
        orders_open_backlog(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 2, plan[:2000]
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1, plan[:2000]


def test_materialization_policy_lives_in_one_helper():
    """Every per-run materialization goes through session.materialize_once,
    whose docstring carries the rationale (lazy, an optimizer barrier, not
    persist()), and no query carries a per-query timing flag: every query
    is timed end to end."""
    import inspect
    from pathlib import Path

    import vault_8_hive_spark
    from vault_8_hive_spark import session

    helper = inspect.getsource(session.materialize_once)
    assert ".localCheckpoint(" in helper
    pkg = Path(vault_8_hive_spark.__file__).parent
    stray = []
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text(encoding="utf-8")
        if path == Path(session.__file__):
            src = src.replace(helper, "")
        for word in (".localCheckpoint(", "rebuild_per_run"):
            if word in src:
                stray.append(f"{path.relative_to(pkg)}: {word}")
    assert not stray, stray
