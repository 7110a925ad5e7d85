"""Join family (SURVEY.md §2B): inner/left/right/full equi-joins,
left-semi/left-anti (IN / EXISTS), cross, non-equi (theta/band), as-of.

Scale notes: equi-joins shuffle on their key and AQE picks broadcast vs
sort-merge at runtime; the band join broadcasts its 5-row dim (nested-loop
on a broadcast side — never a cartesian shuffle); the as-of join is one
shuffle + one window pass (operators/asof.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import dim, table
from ..operators.asof import asof_join
from ..session import prep
from . import register


@register(
    "join_inner_equi",
    oracle="""
SELECT o_orderkey, o_totalprice, c_name, c_mktsegment, n_name
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderstatus = 'F' AND o_totalprice > 300000
""",
    tags=("join",),
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way inner equi-join; nation is an explicit broadcast dim."""
    prep(spark)
    return (
        table(spark, sf_dir, "orders")
        .where((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 300000))
        .join(table(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(dim(spark, sf_dir, "nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment", "n_name")
    )


@register(
    "join_left_outer",
    oracle="""
SELECT c_custkey, c_name, o_orderkey, o_totalprice
FROM customer
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o ON c_custkey = o_custkey
WHERE c_custkey <= 500
""",
    tags=("join",),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with an unmatched majority (null right side)."""
    prep(spark)
    cust = table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 500)
    big = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    return cust.join(big, F.col("c_custkey") == F.col("o_custkey"), "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_right_outer",
    oracle="""
SELECT s_suppkey, s_name, n_nationkey, n_name
FROM (SELECT * FROM supplier WHERE s_acctbal > 5000) s
RIGHT JOIN nation ON s_nationkey = n_nationkey
""",
    tags=("join",),
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    sup = table(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 5000)
    return sup.join(
        table(spark, sf_dir, "nation"), F.col("s_nationkey") == F.col("n_nationkey"), "right"
    ).select("s_suppkey", "s_name", "n_nationkey", "n_name")


@register(
    "join_full_outer",
    oracle="""
SELECT c.c_custkey, c.c_acctbal, o.o_orderkey, o.o_totalprice
FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal < 0) c
FULL JOIN (SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 400000) o
  ON c.c_custkey = o.o_custkey
""",
    tags=("join",),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer with unmatched rows on BOTH sides."""
    prep(spark)
    c = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") < 0)
        .select("c_custkey", "c_acctbal")
    )
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 400000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        "c_custkey", "c_acctbal", "o_orderkey", "o_totalprice"
    )


@register(
    "join_left_semi",
    oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
                AND o_totalprice > 350000)
""",
    tags=("join", "subquery"),
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-style semi join (Catalyst's decorrelation target shape)."""
    prep(spark)
    urgent = table(spark, sf_dir, "orders").where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 350000)
    )
    return (
        table(spark, sf_dir, "customer")
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
    )


@register(
    "join_left_anti",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
""",
    tags=("join", "subquery"),
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no urgent orders (NOT EXISTS -> anti join)."""
    prep(spark)
    urgent = table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return (
        table(spark, sf_dir, "customer")
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@register(
    "join_cross",
    oracle="""
SELECT r1.r_name AS region_a, r2.r_name AS region_b
FROM region r1 CROSS JOIN region r2
WHERE r1.r_regionkey <> r2.r_regionkey
""",
    tags=("join",),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of the 5-row region dim with itself (20 ordered pairs)."""
    prep(spark)
    r1 = table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("k1"), F.col("r_name").alias("region_a")
    )
    r2 = table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("k2"), F.col("r_name").alias("region_b")
    )
    return r1.crossJoin(r2).where(F.col("k1") != F.col("k2")).select("region_a", "region_b")


@register(
    "join_band_nonequi",
    oracle="""
WITH tiers(tier_name, lo, hi) AS (
  VALUES ('small', 0, 100000), ('mid', 100000, 250000),
         ('large', 250000, 400000), ('jumbo', 400000, 1000000)
)
SELECT tier_name, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,4))), 4) AS DOUBLE) AS tier_total
FROM orders JOIN tiers ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY tier_name
""",
    tags=("join", "nonequi", "agg"),
)
def join_band_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (band) join: orders against a tiny tier dim on a range
    predicate — physically a broadcast nested-loop join, never a shuffle."""
    prep(spark)
    tiers = F.broadcast(
        spark.createDataFrame(
            [("small", 0, 100000), ("mid", 100000, 250000),
             ("large", 250000, 400000), ("jumbo", 400000, 1000000)],
            "tier_name string, lo int, hi int",
        )
    )
    o = table(spark, sf_dir, "orders")
    return (
        o.join(tiers, (o.o_totalprice >= tiers.lo) & (o.o_totalprice < tiers.hi))
        .groupBy("tier_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(28,4)")), 4)
            .cast("double")
            .alias("tier_total"),
        )
    )


@register(
    "join_asof_prior_spend",
    oracle="""
WITH daily AS (
  SELECT o_custkey AS custkey, o_orderdate AS d,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,4))), 4) AS DOUBLE) AS day_spend
  FROM orders GROUP BY o_custkey, o_orderdate
)
, m AS (
  -- the asof contract: a row with no time matches NOTHING. DuckDB's raw
  -- ASOF instead inherits its sort's NULLS-LAST order (a NULL left time
  -- silently matches the LATEST right row — the data-corrupting artifact
  -- the round-7 null-flood sweep caught), so the contract is spelled
  -- explicitly: asof over dated rows, dateless rows rejoin with NULL.
  SELECT o.o_orderkey, d.day_spend
  FROM (SELECT * FROM orders WHERE o_orderdate IS NOT NULL) o
  ASOF LEFT JOIN daily d ON o.o_custkey = d.custkey AND o.o_orderdate > d.d
)
SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, m.day_spend AS prior_day_spend
FROM orders o LEFT JOIN m ON m.o_orderkey = o.o_orderkey
""",
    tags=("join", "asof", "window"),
)
def join_asof_prior_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each order matched to the customer's most recent
    STRICTLY-PRIOR order day's spend (union-merge operator; ties on the
    right are pre-aggregated to one row per (custkey, day))."""
    prep(spark)
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_custkey").alias("custkey"), F.col("o_orderdate").alias("d")
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(28,4)")), 4)
        .cast("double")
        .alias("day_spend")
    )
    left = o.select(F.col("o_orderkey"), F.col("o_custkey").alias("custkey"), F.col("o_orderdate"))
    joined = asof_join(
        left,
        daily,
        on=["custkey"],
        left_time="o_orderdate",
        right_time="d",
        value_cols=["day_spend"],
        strict=True,
    )
    return joined.select(
        "o_orderkey",
        F.col("custkey").alias("o_custkey"),
        "o_orderdate",
        F.col("day_spend").alias("prior_day_spend"),
    )


@register(
    "filter_predicates",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_orderpriority, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       big.o_orderkey IS NOT NULL AS is_big
FROM (
  SELECT * FROM orders
  WHERE o_totalprice BETWEEN 100000 AND 200000
    AND o_orderstatus IN ('F', 'O')
    AND o_orderpriority NOT IN ('4-NOT SPECIFIED', '5-LOW')
    AND o_orderpriority LIKE '%-%'
    AND regexp_matches(o_orderpriority, '^[1-3]-')
    AND NOT (o_orderstatus = 'P' OR o_custkey < 10)
    AND o_custkey IS NOT NULL
) o
LEFT JOIN (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000) big USING (o_orderkey)
""",
    tags=("filter", "predicates"),
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full predicate family in one query: between, IN, NOT IN, LIKE,
    rlike, and/or/not, IS (NOT) NULL — all pushed below the join by
    Catalyst (BETWEEN and IN reach the parquet scan as PushedFilters)."""
    prep(spark)
    o = table(spark, sf_dir, "orders").where(
        F.col("o_totalprice").between(100000, 200000)
        & F.col("o_orderstatus").isin("F", "O")
        & ~F.col("o_orderpriority").isin("4-NOT SPECIFIED", "5-LOW")
        & F.col("o_orderpriority").like("%-%")
        & F.col("o_orderpriority").rlike("^[1-3]-")
        & ~((F.col("o_orderstatus") == "P") | (F.col("o_custkey") < 10))
        & F.col("o_custkey").isNotNull()
    )
    big = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 150000)
        .select(F.col("o_orderkey").alias("big_key"))
    )
    return o.join(big, o.o_orderkey == big.big_key, "left").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.col("big_key").isNotNull().alias("is_big"),
    )


# 24 deterministic 2-hour maintenance windows spread across the events
# month (2024-01): start = base + i*29h. Whole-hour boundaries by
# construction, which is what makes hour-bucketing lossless.
_IVL_BASE = "2024-01-01 00:00:00"
_IVL_WINDOWS = [(i, i * 29, i * 29 + 2) for i in range(24)]  # (id, start_h, end_h)


def _ivl_values_sql() -> str:
    rows = ", ".join(
        f"({i}, TIMESTAMP '{_IVL_BASE}' + INTERVAL {s} HOUR, "
        f"TIMESTAMP '{_IVL_BASE}' + INTERVAL {e} HOUR)"
        for i, s, e in _IVL_WINDOWS
    )
    return f"(VALUES {rows}) AS w(window_id, w_start, w_end)"


@register(
    "join_interval_events",
    oracle=f"""
SELECT window_id, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
FROM {_ivl_values_sql()}
JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY window_id
""",
    tags=("join", "nonequi", "interval", "window-time", "agg"),
)
def join_interval_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join at scale: events matched into maintenance
    windows. The naive plan is a nested-loop theta join (every event
    against every window); this one EQUI-joins on a coarse time bucket —
    each window explodes into the hour buckets it covers, each event
    carries its hour bucket — and verifies the exact interval predicate
    only on bucket-collided rows.

    Scale: the bucket join shuffles on a uniform time key (or broadcasts
    the exploded window side, as here — it is dim-sized x a few buckets);
    cost is O(events + windows*span/bucket) instead of O(events*windows).
    The bucket granularity trades fan-out against candidate precision —
    the standard interval-join decomposition."""
    prep(spark)
    win = spark.createDataFrame(
        _IVL_WINDOWS, "window_id int, start_h int, end_h int"
    ).select(
        "window_id",
        F.expr(f"TIMESTAMP '{_IVL_BASE}' + make_interval(0,0,0,0,start_h,0,0)").alias("w_start"),
        F.expr(f"TIMESTAMP '{_IVL_BASE}' + make_interval(0,0,0,0,end_h,0,0)").alias("w_end"),
    )
    wb = F.broadcast(
        win.select(
            "window_id",
            "w_start",
            "w_end",
            # last bucket = the hour containing w_end - 1s: an
            # hour-aligned (exclusive) end contributes no bucket of its
            # own, so no window carries a dead bucket whose candidates
            # the ts < w_end filter would always discard.
            F.explode(
                F.expr(
                    "sequence(date_trunc('hour', w_start), "
                    "date_trunc('hour', w_end - interval 1 second), interval 1 hour)"
                )
            ).alias("bucket"),
        )
    )
    ev = table(spark, sf_dir, "events").select(
        "ts", "user_id", F.date_trunc("hour", "ts").alias("bucket")
    )
    return (
        ev.join(wb, "bucket")
        .where((F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")))
        .groupBy("window_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


_CORR_SUBQ = """
SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
FROM customer c
WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                   WHERE c2.c_mktsegment = c.c_mktsegment)
"""


@register(
    "subquery_correlated_scalar",
    oracle=_CORR_SUBQ,
    tags=("subquery", "join", "agg"),
)
def subquery_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (customers above their segment's mean
    balance) — Catalyst decorrelates it into an aggregate + join; the
    identical SQL text runs on both engines."""
    from ..catalog import register_views

    prep(spark)
    register_views(spark, sf_dir)
    return spark.sql(_CORR_SUBQ)


@register(
    "join_bucketed_smj",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,4))), 4) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    tags=("join", "bucketed", "layout"),
)
def join_bucketed_smj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free sort-merge join over hash-bucketed table layouts.

    Both sides are written once bucketed by their join key
    (catalog.bucketed_table: CLUSTERED BY (custkey) INTO 8 BUCKETS,
    SORTED BY); the join then consumes the layout's distribution —
    `Bucketed: true` on both scans and NO Exchange anywhere before the
    join (asserted in tests/test_plans.py). The MERGE hint pins the
    sort-merge strategy so the assertion demonstrates the co-located
    shuffle-free join rather than a broadcast fallback.

    Scale: this is the bucketing posture of SCALE.md made executable —
    at 100 TB the ingest layer pays ONE shuffle to bucket the fact
    tables by their dominant join key, and every later join or
    aggregation on that key is exchange-free. The same layout also
    serves bucket pruning: an equality predicate on the bucket key
    reads 1/N of the files (SelectedBucketsCount, also plan-asserted).

    The scan-side SORT is elided too: bucketed_table guarantees one
    sorted file per bucket, so the legacy bucketedTableScan
    outputOrdering flag (off by default because Spark can't verify
    arbitrary writers kept buckets sorted — OUR writer does, by
    construction) lets the scans report their SORTED BY ordering.
    Measured at 15M rows: 0.46 s -> 0.35 s on top of the 3x exchange
    win (tools/bucket_probe.py). Applied in a plan-then-restore window
    so no other query's scans inherit the trust."""
    from ..catalog import bucketed_table

    prep(spark)
    o = bucketed_table(spark, sf_dir, "orders", "o_custkey")
    c = bucketed_table(spark, sf_dir, "customer", "c_custkey")
    key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        out = (
            o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.countDistinct("o_custkey").alias("n_customers"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(28,4)")), 4)
                .cast("double")
                .alias("revenue"),
            )
        )
        out._jdf.queryExecution().executedPlan()  # plan under the flag
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    return out


@register(
    "join_bloom_runtime_filter",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_lines,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,4))), 4) AS DOUBLE) AS price_sum
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
""",
    tags=("join", "bloom", "runtime-filter"),
)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning: the selective filter on the
    orders side is turned into a bloom_filter_agg subquery whose
    bloom_filter_might_contain probe is pushed into the LINEITEM scan —
    fact rows that cannot join are dropped at the scan, before the
    join's shuffle ever sees them (plan-asserted).

    At 100 TB this is the row-level companion to dynamic partition
    pruning: DPP skips whole partitions, the Bloom filter skips the
    surviving rows, and both derive from the dim predicate at runtime
    with no pipeline-author involvement. The injection thresholds are
    lowered inside a plan-then-restore window (the feature is sized for
    multi-GB scans; the sandbox's sf dirs are MBs): the plan is forced
    while the thresholds are active, then session conf is restored so no
    other query's planning is perturbed.
    """
    prep(spark)
    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # InjectRuntimeFilter only fires on probably-shuffle joins: a
        # creation side under the broadcast threshold suppresses the
        # bloom filter (broadcast pruning would subsume it). At sandbox
        # scale every dim is broadcast-able, so the window also disables
        # auto-broadcast — at 100 TB the filtered dim genuinely exceeds
        # the threshold and the rule fires on its own. (AQE may still
        # convert the join to broadcast at runtime from observed stats;
        # the injected scan-side filter survives that conversion.)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        li = table(spark, sf_dir, "lineitem")
        o = table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        out = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.round(
                    F.sum(F.col("l_extendedprice").cast("decimal(28,4)")), 4
                )
                .cast("double")
                .alias("price_sum"),
            )
        )
        # Materialize the physical plan NOW, while the thresholds are
        # active: QueryExecution caches it, so the later action reuses
        # the bloom-injected plan even after the conf rolls back.
        out._jdf.queryExecution().executedPlan()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


@register(
    "join_fuzzy_linkage",
    oracle="""
WITH p AS (
  SELECT p_partkey, p_brand,
         split_part(p_name, ' ', 1) AS adj,
         split_part(p_name, ' ', -1) AS noun
  FROM part WHERE p_partkey < 500 AND p_name IS NOT NULL
)
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b, a.noun,
       a.adj AS adj_a, b.adj AS adj_b,
       CAST(levenshtein(a.adj, b.adj) AS INT) AS edit_dist,
       a.p_brand = b.p_brand AS same_brand
FROM p a JOIN p b ON a.noun = b.noun AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.adj, b.adj) <= 2
""",
    tags=("join", "fuzzy", "linkage", "entity-resolution"),
)
def join_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage (entity resolution): candidate pairs from a
    BLOCKING key (the name's noun), verified by edit distance on the
    remaining token (levenshtein <= 2), never an all-pairs comparison.

    This is the classic two-stage linkage shape: blocking turns the
    O(n^2) match problem into an equi-join on a cheap deterministic key
    (at 100 TB: one shuffle on the block key, with skewed giant blocks
    handled like any hot join key — salt or AQE skew split), and the
    expensive string metric runs only inside blocks. The bounded
    p_partkey slice keeps the demonstration's block sizes honest at
    every sf (the full-corpus path would add a second, finer blocking
    key before scaling the verify stage)."""
    prep(spark)
    parts = (
        table(spark, sf_dir, "part")
        .where((F.col("p_partkey") < 500) & F.col("p_name").isNotNull())
        .select(
            "p_partkey",
            "p_brand",
            F.element_at(F.split("p_name", " "), 1).alias("adj"),
            F.element_at(F.split("p_name", " "), -1).alias("noun"),
        )
    )
    b = parts.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_brand").alias("brand_b"),
        F.col("adj").alias("adj_b"),
        F.col("noun").alias("noun_b"),
    )
    lev = F.levenshtein("adj", "adj_b")
    return (
        parts.join(
            b,
            (F.col("noun") == F.col("noun_b"))
            & (F.col("p_partkey") < F.col("key_b")),
        )
        .where(lev <= 2)
        .select(
            F.col("p_partkey").alias("key_a"),
            "key_b",
            "noun",
            F.col("adj").alias("adj_a"),
            "adj_b",
            lev.cast("int").alias("edit_dist"),
            (F.col("p_brand") == F.col("brand_b")).alias("same_brand"),
        )
    )


@register(
    "join_cbo_reorder",
    oracle="""
SELECT n_name, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,4))), 4) AS DOUBLE) AS revenue
FROM orders, customer, nation
WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
GROUP BY n_name
""",
    tags=("join", "cbo", "optimizer", "stats"),
)
def join_cbo_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join reordering from collected table statistics: the
    SQL text joins (orders x customer) FIRST and nation last; ANALYZE
    TABLE row/column stats + CBO let the optimizer rewrite it to build
    (customer x nation) first — shrinking the big fact's build side —
    which plan-asserts the whole CBO surface: stats collection, stats
    propagation, and joinReorder (tests/test_plans.py).

    At 100 TB this is the difference between a pipeline author hand-
    ordering every star join and the catalog doing it: ANALYZE runs per
    ingest (here: once per session, skipped when stats exist), and every
    query against those tables gets size-aware join trees. CBO conf is
    applied in a plan-then-restore window like the bloom entry, so no
    other query's planning is perturbed."""
    import os

    from ..catalog import bucketed_table, table as load, work_dir, work_table

    prep(spark)
    o = bucketed_table(spark, sf_dir, "orders", "o_custkey")
    c = bucketed_table(spark, sf_dir, "customer", "c_custkey")
    otbl = work_table(sf_dir, "orders_by_o_custkey_8")
    ctbl = work_table(sf_dir, "customer_by_c_custkey_8")
    ntbl = work_table(sf_dir, "nation_cbo")
    if not spark.catalog.tableExists(ntbl):
        path = os.path.join(work_dir(sf_dir, "cbo"), "nation")
        (
            load(spark, sf_dir, "nation")
            .write.mode("overwrite")
            .option("path", path)
            .saveAsTable(ntbl)
        )
    for tbl in (otbl, ctbl, ntbl):
        has_stats = (
            spark.sql(f"DESC EXTENDED {tbl}")
            .where("col_name = 'Statistics'")
            .count()
            > 0
        )
        if not has_stats:
            spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR ALL COLUMNS")
    keys = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        out = spark.sql(f"""
SELECT n_name, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,4))), 4) AS DOUBLE) AS revenue
FROM {otbl} o, {ctbl} c, {ntbl} n
WHERE o.o_custkey = c.c_custkey AND c.c_nationkey = n.n_nationkey
GROUP BY n_name
""")
        out._jdf.queryExecution().executedPlan()  # plan under CBO confs
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


@register(
    "join_asof_next_purchase",
    oracle="""
WITH v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
vm AS (
  -- no-time-no-match: see join_asof_prior_spend's oracle note
  SELECT v.user_id, v.ts AS view_ts, p.ts AS purchase_ts, p.value
  FROM (SELECT * FROM v WHERE ts IS NOT NULL) v
  ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts < p.ts
),
m AS (
  SELECT user_id, view_ts, purchase_ts, value FROM vm
  UNION ALL
  SELECT user_id, ts, NULL, NULL FROM v WHERE ts IS NULL
)
SELECT user_id,
       COUNT(*) AS n_views,
       COUNT(purchase_ts) AS n_converted,
       ROUND(AVG(epoch(purchase_ts) - epoch(view_ts)) / 60.0, 6) AS avg_min_to_convert,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) AND abs(value) < 1e12 THEN value END AS DECIMAL(28,4))), 4) AS DOUBLE) AS attributed_value
FROM m
GROUP BY user_id
HAVING COUNT(purchase_ts) > 0
""",
    tags=("join", "asof", "forward", "attribution"),
)
def join_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (operators/asof.py direction='forward'): each
    view event matched to the user's nearest FOLLOWING purchase — the
    time-to-convert attribution dual of the backward nearest-prior join
    (and the batch mirror of the stream-stream interval join's
    view->purchase pairing). DuckDB's native ASOF JOIN with the
    inequality reversed is the oracle.

    Same scale shape as backward: tag both sides, union, ONE shuffle on
    user_id, first(ignorenulls) over the mirrored forward frame — no
    per-row Python, no per-group pandas."""
    prep(spark)
    from ..operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), "value"
    )
    m = asof_join(
        v,
        p.withColumnRenamed("p_ts", "ts_r").withColumnRenamed("value", "p_value"),
        on=["user_id"],
        left_time="ts",
        right_time="ts_r",
        value_cols=["ts_r", "p_value"],
        strict=True,
        direction="forward",
    )
    gap_min = (
        F.col("ts_r").cast("double") - F.col("ts").cast("double")
    ) / 60.0
    return (
        m.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.count("ts_r").alias("n_converted"),
            F.round(F.avg(gap_min), 6).alias("avg_min_to_convert"),
            F.round(F.sum(F.col("p_value").cast("decimal(28,4)")), 4)
            .cast("double")
            .alias("attributed_value"),
        )
        .where(F.col("n_converted") > 0)
    )


@register(
    "join_null_safe_eq",
    oracle="""
WITH a AS (
  SELECT o_orderkey, NULLIF(o_orderpriority, '3-MEDIUM') AS k FROM orders
  WHERE o_orderkey % 100 = 0
),
b AS (
  SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS k, COUNT(*) AS n
  FROM orders GROUP BY 1
)
SELECT COALESCE(a.k, '~null~') AS k,
       CAST(COUNT(*) AS BIGINT) AS n_left,
       CAST(MAX(b.n) AS BIGINT) AS n_right
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
GROUP BY a.k
""",
    tags=("join", "null-safe", "semantics"),
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (Spark `<=>`, ANSI IS NOT DISTINCT FROM):
    NULL keys MATCH each other instead of silently dropping — the
    semantics migrations stumble on when a nullable dimension key means
    'unknown bucket' and the report must keep the unknown row. The
    NULLIF-derived key guarantees a NULL group exists so the variant is
    actually exercised.

    Plan note: Spark plans `<=>` as an equi-join (null-safe keys hash
    like values), NOT a theta join — broadcast/shuffle strategies apply
    unchanged, which is exactly why this form beats the
    `k = k OR (both null)` rewrite users reach for first (that one
    degenerates to a nested-loop)."""
    prep(spark)
    orders = table(spark, sf_dir, "orders")
    key = F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM"))
    a = orders.where(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", key.alias("k")
    )
    b = orders.groupBy(key.alias("kb")).agg(F.count(F.lit(1)).alias("n"))
    return (
        a.join(b, a.k.eqNullSafe(b.kb))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_left"),
            F.max("n").cast("bigint").alias("n_right"),
        )
        .select(
            F.coalesce("k", F.lit("~null~")).alias("k"), "n_left", "n_right"
        )
    )


@register(
    "join_interval_overlap",
    oracle="""
WITH a AS (
  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS d,
         CAST(epoch_us(MIN(ts)) AS BIGINT) AS a_lo,
         CAST(epoch_us(MAX(ts)) + 1 AS BIGINT) AS a_hi
  FROM events WHERE user_id < 60 GROUP BY 1, 2
),
eh AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr,
         COUNT(*) AS n
  FROM events WHERE event_type = 'error' GROUP BY 1 HAVING COUNT(*) >= 3
),
isl AS (
  SELECT hr, hr - ROW_NUMBER() OVER (ORDER BY hr) AS grp FROM eh
),
b AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY MIN(hr)) AS INT) AS burst_id,
         MIN(hr) * 3600000000 AS b_lo,
         (MAX(hr) + 1) * 3600000000 AS b_hi
  FROM isl GROUP BY grp
)
SELECT a.user_id, a.d, b.burst_id, a.a_lo, a.a_hi, b.b_lo, b.b_hi,
       LEAST(a.a_hi, b.b_hi) - GREATEST(a.a_lo, b.b_lo) AS overlap_us
FROM a JOIN b ON a.a_lo < b.b_hi AND b.b_lo < a.a_hi
""",
    tags=("join", "nonequi", "interval", "overlap"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join (interval x interval, not point-in-interval
    like join_interval_events): per-user daily activity spans matched
    against error-burst windows (>=3 errors/hour, consecutive hot hours
    merged into maximal bursts by gaps-and-islands on the integer hour
    index) wherever the two intervals intersect, reporting the exact
    overlap in microseconds — the incident-attribution shape ("which
    users were active during which outage, for how long").

    The naive plan is a nested-loop theta join on the two range
    predicates. This one decomposes it the standard way: each interval
    explodes into the hour buckets it covers (activity spans are
    day-bounded: <=24; bursts are their own hours), the join is an
    EQUI-join on the bucket, and the exact predicate verifies only
    bucket-collided pairs — O(sum of span-hours) candidates instead of
    O(|A| x |B|). All interval arithmetic is exact int64 microseconds
    (half-open [lo, hi)), so overlap_us is hash-stable by construction.

    Scale: both explodes are linear in interval-hours; the bucket join
    shuffles on a uniform time key (here the burst side is dim-sized and
    broadcast). Burst ids are ordinal over burst start — deterministic on
    any draw. The same decomposition runs interval self-joins
    (overlapping sessions) by bucketing both sides identically."""
    prep(spark)
    ev = table(spark, sf_dir, "events")
    US_H = 3_600_000_000
    a = (
        ev.where(F.col("user_id") < 60)
        .groupBy(
            "user_id",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d"),
        )
        .agg(
            F.unix_micros(F.min("ts")).alias("a_lo"),
            (F.unix_micros(F.max("ts")) + 1).alias("a_hi"),
        )
    )
    eh = (
        ev.where(F.col("event_type") == "error")
        .groupBy(
            (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
            .cast("long")
            .alias("hr")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 3)
    )
    w_ord = Window.partitionBy(F.col("hr") * 0).orderBy("hr")
    isl = eh.withColumn("grp", F.col("hr") - F.row_number().over(w_ord))
    b = (
        isl.groupBy("grp")
        .agg(F.min("hr").alias("h_lo"), F.max("hr").alias("h_hi"))
        .select(
            F.row_number()
            .over(Window.partitionBy(F.col("h_lo") * 0).orderBy("h_lo"))
            .cast("int")
            .alias("burst_id"),
            (F.col("h_lo") * US_H).alias("b_lo"),
            ((F.col("h_hi") + 1) * US_H).alias("b_hi"),
            F.expr("sequence(h_lo, h_hi)").alias("hrs"),
        )
        .select("burst_id", "b_lo", "b_hi", F.explode("hrs").alias("hr"))
    )
    a_buckets = a.select(
        "user_id", "d", "a_lo", "a_hi",
        F.explode(
            F.expr(f"sequence(a_lo DIV {US_H}, (a_hi - 1) DIV {US_H})")
        ).alias("hr"),
    )
    pairs = (
        a_buckets.join(F.broadcast(b), "hr")
        .select("user_id", "d", "burst_id", "a_lo", "a_hi", "b_lo", "b_hi")
        .distinct()
        .where((F.col("a_lo") < F.col("b_hi")) & (F.col("b_lo") < F.col("a_hi")))
    )
    return pairs.select(
        "user_id", "d", "burst_id", "a_lo", "a_hi", "b_lo", "b_hi",
        (F.least("a_hi", "b_hi") - F.greatest("a_lo", "b_lo")).alias("overlap_us"),
    )


@register(
    "join_pit_features",
    oracle="""
WITH pv AS (
  SELECT user_id, ts,
         CAST(COUNT(*) AS BIGINT) AS pv_n,
         CAST(MAX(value) AS DOUBLE) AS pv_value
  FROM events WHERE event_type = 'view'
  GROUP BY user_id, ts
),
spine AS (
  SELECT event_id, user_id, ts
  FROM events WHERE event_type = 'purchase'
),
m AS (
  -- no-time-no-match (see join_asof_prior_spend's oracle note)
  SELECT s.event_id, p.pv_value, p.ts AS p_ts
  FROM (SELECT * FROM spine WHERE ts IS NOT NULL) s
  ASOF LEFT JOIN pv p ON s.user_id = p.user_id AND s.ts >= p.ts
)
SELECT s.event_id, s.user_id, s.ts,
       m.pv_value AS prior_view_value,
       CASE WHEN m.p_ts IS NULL THEN NULL
            ELSE epoch_us(s.ts - m.p_ts) END AS view_age_us,
       c.c_mktsegment AS segment
FROM spine s
LEFT JOIN m ON m.event_id = s.event_id
LEFT JOIN customer c ON c.c_custkey = s.user_id
""",
    tags=("join", "asof", "feature-store", "point-in-time"),
)
def join_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) feature join — the feature-store shape behind
    every leakage-free training set: a label spine (purchase events)
    enriched with (a) the user's most recent AT-OR-BEFORE view value and
    its age (as-of backward join — a plain equi-join here would leak
    future views into the features), and (b) a static dim attribute
    (market segment, broadcast). Right-side ties are pre-aggregated to
    one row per (user, ts) per the as-of determinism discipline.

    Scale: the as-of is the union-merge operator (one shuffle on
    user_id, single window pass — operators/asof.py); the dim is a
    broadcast. Adding more feature tables is one more union-merge each,
    all sharing the spine's partitioning — no repeated spine scans and
    no row explosion, which is exactly why feature stores run PIT joins
    instead of interval joins at 100 TB."""
    prep(spark)
    ev = table(spark, sf_dir, "events")
    pv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("pv_ts"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("pv_n"),
            F.max("value").cast("double").alias("pv_value"),
        )
    )
    spine = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        spine,
        pv,
        on=["user_id"],
        left_time="ts",
        right_time="pv_ts",
        value_cols=["pv_ts", "pv_value"],
        strict=False,
    )
    cust = dim(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    return joined.join(cust, "user_id", "left").select(
        "event_id",
        "user_id",
        "ts",
        F.col("pv_value").alias("prior_view_value"),
        (F.unix_micros("ts") - F.unix_micros("pv_ts")).alias("view_age_us"),
        "segment",
    )


_HINT_AGG_ORACLE = """
SELECT '{v}' AS strategy, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,4))), 4) AS DOUBLE)
         AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@register(
    "join_hint_strategies",
    oracle="\nUNION ALL\n".join(
        _HINT_AGG_ORACLE.format(v=v)
        for v in ("broadcast", "merge", "shuffle_hash")
    ),
    tags=("join", "hints", "optimizer", "physical-strategy"),
)
def join_hint_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy hints: the SAME logical join (orders x customer,
    rolled up per segment) executed under BROADCAST, MERGE (sort-merge)
    and SHUFFLE_HASH hints — the surface an operator reaches for when
    AQE's choice is wrong for a specific query (a dim just over the
    broadcast threshold, a sort-merge whose sort dominates, a skewed
    build side). Each variant's physical strategy is plan-asserted in
    tests/test_plans.py (BroadcastHashJoin / SortMergeJoin /
    ShuffledHashJoin); the oracle checks all three produce identical
    results — a hint may only change the HOW, never the WHAT.

    Scale: the hint rides the plan, so the guidance holds on a cluster:
    BROADCAST caps the small side by executor memory, SHUFFLE_HASH
    skips the sort at the cost of an in-memory hash build per
    partition, MERGE is the spill-safe default for big-big."""
    prep(spark)
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    out = None
    for variant in ("broadcast", "merge", "shuffle_hash"):
        j = orders.join(
            customer.hint(variant), F.col("o_custkey") == F.col("c_custkey")
        )
        agg = j.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(28,4)")), 4
            )
            .cast("double")
            .alias("total"),
        )
        part = agg.select(
            F.lit(variant).alias("strategy"),
            "c_mktsegment",
            "n_orders",
            "total",
        )
        out = part if out is None else out.unionByName(part)
    return out
