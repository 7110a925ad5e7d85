"""Iterative graph analytics over relational data (beside
operators/components.py's connected components): PageRank on the
customer-supplier trading graph.

Numeric discipline for a cross-engine iterative float algorithm: every
iteration's rank is rounded to 1e-9 on BOTH engines before feeding the
next — float summation order differs across engines at ~1e-16 per
reduction, and without the per-iteration clamp that drift compounds
through the power iteration (the same trick vec_kmeans_clusters'
unrolled-CTE oracle uses for centroid distances).
"""

from __future__ import annotations

from decimal import Decimal as _Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..session import materialize_once, prep
from . import register

_DAMP = 0.85
_ITERS = 3
_SUPP_BASE = 100000  # supplier node ids offset past customer keys
# The oracles' spelling of _trade_edges.
_O_EDGES = f"""
SELECT DISTINCT o_custkey AS src, {_SUPP_BASE} + l_suppkey AS dst
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
UNION
SELECT DISTINCT {_SUPP_BASE} + l_suppkey AS src, o_custkey AS dst
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetrized customer<->supplier trading graph as a distinct
    (src, dst) relation: every (customer, supplier) pair that shares an
    order line, in both directions. Supplier ids are offset by
    _SUPP_BASE so the two node sets never collide."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            (F.lit(_SUPP_BASE) + F.col("l_suppkey")).alias("supp"),
        )
        .distinct()
    )
    return (
        pairs.select(F.col("cust").alias("src"), F.col("supp").alias("dst"))
        .unionByName(
            pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
        )
        .distinct()
    )


def _pagerank_oracle() -> str:
    edges = _O_EDGES
    iters = []
    prev = "r0"
    for i in range(1, _ITERS + 1):
        iters.append(f"""
r{i} AS (
  SELECT n.node,
         ROUND(0.15 / (SELECT COUNT(*) FROM nodes)
               + {_DAMP} * COALESCE(SUM({prev}.rank / d.outdeg), 0), 9) AS rank
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN {prev} ON {prev}.node = e.src
  LEFT JOIN deg d ON d.src = e.src
  GROUP BY n.node
)""")
        prev = f"r{i}"
    return f"""
WITH edges AS ({edges}),
nodes AS (SELECT DISTINCT src AS node FROM edges),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, ROUND(1.0 / (SELECT COUNT(*) FROM nodes), 9) AS rank FROM nodes),
{", ".join(i.strip() for i in iters)}
SELECT node, rank FROM {prev}
ORDER BY rank DESC, node
LIMIT 20
"""


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative", "pagerank"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 damped power iterations, symmetrized customer<->
    supplier trading edges): which parties sit at the center of the
    trading network. The loop builds pure DataFrame lineage — each
    iteration is contributions = edges ⋈ ranks, one shuffle on dst;
    only the plan, never data, passes through the driver (kmeans-style;
    at more iterations you'd checkpoint lineage every ~5 rounds). The
    oracle unrolls the identical three iterations as DuckDB CTEs; both
    engines round each iteration to 1e-9, which absorbs reduction-order
    float drift (see module docstring).

    Scale: edges come from one distinct over the order-lines join;
    ranks is |nodes| rows; every iteration shuffles contributions by
    dst — the canonical distributed PageRank shape, with AQE free to
    broadcast the (small) rank side at low SF."""
    prep(spark)
    # The loop-invariant edge relation, read by every iteration.
    edges = materialize_once(_trade_edges(spark, sf_dir))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n_nodes = nodes.count()  # one scalar to the driver (teleport term)
    # Empty-slice guard: an empty edge relation means `nodes` has no
    # rows, so the placeholder init value never reaches output — but the
    # driver-side division must not abort the job (round-7 empty-corpus
    # sweep). The result is correctly empty through the same code path.
    init = 1.0 / n_nodes if n_nodes else 0.0
    teleport = 0.15 / n_nodes if n_nodes else 0.0
    ranks = nodes.select("node", F.round(F.lit(init), 9).alias("rank"))
    for _ in range(_ITERS):
        contribs = (
            edges.join(deg, "src")
            .join(ranks, F.col("src") == F.col("node"))
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .select(
                "node",
                F.round(
                    F.lit(teleport)
                    + _DAMP * F.coalesce("contrib", F.lit(0.0)),
                    9,
                ).alias("rank"),
            )
        )
    out = ranks.orderBy(F.desc("rank"), "node").limit(20)
    return out


_TRI_EDGES = """
SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                GREATEST(a.l_partkey, b.l_partkey) AS v
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
WHERE a.l_partkey < 300 AND b.l_partkey < 300
"""


@register(
    "graph_triangles",
    oracle=f"""
WITH edges AS ({_TRI_EDGES}),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.v
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
pv AS (
  SELECT vertex, COUNT(*) AS n_triangles
  FROM (SELECT a AS vertex FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
  GROUP BY vertex
)
SELECT vertex, n_triangles
FROM pv ORDER BY n_triangles DESC, vertex LIMIT 10
""",
    tags=("graph", "triangles"),
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-purchase graph (parts appearing in
    the same order, bounded to partkey < 300): top-10 parts by triangle
    participation — the clustering-structure primitive behind community
    and spam detection.

    Shape: edges are id-oriented (u < v), so each triangle is generated
    exactly once as wedge (u<b<c) + closing-edge semi-check — the
    standard distributed triangle algorithm (two shuffle joins on
    vertex keys; at 100 TB the orientation would be by DEGREE, which
    bounds wedge fan-out by sqrt(m) per vertex — id-orientation keeps
    the demonstration deterministic and the DuckDB oracle identical).
    Per-vertex counts are one explode + hash agg; top-10 is a bounded
    TakeOrdered finalization."""
    prep(spark)
    li = table(spark, sf_dir, "lineitem").where(F.col("l_partkey") < 300)
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, ["ok"])
        .where(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .distinct()
    )
    e1 = edges
    e2 = edges.select(F.col("u").alias("u2"), F.col("v").alias("v2"))
    e3 = edges.select(F.col("u").alias("u3"), F.col("v").alias("v3"))
    tri = (
        e1.join(e2, F.col("v") == F.col("u2"))
        .join(e3, (F.col("u3") == F.col("u")) & (F.col("v3") == F.col("v2")))
        .select(F.col("u").alias("a"), F.col("v").alias("b"), F.col("v2").alias("c"))
    )
    pv = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return pv.orderBy(F.col("n_triangles").desc(), "vertex").limit(10)


_BFS_SQL = f"""
WITH RECURSIVE edges AS (
  SELECT DISTINCT o_custkey AS src, {_SUPP_BASE} + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
  UNION
  SELECT DISTINCT {_SUPP_BASE} + l_suppkey AS src, o_custkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
),
walk(node, hops) AS (
  SELECT CAST(1 AS BIGINT) AS node, 0 AS hops
  UNION ALL
  SELECT e.dst, w.hops + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.hops < 2
)
SELECT node, MIN(hops) AS hops
FROM walk
GROUP BY node
"""


@register(
    "graph_recursive_bfs",
    oracle=_BFS_SQL,
    tags=("graph", "recursive-cte", "sql"),
)
def graph_recursive_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (SQL:1999 WITH RECURSIVE, Spark 4.1): breadth-first
    reachability with minimum hop count from customer 1 over the
    symmetrized trading graph, 2 expansion rounds — the transitive-
    closure/hierarchy-walk capability, run from the IDENTICAL ANSI text
    on both engines (like the correlated-subquery entry).

    Scale: each recursion round is planned as a join of the frontier
    against the (distinct-deduped) edge relation — the same shuffle
    shape as the hand-built label-propagation loop in
    operators/components.py, but driven by the engine's own fixpoint
    operator; the hops < 2 bound is the standard guard that keeps a
    cyclic graph's expansion finite (Spark additionally enforces a
    recursion row limit).

    Posture (recorded in SCALE.md "Iterative graph analytics"): this row
    is the SQL:1999 DIALECT-PARITY demonstration — identical ANSI text
    on both engines. The scale path for the same capability is
    graph_bfs_frontier below: the explicit frontier loop, the shape
    every other iterative graph operator here uses (label propagation,
    ER components, PageRank), each measured faster than the CTE closure
    at 25x (BASELINE §3h)."""
    from ..catalog import register_views

    prep(spark)
    register_views(spark, sf_dir)
    return spark.sql(_BFS_SQL)


@register(
    "graph_bfs_frontier",
    oracle=_BFS_SQL,
    tags=("graph", "iterative", "bfs", "frontier"),
)
def graph_bfs_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop BFS as an explicit frontier loop — the SCALE-PATH primary
    spelling of the reachability capability (graph_recursive_bfs keeps
    the SQL:1999 dialect-parity demonstration; same oracle text proves
    they agree).

    Per round the frontier joins the deduped edge relation, the reached
    set is de-duplicated and anti-joined against everything already
    seen, so each round shuffles ONE frontier's worth of rows. The
    recursive CTE instead re-expands every node re-reached at a deeper
    hop (its walk relation grows with path multiplicity, not reach —
    the measured 11x gap in BASELINE §3h). A node's first discovery
    round IS its minimum hop, so no final MIN is needed.
    """
    prep(spark)
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # A NULL endpoint is not a graph node — and the frontier's
    # left_anti dedup can never retire a NULL (anti-join equality is
    # never TRUE for NULL), so it would re-surface every round.
    pairs = orders.join(
        li, F.col("o_orderkey") == F.col("l_orderkey")
    ).where(
        F.col("o_custkey").isNotNull() & F.col("l_suppkey").isNotNull()
    ).select(
        F.col("o_custkey").alias("cust"),
        (F.lit(_SUPP_BASE) + F.col("l_suppkey")).alias("supp"),
    )
    edges = (
        pairs.select(F.col("cust").alias("src"), F.col("supp").alias("dst"))
        .distinct()
        .unionByName(
            pairs.select(
                F.col("supp").alias("src"), F.col("cust").alias("dst")
            ).distinct()
        )
    )
    seen = spark.createDataFrame([(1, 0)], "node BIGINT, hops INT")
    frontier = seen.select("node")
    for hop in (1, 2):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(seen.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(hop))
        )
        seen = seen.unionByName(nxt)
        frontier = nxt.select("node")
    return seen


def _lpa_oracle() -> str:
    edges = _O_EDGES
    prev = "l0"
    iters = []
    for i in range(1, _ITERS + 1):
        iters.append(f"""
raw{i} AS (
  SELECT e.dst AS node, l.label FROM edges e JOIN {prev} l ON l.node = e.src
  UNION ALL
  SELECT node, label FROM {prev}
),
cnt{i} AS (SELECT node, label, COUNT(*) AS c FROM raw{i} GROUP BY node, label),
l{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM cnt{i}
  ) WHERE rn = 1
)""")
        prev = f"l{i}"
    return f"""
WITH edges AS ({edges}),
nodes AS (SELECT DISTINCT src AS node FROM edges),
l0 AS (SELECT node, node AS label FROM nodes),
{", ".join(i.strip() for i in iters)}
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
FROM {prev}
GROUP BY label
ORDER BY n_members DESC, community
LIMIT 20
"""


@register(
    "graph_label_propagation",
    bench=True,
    oracle=_lpa_oracle(),
    tags=("graph", "iterative", "community"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (3 rounds,
    self-vote damped, min-label tie-break) on the symmetrized customer<->
    supplier trading graph: each node adopts the most frequent label
    among its neighbors plus itself — the cheap communities-at-scale
    algorithm (near-linear per round, no objective function) used to
    carve a giant near-dup or interaction graph into workable groups.

    Determinism: the vote is (count DESC, label ASC) under row_number,
    so ties always resolve to the smallest label — both engines unroll
    the identical 3 rounds (oracle mirrors them as CTEs, kmeans-style).

    Scale shape: per round ONE shuffle join (edges x labels on src), one
    (node, label) count, one per-node max_by pick; labels never leave
    the executors and the driver sees only the plan. Bounded rounds keep
    lineage short (at more rounds, checkpoint every ~5 like PageRank
    would).

    r8 plan-shape notes: (1) the self-vote is a SELF-LOOP edge instead
    of a per-round unionByName(labels) — the union referenced labels a
    second time per round, doubling the lineage each iteration (the r7
    plan held 64 Exchange nodes for 3 rounds; self-loops make growth
    linear — same vote multiset, each node contributes its own label
    exactly once either way); (2) the vote pick is max_by over the
    lexicographic (c, -label) struct — identical (count DESC, label ASC)
    winner as the old row_number window, deterministic because (c,
    -label) is unique within a node, without the per-round
    Exchange+Sort+Window chain; (3) the self-loop edge relation is
    materialized once, partitioned by src, which co-partitions every
    round's join with labels (partitioned by node after each round's
    groupBy)."""
    prep(spark)
    edges = _trade_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    # Every round reads the checkpoint blocks, already partitioned by src
    # for the per-round join. Without it the three unrolled rounds
    # re-planned the whole scan+join+distinct subtree per round
    # (ReuseExchange only deduplicated parts of it).
    edges_sl = materialize_once(
        edges.unionByName(
            nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        ),
        "src",
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    # r9 pick aggregate: max_by over a struct key keeps a struct in the
    # aggregation buffer, which HashAggregate cannot mutate in place —
    # the pick fell to SortAggregate (a per-round sort of the whole
    # (node, label) vote relation). Packing the (c, -label) order into
    # ONE DECIMAL(38,0) — pack = c * 10^19 + (10^19-1 - label) — makes
    # the buffer a fixed-width mutable decimal, so the pick rides
    # HashAggregate. The packing is order-exact with NO runtime bound
    # check: any BIGINT label satisfies 0 <= 10^19-1-label < 10^19
    # (labels are node ids, always positive here; bigint max 9.2e18),
    # and c <= 9.2e18 keeps pack < 9.3e37 inside DECIMAL(38,0) — scale-0
    # decimal arithmetic is exact while values fit 38 digits. The
    # decoded winner is identical to max_by(label, struct(c, -label)):
    # (c, -label) is unique within a node, pack is strictly monotone in
    # that lexicographic order.
    # (a python-Decimal literal: a bare 10**19 int overflows py4j's long)
    _p = F.lit(_Decimal(10**19)).cast("decimal(20,0)")
    for _ in range(_ITERS):
        votes = edges_sl.join(labels, edges_sl.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        counted = votes.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("c")
        )
        packed = counted.select(
            "node",
            (
                F.col("c").cast("decimal(38,0)") * _p
                + (_p - F.lit(1) - F.col("label").cast("decimal(20,0)"))
            ).alias("pk"),
        )
        labels = packed.groupBy("node").agg(
            (_p - F.lit(1) - (F.max("pk") % _p)).cast("bigint").alias("label")
        )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .orderBy(F.desc("n_members"), "community")
        .limit(20)
    )


@register(
    "graph_degree_stats",
    oracle=f"""
WITH edges AS ({_O_EDGES}),
deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
edeg AS (
  SELECT ds.d AS d_src, dd.d AS d_dst
  FROM edges e JOIN deg ds ON ds.node = e.src JOIN deg dd ON dd.node = e.dst
)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_directed_edges,
       CAST((SELECT MAX(d) FROM deg) AS BIGINT) AS max_degree,
       ROUND((SELECT AVG(d) FROM deg), 6) AS avg_degree,
       ROUND((SELECT corr(d_src, d_dst) FROM edeg), 6) AS assortativity
""",
    tags=("graph", "statistics"),
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree statistics + degree assortativity of the trading graph:
    the shape screen run before choosing graph algorithms — a heavy
    right tail (max vs avg degree) says salt-the-hubs, and negative
    assortativity (hubs attach to leaves, typical for bipartite-derived
    graphs) says frontier sizes will spike early in any propagation.

    Assortativity = Pearson correlation of endpoint degrees over the
    directed edge list: degrees join back onto edges (two broadcastable
    maps at dim scale, shuffle joins beyond), one corr aggregate.
    Rounded to 1e-6."""
    prep(spark)
    edges = materialize_once(_trade_edges(spark, sf_dir))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    edeg = (
        edges.join(
            deg.select(F.col("node").alias("src"), F.col("d").alias("d_src")), "src"
        ).join(
            deg.select(F.col("node").alias("dst"), F.col("d").alias("d_dst")), "dst"
        )
    )
    stats = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.max("d").cast("bigint").alias("max_degree"),
        F.round(F.avg("d"), 6).alias("avg_degree"),
    )
    ecount = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_directed_edges"))
    # corr spelled covar/(sd*sd) under try_divide (the agg_moments_builtin
    # discipline): builtin corr's final division RAISES under ANSI on a
    # zero-variance degree sequence (every node the same degree — e.g. a
    # one-customer-one-supplier slice) where DuckDB's corr returns NULL.
    corr = edeg.agg(
        F.round(
            F.try_divide(
                F.covar_pop("d_src", "d_dst"),
                F.stddev_pop("d_src") * F.stddev_pop("d_dst"),
            ),
            6,
        ).alias("assortativity")
    )
    return (
        stats.crossJoin(F.broadcast(ecount))
        .crossJoin(F.broadcast(corr))
        .select("n_nodes", "n_directed_edges", "max_degree", "avg_degree", "assortativity")
    )


_KCORE_K = 45
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    edges = _O_EDGES
    parts = [f"e0 AS ({edges})"]
    rounds = []
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(f"""
d{r} AS (SELECT src AS node, COUNT(*) AS deg FROM e{r - 1} GROUP BY src),
keep{r} AS (SELECT node FROM d{r} WHERE deg >= {_KCORE_K}),
e{r} AS (
  SELECT e.src, e.dst FROM e{r - 1} e
  JOIN keep{r} a ON a.node = e.src
  JOIN keep{r} b ON b.node = e.dst
)""")
        rounds.append(
            f"SELECT {r} AS round, (SELECT COUNT(*) FROM keep{r}) AS n_nodes, "
            f"(SELECT COUNT(*) FROM e{r}) AS n_edges"
        )
    return (
        "WITH " + ", ".join(p.strip() for p in parts)
        + "\nSELECT CAST(round AS INT) AS round, CAST(n_nodes AS BIGINT) AS n_nodes, "
        "CAST(n_edges AS BIGINT) AS n_edges FROM (\n"
        + "\nUNION ALL ".join(rounds)
        + ")"
    )


@register(
    "graph_kcore",
    oracle=_kcore_oracle(),
    tags=("graph", "iterative", "kcore"),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=45, 3 rounds): repeatedly drop nodes whose
    degree in the CURRENT subgraph falls below k — the dense-core
    extractor that separates the structurally embedded participants
    from peripheral ones (peeling converges to the true k-core; fixed
    rounds make it cross-engine verifiable, pagerank/kmeans-style, and
    the per-round survivor counts show the convergence trajectory).

    Per round: one degree count (map-side partial) + two semi-join-
    shaped edge filters against the keep set — the keep set is
    node-cardinality, broadcastable at dim scale; lineage stays
    bounded by the fixed round count."""
    prep(spark)
    edges = materialize_once(_trade_edges(spark, sf_dir))
    out = None
    cur = edges
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = cur.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        keep = materialize_once(deg.where(F.col("deg") >= _KCORE_K).select("node"))
        cur = materialize_once(
            cur.join(keep.select(F.col("node").alias("src")), "src", "left_semi")
            .join(keep.select(F.col("node").alias("dst")), "dst", "left_semi")
        )
        row = (
            keep.agg(F.count(F.lit(1)).alias("n_nodes"))
            .crossJoin(cur.agg(F.count(F.lit(1)).alias("n_edges")))
            .select(
                F.lit(r).cast("int").alias("round"),
                F.col("n_nodes").cast("bigint").alias("n_nodes"),
                F.col("n_edges").cast("bigint").alias("n_edges"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _sssp_oracle() -> str:
    edges = f"""
SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w FROM (
  SELECT o_custkey AS src, {_SUPP_BASE} + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  UNION ALL
  SELECT {_SUPP_BASE} + l_suppkey AS src, o_custkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
) GROUP BY src, dst
"""
    prev = "d0"
    rounds = []
    for i in range(1, 4):
        rounds.append(f"""
d{i} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM {prev}
    UNION ALL
    SELECT e.dst AS node, p.dist + e.w AS dist
    FROM {prev} p JOIN edges e ON e.src = p.node
  ) GROUP BY node
)""")
        prev = f"d{i}"
    return f"""
WITH edges AS ({edges}),
d0 AS (SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
{", ".join(r.strip() for r in rounds)}
SELECT node, dist FROM {prev}
"""


@register(
    "graph_sssp_weighted",
    oracle=_sssp_oracle(),
    tags=("graph", "iterative", "shortest-path"),
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (Bellman-Ford, 3 synchronous
    relaxation rounds) from customer 1 over the symmetrized trading graph,
    edge weight = interaction count — the least-traffic-path dual of
    graph_recursive_bfs's hop count, and the min-plus template every
    routing/attribution walk reuses. Distances stay exact BIGINTs; the
    oracle unrolls the identical three rounds as CTEs.

    Shape per round: frontier ⋈ edges (shuffle on src) -> union previous
    -> min-groupBy on node — the textbook distributed Bellman-Ford step.
    The edge relation is built once, cached across rounds (the iterative-
    loop posture of graph_pagerank/components.py: cache the invariant,
    iterate on the small frontier). Fixed rounds keep both engines
    bit-identical; at 100 TB the loop runs until no distance improves,
    with each round one shuffle."""
    prep(spark)
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    pairs = orders.join(li, F.col("o_orderkey") == F.col("l_orderkey")).select(
        F.col("o_custkey").alias("cust"),
        (F.lit(_SUPP_BASE) + F.col("l_suppkey")).alias("supp"),
    )
    edges = materialize_once(
        pairs.select(F.col("cust").alias("src"), F.col("supp").alias("dst"))
        .unionAll(
            pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    dist = spark.createDataFrame([(1, 0)], "node bigint, dist bigint")
    for _ in range(3):
        relaxed = (
            dist.join(edges, dist["node"] == edges["src"])
            .select(
                F.col("dst").alias("node"),
                (dist["dist"] + F.col("w")).alias("dist"),
            )
        )
        dist = (
            dist.select("node", "dist")
            .unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return dist.select("node", "dist")


_LP_CAP = 24  # per-customer supplier cap before pair generation


@register(
    "graph_link_prediction",
    oracle=f"""
WITH raw AS (
  SELECT o_custkey AS c, l_suppkey AS s, COUNT(*) AS n_li
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
  GROUP BY 1, 2
),
e AS (
  SELECT c, s FROM (
    SELECT c, s,
           ROW_NUMBER() OVER (PARTITION BY c ORDER BY n_li DESC, s) AS r
    FROM raw
  ) WHERE r <= {_LP_CAP}
),
cdeg AS (SELECT c, COUNT(*) AS dc FROM e GROUP BY c),
sdeg AS (SELECT s, COUNT(*) AS ds FROM e GROUP BY s),
pairs AS (
  SELECT a.s AS src, b.s AS dst, a.c
  FROM e a JOIN e b ON a.c = b.c AND a.s < b.s
),
scored AS (
  SELECT p.src, p.dst,
         COUNT(*) AS cn,
         SUM(ROUND(1.0 / cd.dc, 9)) AS ra
  FROM pairs p JOIN cdeg cd ON cd.c = p.c
  GROUP BY p.src, p.dst
)
SELECT src, dst, CAST(cn AS BIGINT) AS cn,
       ROUND(ra, 6) AS ra,
       ROUND(CAST(cn AS DOUBLE) / (da.ds + db.ds - cn), 6) AS jaccard
FROM scored
JOIN sdeg da ON da.s = src
JOIN sdeg db ON db.s = dst
ORDER BY cn DESC, src, dst
LIMIT 20
""",
    tags=("graph", "link-prediction", "similarity", "bounded"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the customer-supplier bipartite graph:
    supplier-supplier affinity scored three classic ways — common
    neighbors (cn), the resource-allocation index (ra = sum over shared
    customers of 1/deg(customer); the rational cousin of Adamic-Adar,
    chosen so no per-term logarithm enters the hash), and Jaccard
    overlap of neighbor sets. Top-20 pairs by cn with id tie-breaks.

    The quadratic term is BOUNDED BY CONSTRUCTION: each customer keeps
    only its top-{_LP_CAP} suppliers (by order count, deterministic
    tie-break) before pair generation, so a hot customer emits at most
    C({_LP_CAP},2)=276 pairs — the same heavy-node cap reco_item_cosine
    codes, applied at the edge-list stage where it belongs. RA's 1/deg
    terms are rounded to 1e-9 before the order-independent sum
    (text_unigram_xent discipline).

    Scale: pair generation shuffles on the mediating customer key and
    aggregates straight to (src, dst) — partial aggregation collapses
    each partition's pairs before exchange. Degree tables are
    node-sized; at any SF the supplier-pair result is at most
    |suppliers|^2/2 rows and in practice LSH-sparse.
    """
    prep(spark)
    raw = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .where(F.col("o_custkey").isNotNull() & F.col("l_suppkey").isNotNull())
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .agg(F.count(F.lit(1)).alias("n_li"))
    )
    w = Window.partitionBy("c").orderBy(F.desc("n_li"), "s")
    e = (
        raw.select("c", "s", F.row_number().over(w).alias("r"))
        .where(F.col("r") <= _LP_CAP)
        .select("c", "s")
    )
    cdeg = e.groupBy("c").agg(F.count(F.lit(1)).alias("dc"))
    sdeg = e.groupBy("s").agg(F.count(F.lit(1)).alias("ds"))
    a = e.select(F.col("c"), F.col("s").alias("src"))
    b = e.select(F.col("c").alias("cb"), F.col("s").alias("dst"))
    pairs = a.join(b, (F.col("c") == F.col("cb")) & (F.col("src") < F.col("dst")))
    scored = (
        pairs.join(cdeg, "c")
        .groupBy("src", "dst")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(F.round(F.lit(1.0) / F.col("dc"), 9)).alias("ra"),
        )
    )
    da = sdeg.select(F.col("s").alias("src"), F.col("ds").alias("ds_a"))
    db = sdeg.select(F.col("s").alias("dst"), F.col("ds").alias("ds_b"))
    return (
        scored.join(F.broadcast(da), "src")
        .join(F.broadcast(db), "dst")
        .select(
            "src",
            "dst",
            F.col("cn").cast("bigint").alias("cn"),
            F.round("ra", 6).alias("ra"),
            F.round(
                F.col("cn").cast("double")
                / (F.col("ds_a") + F.col("ds_b") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("cn"), "src", "dst")
        .limit(20)
    )


def _ppr_oracle() -> str:
    edges = _O_EDGES
    iters = []
    prev = "r0"
    for i in range(1, _ITERS + 1):
        iters.append(f"""
r{i} AS MATERIALIZED (
  SELECT n.node,
         ROUND(CASE WHEN n.node >= {_SUPP_BASE}
                    THEN 0.15 / (SELECT COUNT(*) FROM seeds) ELSE 0 END
               + {_DAMP} * COALESCE(SUM({prev}.rank / d.outdeg), 0), 9)
           AS rank
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN {prev} ON {prev}.node = e.src
  LEFT JOIN deg d ON d.src = e.src
  GROUP BY n.node
)""")
        prev = f"r{i}"
    return f"""
WITH edges AS MATERIALIZED ({edges}),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
seeds AS MATERIALIZED (SELECT node FROM nodes WHERE node >= {_SUPP_BASE}),
deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
r0 AS MATERIALIZED (
  SELECT node,
         ROUND(CASE WHEN node >= {_SUPP_BASE}
                    THEN 1.0 / (SELECT COUNT(*) FROM seeds) ELSE 0.0 END, 9)
           AS rank
  FROM nodes
),
{", ".join(i.strip() for i in iters)}
SELECT node, rank FROM {prev}
WHERE node < {_SUPP_BASE}
ORDER BY rank DESC, node
LIMIT 20
"""


@register(
    "graph_personalized_pagerank",
    oracle=_ppr_oracle(),
    tags=("graph", "iterative", "pagerank", "personalization"),
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: the teleport mass restarts at a SEED SET
    (the supplier side of the trading graph) instead of uniformly, so
    ranks measure proximity TO the seeds — the relevance-propagation
    primitive behind recommendation candidates and fraud blast-radius
    scoring. Output: the 20 customers closest to the supplier base.

    Same loop, oracle, and 1e-9 per-iteration rounding discipline as
    graph_pagerank; the only deltas are the seed-restricted r0 and
    teleport term (nodes outside the seed set get 0, not 0.15/N).

    Scale: identical to PageRank — per-iteration shuffle on dst; seeds
    make r0 sparse, so early iterations move less data (contributions
    from zero-rank nodes vanish under the partial aggregate).
    """
    prep(spark)
    edges = materialize_once(_trade_edges(spark, sf_dir))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n_seeds = nodes.where(F.col("node") >= _SUPP_BASE).count()
    is_seed = F.col("node") >= _SUPP_BASE
    # Empty-slice guard (same rationale as graph_pagerank's init): no
    # seeds -> no rows carry the placeholder; the division must not
    # abort driver-side.
    seed_mass = 1.0 / n_seeds if n_seeds else 0.0
    # Guarded separately (NOT 0.15 * seed_mass): one division keeps the
    # float bit-identical to the oracle's literal 0.15 / n spelling.
    seed_tele = 0.15 / n_seeds if n_seeds else 0.0
    ranks = nodes.select(
        "node",
        F.round(
            F.when(is_seed, F.lit(seed_mass)).otherwise(F.lit(0.0)), 9
        ).alias("rank"),
    )
    for _ in range(_ITERS):
        contribs = (
            edges.join(deg, "src")
            .join(ranks, F.col("src") == F.col("node"))
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("contrib"))
        )
        ranks = nodes.join(contribs, nodes.node == contribs.dst, "left").select(
            "node",
            F.round(
                F.when(is_seed, F.lit(seed_tele)).otherwise(F.lit(0.0))
                + _DAMP * F.coalesce("contrib", F.lit(0.0)),
                9,
            ).alias("rank"),
        )
    return (
        ranks.where(F.col("node") < _SUPP_BASE)
        .orderBy(F.desc("rank"), "node")
        .limit(20)
    )
