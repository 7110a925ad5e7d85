"""Connected components via min-label propagation (iterative operator).

The dedup-cluster step of a training-data pipeline: near-duplicate PAIRS
(from MinHash-LSH / SimHash banding) must become GROUPS so one canonical
document survives per group. Components = transitive closure of the pair
graph; cluster id = the minimum doc id reachable.

Scale: each iteration is one shuffle join on the node key + a grouped min
— the standard Pregel-style plan. Label state is materialized once per
iteration (session.materialize_once) so lineage stays flat (without it,
iteration k replays all k-1 prior joins AND the upstream pair pipeline).
Convergence needs at most diameter(graph) iterations; near-dup graphs are
shallow (dup groups are cliques or short chains), so the loop exits after
2-3 rounds in practice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize_once


def connected_components(
    edges: DataFrame, a: str = "src", b: str = "dst", max_iter: int = 20
) -> DataFrame:
    """(a, b) edge list -> (node, cluster_id) with cluster_id = min node
    of the component. Deterministic; raises if not converged in max_iter
    (a near-dup graph that deep means the banding upstream is broken)."""
    # repartition("dst") before the checkpoint: the per-iteration join is
    # keyed on und.dst == labels.node, and labels come out of each round
    # hash-partitioned by node (groupBy/join output, preserved through the
    # checkpoint's LogicalRDD outputPartitioning) — co-partitioning both
    # sides up front removes every join Exchange from the loop body, so an
    # iteration pays exactly ONE shuffle (the groupBy("src") min). The
    # lazy materialization rides iteration 1's checkpoint job instead of
    # being a separate driver round-trip — at bench scale each job costs
    # a scheduling round-trip that rivals the actual work (measured: an
    # eager loop spent 2.1 s in 8 jobs whose total executor work was a
    # fraction of that).
    und = materialize_once(
        edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionByName(edges.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct(),
        "dst",
    )
    # Initial labels are one cheap distinct over und's cached blocks and
    # feed only iteration 1's lineage — not worth their own job either.
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(max_iter):
        nbr = (
            und.join(labels, und.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        # The convergence flag rides the SAME pass that computes the new
        # labels (improved <=> nbr_min < label <=> new label < old), and
        # the count over the LAZY checkpoint is the materializing action:
        # one job per iteration computes the round, caches the label
        # blocks, and returns the changed-count — the r7 loop paid two
        # jobs per round (eager checkpoint, then a second full join for
        # the count) plus two up-front checkpoint jobs.
        new = materialize_once(
            labels.join(nbr, labels.node == nbr.src, "left").select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias("label"),
                (F.col("nbr_min") < F.col("label")).alias("improved"),
            )
        )
        changed = new.where("improved").count()
        labels = new.select("node", "label")
        if changed == 0:
            return labels.select("node", F.col("label").alias("cluster_id"))
    raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")
