"""Iterative k-means over an embedding column — the engine's
iterative-algorithm pattern (SURVEY.md §2B notes such ops as
non-SQL-expressible; checked by convergence/determinism tests).

Shape: the PER-ITERATION work is fully distributed (assignment = argmin
over broadcast centroid literals, update = posexplode + grouped mean);
only the k x dim centroid matrix crosses the driver each iteration —
the standard Spark iterative-ML pattern (k*dim doubles, not data rows).
Deterministic: centroids initialize from caller-given ids and every
reduction is a grouped mean (no RNG, no row-order dependence beyond
float-sum order inside groups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import materialize_once
from .similarity import lit_vec


def _dist2(vec_col, centroid: list[float]):
    """Squared L2 distance from an array column to a centroid literal
    (same fold/literal builders as operators/similarity.py)."""
    diff = F.zip_with(vec_col, lit_vec(centroid), lambda a, b: a - b)
    return F.aggregate(
        F.zip_with(diff, diff, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )


def assign_clusters(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Add `cluster` (argmin centroid index) and `dist2` columns.

    Distances are rounded to 1e-6 BEFORE the argmin/tie-break (matching
    the module-wide numeric discipline and the unrolled-CTE oracle): a
    near-tie in centroid distances must not flip an assignment between
    engines on float accumulation-order drift."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dists = F.array(*[F.round(_dist2(v, c), 6) for c in centroids])
    return df.withColumn(
        "dist2", F.array_min(dists)
    ).withColumn("cluster", F.array_position(dists, F.col("dist2")).cast("int") - 1)


def kmeans(
    df: DataFrame, vec_col: str, id_col: str, k: int, iters: int, dim: int
) -> tuple[DataFrame, list[list[float]], list[float]]:
    """Lloyd's algorithm; init = vectors of the k smallest ids.

    Returns (assignments DataFrame, final centroids, per-iteration inertia).
    """
    seed_rows = (
        df.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    centroids = [[float(x) for x in r[vec_col]] for r in seed_rows]
    if not centroids:
        # Empty-slice guard: no vectors means no seeds — return the
        # empty assignment frame (schema-compatible with
        # assign_clusters) instead of building array() of zero typed
        # columns, which fails analysis (NULL_TYPE). The caller's
        # downstream plan stays valid and empty.
        empty = df.withColumn("dist2", F.lit(None).cast("double")).withColumn(
            "cluster", F.lit(None).cast("int")
        )
        return empty, [], []
    # Fewer vectors than k: Lloyd's degenerates to the clusters that
    # have seeds (k > n has no 4-cluster answer), which is also the
    # unrolled-CTE oracle's behavior — its centroid table simply holds
    # fewer rows. k shrinks to the available seed count.
    k = len(centroids)
    inertia: list[float] = []
    for _ in range(iters):
        # One materialization per iteration, shared by the inertia action
        # and the centroid-update action (otherwise the assignment plan
        # executes twice).
        assigned = materialize_once(assign_clusters(df, vec_col, centroids))
        inertia.append(assigned.agg(F.sum("dist2")).collect()[0][0])
        new_rows = (
            assigned.select("cluster", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .collect()
        )
        by_cluster: dict[int, list[float]] = {}
        for r in new_rows:
            by_cluster.setdefault(r["cluster"], [0.0] * dim)[r["pos"]] = r["m"]
        centroids = [by_cluster.get(c, centroids[c]) for c in range(k)]
    # Final assignment against the RETURNED centroids (assignments made
    # inside the loop label against the pre-update matrix).
    assigned = assign_clusters(df, vec_col, centroids)
    return assigned, centroids, inertia
