"""Embedding similarity search (SURVEY.md §2B north-star): brute-force
cosine top-k (the correctness baseline), k-NN per query batch, per-label
centroids, and random-hyperplane LSH bucketing + bucketed ANN (the scale
path: at 100 TB the corpus is bucketed once, and a query scans only its
bucket — a broadcast-filtered partition instead of the full corpus).

Numeric discipline: element-wise double casts + explicit-index dot
products on both engines; similarities rounded to 6 before any ordering
or sign test so last-ulp float drift can't flip a rank or an LSH bit.
"""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.similarity import (
    cosine,
    hyperplanes,
    lit_matrix,
    lit_vec,
    lsh_signature,
    to_double,
)
from ..session import materialize_once, prep
from . import register

DIM = 64
N_PLANES = 8
PLANES = hyperplanes(N_PLANES, DIM)

# --- shared oracle fragments (DuckDB dialect) ------------------------------

_O_DOT_Q = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))"
)
_O_NORM_E = (
    "sqrt(list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))"
)
_O_NORM_Q = (
    "sqrt(list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))"
)
_O_COS = f"ROUND(({_O_DOT_Q}) / (({_O_NORM_E}) * ({_O_NORM_Q})), 6)"

# Zero-norm domain guard (round-7 edge-corpus finding): cosine is
# undefined at norm 0, and one all-zero row in a 100 TB corpus is an
# ANSI DIVIDE_BY_ZERO job abort on the Spark side (and a NULL/inf
# divergence on the oracle side). Every cosine-dividing query reads the
# corpus through this filtered relation on BOTH engines, so the domains
# stay aligned; similarity.cosine is additionally clamped total so the
# expression itself can never throw whatever order the optimizer
# evaluates filter conjuncts in.
_O_SQN = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))"
)
# > 0 AND finite: the cosine domain is vectors with a USABLE norm — an
# all-denormal vector underflows to 0, a 1e200 vector overflows to Inf,
# and one NaN component poisons every product (extremes sweep, round 7).
_O_EMB_NZ = f"(SELECT * FROM embeddings WHERE ({_O_SQN}) > 0 AND isfinite({_O_SQN}))"


def _finite_dom() -> F.Column:
    """The predicate behind _finite, for building an expression TOTAL on
    that domain (`when(_finite_dom(), expr)`, SCALE.md "filters are not
    guards") where the row filter alone cannot protect it."""
    from ..operators.similarity import sq_norm

    n = sq_norm(to_double("embedding"))
    return F.col("embedding").isNotNull() & (n != F.lit(float("inf"))) & ~F.isnan(n)


def _finite(emb: DataFrame) -> DataFrame:
    """embeddings that are PRESENT with a finite squared norm — the
    distance-computation domain (kmeans/PQ/drift): a NaN component or an
    overflowing magnitude poisons every distance, identically nulled in
    the oracles. Zero/denormal vectors stay (distances remain finite)."""
    return emb.where(_finite_dom())


def _nz(emb: DataFrame) -> DataFrame:
    """embeddings with a USABLE norm (the cosine domain): positive and
    finite — see the _O_EMB_NZ note on denormal/overflow/NaN vectors."""
    from ..operators.similarity import sq_norm

    n = sq_norm(to_double("embedding"))
    # ~isnan is explicit: Spark's total ordering ranks NaN ABOVE every
    # value, so NaN > 0 is TRUE here (DuckDB's isfinite says false).
    return emb.where((n > 0) & (n != F.lit(float("inf"))) & ~F.isnan(n))


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """Distributed top-k finalization: orderBy().limit(k) plans a
    TakeOrderedAndProject (per-partition partial top-k merged on the
    driver — no single-partition shuffle of the full scored set), then the
    rank column is derived over only the <=k surviving rows. The window's
    constant partition key is deliberate: k rows on one partition is the
    whole job at that point, not a bottleneck, and it keeps the
    "all data to a single partition" plan shape out of the scored set."""
    top = scored.orderBy(F.desc("cos_sim"), "vec_id").limit(k)
    # vec_id % 1 == 0 for every row but is NOT foldable, so the optimizer
    # keeps the partition spec (a literal would be constant-folded away and
    # re-trigger the WindowExec single-partition warning).
    w = Window.partitionBy(F.col("vec_id") % 1).orderBy(F.desc("cos_sim"), "vec_id")
    return top.select("vec_id", "label", "cos_sim", F.row_number().over(w).alias("rn"))


def _plane_sql(p: int) -> str:
    vals = ", ".join(str(v) for v in PLANES[p])
    return f"[{vals}]"


_O_SIG = " || ".join(
    f"(CASE WHEN ROUND(list_sum(list_transform(generate_series(1, 64), "
    f"i -> CAST(embedding[i] AS DOUBLE) * ({_plane_sql(p)})[i])), 6) > 0 "
    f"THEN '1' ELSE '0' END)"
    for p in range(N_PLANES)
)


@register(
    "vec_cosine_topk",
    oracle=f"""
WITH q AS (SELECT embedding FROM {_O_EMB_NZ} WHERE vec_id = 0)
SELECT vec_id, label, cos_sim, CAST(rn AS INT) AS rn FROM (
  SELECT e.vec_id, e.label, {_O_COS} AS cos_sim,
         ROW_NUMBER() OVER (ORDER BY {_O_COS} DESC, e.vec_id) AS rn
  FROM {_O_EMB_NZ} e, q
  WHERE e.vec_id <> 0
) t WHERE rn <= 20
""",
    tags=("vectors", "similarity", "topk"),
    bench=True,
)
def vec_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-20 against the vec_id=0 query vector — one
    corpus scan, no shuffle until the final top-k. Corpus reads through
    the zero-norm filter (_nz) on both engines."""
    prep(spark)
    emb = _nz(table(spark, sf_dir, "embeddings"))
    q = F.broadcast(emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb")))
    scored = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            F.round(cosine(to_double("embedding"), to_double("q_emb")), 6).alias("cos_sim"),
        )
    )
    return _ranked_topk(scored, 20)


@register(
    "vec_knn_batch",
    oracle=f"""
WITH queries AS (SELECT vec_id AS qid, embedding FROM {_O_EMB_NZ} WHERE vec_id < 30)
SELECT qid, nn_id, nn_sim FROM (
  SELECT q.qid, e.vec_id AS nn_id, {_O_COS} AS nn_sim,
         ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY {_O_COS} DESC, e.vec_id) AS rn
  FROM {_O_EMB_NZ} e, queries q
  WHERE e.vec_id <> q.qid
) t WHERE rn = 1
""",
    tags=("vectors", "similarity", "knn"),
)
def vec_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN for a batch of 30 query vectors: broadcast the query batch
    against the corpus (queries x corpus stays linear in corpus size).
    Zero-norm rows excluded on both engines (_nz)."""
    prep(spark)
    emb = _nz(table(spark, sf_dir, "embeddings"))
    queries = F.broadcast(
        emb.where(F.col("vec_id") < 30).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
        )
    )
    scored = (
        emb.crossJoin(queries)
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nn_id"),
            F.round(cosine(to_double("embedding"), to_double("q_emb")), 6).alias("nn_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("nn_sim"), "nn_id")
    return scored.select("qid", "nn_id", "nn_sim", F.row_number().over(w).alias("rn")).where(
        F.col("rn") == 1
    ).drop("rn")


@register(
    "vec_label_centroids",
    oracle="""
SELECT label,
       COUNT(*) AS n_vecs,
       ROUND(SUM(CAST(embedding[1] AS DOUBLE)) / COUNT(*), 6) AS c1,
       ROUND(SUM(CAST(embedding[2] AS DOUBLE)) / COUNT(*), 6) AS c2,
       ROUND(SUM(CAST(embedding[3] AS DOUBLE)) / COUNT(*), 6) AS c3,
       ROUND(SUM(CAST(embedding[4] AS DOUBLE)) / COUNT(*), 6) AS c4
FROM embeddings
GROUP BY label
""",
    tags=("vectors", "agg"),
)
def vec_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (first 4 components shown): grouped mean over
    array elements — the reduce side of k-means-style iteration."""
    prep(spark)
    emb = table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        *[
            F.round(
                F.sum(F.element_at("embedding", i).cast("double")) / F.count(F.lit(1)), 6
            ).alias(f"c{i}")
            for i in (1, 2, 3, 4)
        ],
    )


@register(
    "vec_quantize_int8",
    oracle="""
WITH q AS (
  SELECT label,
         GREATEST(list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) / 127.0,
                  1e-12) AS scale,
         embedding
  FROM embeddings
),
err AS (
  SELECT label, scale,
         SQRT(list_sum(list_transform(embedding,
           x -> (CAST(x AS DOUBLE) - ROUND(CAST(x AS DOUBLE) / scale) * scale)
              * (CAST(x AS DOUBLE) - ROUND(CAST(x AS DOUBLE) / scale) * scale)))) AS l2,
         list_max(list_transform(embedding,
           x -> ABS(CAST(x AS DOUBLE) - ROUND(CAST(x AS DOUBLE) / scale) * scale))) AS mx
  FROM q
)
SELECT label, COUNT(*) AS n_vecs,
       ROUND(AVG(l2), 6) AS avg_l2_err,
       ROUND(MAX(mx), 6) AS max_abs_err,
       ROUND(AVG(scale), 6) AS avg_scale
FROM err GROUP BY label
""",
    tags=("vectors", "quantization", "compression"),
)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column
    with reconstruction-error statistics — the 4x storage/bandwidth
    compression a 100 TB vector corpus ships with (float32 -> int8 +
    one float scale per vector), and the error report that justifies it.

    Quantize: scale = max|x| / 127; q = round(x / scale) (fits int8 by
    construction); dequant error stats per label. All whole-stage-codegen
    higher-order expressions — no Python, no shuffle before the final
    per-label rollup. ROUND (half away from zero) matches both engines."""
    prep(spark)
    emb = table(spark, sf_dir, "embeddings")
    v = to_double("embedding")
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0), F.lit(1e-12)
    )
    with_scale = emb.select("label", v.alias("v"), scale.alias("scale"))
    dq_err = F.transform(
        "v", lambda x: x - F.round(x / F.col("scale")) * F.col("scale")
    )
    err = with_scale.select(
        "label",
        "scale",
        F.sqrt(
            F.aggregate(
                F.transform(dq_err, lambda e: e * e), F.lit(0.0), lambda a, x: a + x
            )
        ).alias("l2"),
        F.array_max(F.transform(dq_err, lambda e: F.abs(e))).alias("mx"),
    )
    return err.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("l2"), 6).alias("avg_l2_err"),
        F.round(F.max("mx"), 6).alias("max_abs_err"),
        F.round(F.avg("scale"), 6).alias("avg_scale"),
    )


@register(
    "vec_lsh_buckets",
    oracle=f"""
SELECT ({_O_SIG}) AS bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id
FROM embeddings
GROUP BY 1
""",
    tags=("vectors", "lsh"),
)
def vec_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing (8 deterministic md5-derived ±1
    planes -> 8-bit signature). At scale this is the partition key that
    turns ANN into a bucket-local scan."""
    prep(spark)
    emb = table(spark, sf_dir, "embeddings")
    sig = lsh_signature(to_double("embedding"), PLANES)
    return emb.groupBy(sig.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec_id")
    )


@register(
    "vec_lsh_ann",
    oracle=f"""
WITH sigs AS (SELECT vec_id, label, embedding, ({_O_SIG}) AS bucket FROM {_O_EMB_NZ}),
q AS (SELECT vec_id, embedding, bucket FROM sigs WHERE vec_id = 0)
SELECT vec_id, label, cos_sim, CAST(rn AS INT) AS rn FROM (
  SELECT e.vec_id, e.label, {_O_COS} AS cos_sim,
         ROW_NUMBER() OVER (ORDER BY {_O_COS} DESC, e.vec_id) AS rn
  FROM sigs e, q
  WHERE e.bucket = q.bucket AND e.vec_id <> q.vec_id
) t WHERE rn <= 5
""",
    tags=("vectors", "lsh", "similarity", "topk"),
)
def vec_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN: exact cosine top-5 restricted to the query's LSH
    bucket — the scale path (bucket scan, not corpus scan). Recall vs the
    brute-force baseline is asserted in tests/test_vectors.py.
    Zero-norm rows excluded on both engines (_nz)."""
    prep(spark)
    emb = _nz(table(spark, sf_dir, "embeddings"))
    sigs = emb.select(
        "vec_id", "label", "embedding", lsh_signature(to_double("embedding"), PLANES).alias("bucket")
    )
    q = F.broadcast(
        sigs.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("q_emb"), F.col("bucket").alias("q_bucket")
        )
    )
    scored = (
        sigs.crossJoin(q)
        .where((F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != 0))
        .select(
            "vec_id",
            "label",
            F.round(cosine(to_double("embedding"), to_double("q_emb")), 6).alias("cos_sim"),
        )
    )
    return _ranked_topk(scored, 5)


@register(
    "vec_cosine_neardup_pairs",
    oracle=f"""
WITH sigs AS (SELECT vec_id, embedding, ({_O_SIG}) AS bucket FROM {_O_EMB_NZ})
SELECT e.vec_id AS vec_a, q.vec_id AS vec_b,
       ROUND((list_sum(list_transform(generate_series(1, 64),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
             / (sqrt(list_sum(list_transform(generate_series(1, 64),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(generate_series(1, 64),
                       i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))), 6) AS cos_sim
FROM sigs e JOIN sigs q ON e.bucket = q.bucket AND e.vec_id < q.vec_id
WHERE (list_sum(list_transform(generate_series(1, 64),
        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
      / (sqrt(list_sum(list_transform(generate_series(1, 64),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(generate_series(1, 64),
                i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))) >= 0.3
""",
    tags=("vectors", "dedup", "lsh", "similarity"),
)
def vec_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection: LSH-bucketed candidate
    pairs verified at cosine >= 0.3 — the vector analog of MinHash text
    dedup (bucket join instead of all-pairs; same shape at 100 TB). The
    synthetic embeddings are near-orthogonal (max in-bucket cosine ~0.40),
    so 0.3 marks the top percentile of similar pairs; with a corpus that
    has true duplicates the threshold moves to ~0.95 unchanged.
    Zero-norm rows excluded on both engines (_nz)."""
    prep(spark)
    emb = _nz(table(spark, sf_dir, "embeddings"))
    # The signatures are computed once: _cap_banded repartitions `sigs`
    # on bucket and lazily localCheckpoints it, and both self-join sides
    # and the df-cap audit read those blocks, so the corpus is scanned
    # once (asserted in tests/test_plans.py through the checkpoint
    # lineage). The vec_id repartition spreads the signature work over
    # every task: one parquet file is one input split (as in text_minhash_lsh).
    base = (
        emb.where(F.col("vec_id").isNotNull())
        .select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    sigs = base.select(
        "vec_id", "embedding", lsh_signature(to_double("embedding"), PLANES).alias("bucket")
    )
    # Same auto df-cap as the text band joins (queries/text.py
    # _cap_banded): a degenerate signature bucket (near-identical or
    # zero-entropy embeddings) past the cliff would expand k(k-1)/2
    # pairs in one task; the helper's checkpoint is partitioned on
    # "bucket" — the partitioning the self-join needs anyway — and one
    # capped side suffices (pair-set proof in _cap_banded).
    from .text import _cap_banded

    ex, safe = _cap_banded(spark, sigs, "bucket")
    right = ex.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"), F.col("bucket").alias("bk")
    )
    pairs = safe.join(right, (safe.bucket == right.bk) & (safe.vec_id < right.vec_b))
    cos = cosine(to_double("embedding"), to_double("emb_b"))
    return pairs.where(cos >= 0.3).select(
        F.col("vec_id").alias("vec_a"), "vec_b", F.round(cos, 6).alias("cos_sim")
    )


# Multi-table LSH plane bank (distinct seed so tables are independent of
# the single-table PLANES above). 8 tables x 4 planes and 4 tables x 6
# planes are carved from the same 32-plane bank.
MT_PLANES = hyperplanes(32, DIM, seed="vault8-mt")

_RECALL_VARIANTS: list[tuple[str, list[list[list[float]]]]] = [
    ("single_8", [PLANES]),
    ("tables_4x6", [MT_PLANES[t * 6:(t + 1) * 6] for t in range(4)]),
    ("tables_8x4", [MT_PLANES[t * 4:(t + 1) * 4] for t in range(8)]),
]


def _o_sig_for(planes: list[list[float]]) -> str:
    def plane_lit(pl: list[float]) -> str:
        return "[" + ", ".join(str(v) for v in pl) + "]"

    return " || ".join(
        f"(CASE WHEN ROUND(list_sum(list_transform(generate_series(1, 64), "
        f"i -> CAST(embedding[i] AS DOUBLE) * ({plane_lit(pl)})[i])), 6) > 0 "
        f"THEN '1' ELSE '0' END)"
        for pl in planes
    )


def _recall_oracle_sql() -> str:
    variant_parts = []
    for method, tables in _RECALL_VARIANTS:
        buckets = "\nUNION ALL\n".join(
            f"SELECT vec_id, {t} AS tbl, ({_o_sig_for(pl)}) AS bucket "
            f"FROM {_O_EMB_NZ}"
            for t, pl in enumerate(tables)
        )
        variant_parts.append(f"""
SELECT '{method}' AS method, q.qid,
       CAST(c.n_cand AS INT) AS n_candidates,
       CAST(COALESCE(h.hits, 0) AS INT) AS n_hits,
       ROUND(COALESCE(h.hits, 0) / 10.0, 6) AS recall_at_10
FROM queries q
JOIN (
  SELECT qid, COUNT(*) AS n_cand FROM (
    SELECT DISTINCT b.vec_id, qb.vec_id AS qid
    FROM ({buckets}) b
    JOIN ({buckets}) qb ON b.tbl = qb.tbl AND b.bucket = qb.bucket
    WHERE qb.vec_id < 20 AND b.vec_id <> qb.vec_id
  ) GROUP BY qid
) c ON c.qid = q.qid
LEFT JOIN (
  SELECT e.qid, COUNT(*) AS hits FROM exact e JOIN (
    SELECT qid, nn_id FROM (
      SELECT cand.qid, cand.vec_id AS nn_id,
             ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY {_O_COS} DESC, e.vec_id) AS rn
      FROM (
        SELECT DISTINCT b.vec_id, qb.vec_id AS qid
        FROM ({buckets}) b
        JOIN ({buckets}) qb ON b.tbl = qb.tbl AND b.bucket = qb.bucket
        WHERE qb.vec_id < 20 AND b.vec_id <> qb.vec_id
      ) cand
      JOIN {_O_EMB_NZ} e ON e.vec_id = cand.vec_id
      JOIN queries q ON q.qid = cand.qid
    ) t WHERE rn <= 10
  ) l ON e.qid = l.qid AND e.nn_id = l.nn_id
  GROUP BY e.qid
) h ON h.qid = q.qid""")
    union = "\nUNION ALL\n".join(variant_parts)
    return f"""
WITH queries AS (SELECT vec_id AS qid, embedding FROM {_O_EMB_NZ} WHERE vec_id < 20),
exact AS (
  SELECT qid, nn_id FROM (
    SELECT q.qid, e.vec_id AS nn_id,
           ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY {_O_COS} DESC, e.vec_id) AS rn
    FROM {_O_EMB_NZ} e, queries q WHERE e.vec_id <> q.qid
  ) t WHERE rn <= 10
)
{union}
"""


@register(
    "vec_ann_recall",
    oracle=_recall_oracle_sql(),
    tags=("vectors", "lsh", "recall", "quality"),
)
def vec_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of LSH-bucketed ANN vs brute-force ground truth, across
    three index configurations — the quality probe a production ANN
    deployment runs continuously (approximate indexes decay silently as
    the corpus drifts) and the tradeoff curve it tunes on:

    - single_8: one 8-plane table — tiny candidate sets, and on this
      near-orthogonal corpus recall@10 collapses (~0.02). The probe
      exposing exactly that failure is its job.
    - tables_4x6 / tables_8x4: classic multi-table LSH — L independent
      tables, candidates = union of same-bucket sets. Fewer planes per
      table = denser buckets = more candidates = higher recall; the
      output reports n_candidates next to recall so the cost of the
      recall is visible.

    Scale: ground truth runs on a SAMPLED query set (20 queries
    broadcast against one linear corpus scan), never all-pairs; the ANN
    side is per-table bucket equi-joins (explode table signatures, join
    on (table, bucket)) — at 100 TB the signatures are precomputed
    columns and each probe touches L buckets. Both top-10 sets rank on
    cosine rounded to 1e-6 with a vec_id tie-break, so recall is
    deterministic on both engines. Zero-norm rows excluded on both
    engines (_nz)."""
    prep(spark)
    emb = _nz(table(spark, sf_dir, "embeddings"))
    queries = F.broadcast(
        emb.where(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
        )
    )
    cos = F.round(cosine(to_double("embedding"), to_double("q_emb")), 6)
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), "vec_id")
    exact = (
        emb.crossJoin(queries)
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("qid", F.col("vec_id").alias("nn_id"))
    )

    out = None
    for method, tables in _RECALL_VARIANTS:
        sig_arr = F.array(
            *[lsh_signature(to_double("embedding"), pl) for pl in tables]
        )
        b = emb.select("vec_id", F.posexplode(sig_arr).alias("tbl", "bucket"))
        qb = F.broadcast(
            b.where(F.col("vec_id") < 20).select(
                F.col("vec_id").alias("qid"),
                F.col("tbl").alias("qt"),
                F.col("bucket").alias("qbk"),
            )
        )
        cand = (
            b.join(qb, (b.tbl == qb.qt) & (b.bucket == qb.qbk) & (b.vec_id != qb.qid))
            .select("qid", "vec_id")
            .distinct()
        )
        n_cand = cand.groupBy("qid").agg(F.count(F.lit(1)).alias("n_candidates"))
        lshtop = (
            cand.join(emb, "vec_id")
            .join(queries, "qid")
            .select("qid", "vec_id", cos.alias("cos_sim"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 10)
            .select("qid", F.col("vec_id").alias("nn_id"))
        )
        hits = exact.join(lshtop, ["qid", "nn_id"]).groupBy("qid").agg(
            F.count(F.lit(1)).alias("hits")
        )
        part = (
            n_cand.join(hits, "qid", "left")
            .select(
                F.lit(method).alias("method"),
                "qid",
                F.col("n_candidates").cast("int"),
                F.coalesce("hits", F.lit(0)).cast("int").alias("n_hits"),
                F.round(F.coalesce("hits", F.lit(0)) / 10.0, 6).alias("recall_at_10"),
            )
        )
        out = part if out is None else out.unionByName(part)
    return out


# IVF coarse-centroid cache, keyed by corpus dir (see vec_ivf_topk).
# Bounded FIFO (see _memo_put): 10 centroids x 64 dims per corpus today,
# but at thousands of IVF lists an unbounded memo becomes a driver leak —
# and past that size the index belongs in a broadcast-join table, not a
# driver dict (posture noted in vec_ivf_topk's docstring).
_IVF_INDEX: dict[tuple, dict[int, list[float]]] = {}
# The demo's fixed query vector (vec_id 0), cached with the index: its
# `.first()` is a real (if tiny) Spark job, and leaving it in the plan-
# build path made "compile" time carry a per-build job dispatch (~0.4 s,
# the slowest compile in BENCH_r03) that belongs to index prep.
_IVF_QVEC: dict[tuple, list[float]] = {}

_MEMO_CAP = 8  # corpora cached at once; eldest evicted first


def _memo_put(memo: dict, key, value) -> None:
    """Insert into a module-level memo with FIFO eviction at _MEMO_CAP
    entries (dict preserves insertion order), so repeated runs across
    many sf_dirs can never grow driver memory without bound."""
    while len(memo) >= _MEMO_CAP:
        memo.pop(next(iter(memo)))
    memo[key] = value

_O_CENT = f"""
lbl AS (SELECT * FROM {_O_EMB_NZ} WHERE label IS NOT NULL),
elems AS (
  SELECT label, pos, ROUND(SUM(CAST(embedding[pos] AS DOUBLE)) / COUNT(*), 6) AS cv
  FROM lbl, generate_series(1, 64) AS g(pos)
  GROUP BY label, pos
),
cent AS (
  SELECT label AS c_label, list(cv ORDER BY pos) AS c FROM elems GROUP BY label
),
q AS (SELECT embedding FROM lbl WHERE vec_id = 0),
probe AS (
  SELECT c_label FROM (
    SELECT c_label,
           ROW_NUMBER() OVER (ORDER BY ROUND(list_sum(list_transform(generate_series(1, 64),
             i -> (c[i] - CAST(q.embedding[i] AS DOUBLE)) * (c[i] - CAST(q.embedding[i] AS DOUBLE)))), 6), c_label) AS rn
    FROM cent, q
  ) t WHERE rn <= 3
),
assigned AS (
  SELECT vec_id, label, embedding, c_label FROM (
    SELECT e.vec_id, e.label, e.embedding, cent.c_label,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ROUND(list_sum(list_transform(generate_series(1, 64),
             i -> (cent.c[i] - CAST(e.embedding[i] AS DOUBLE)) * (cent.c[i] - CAST(e.embedding[i] AS DOUBLE)))), 6), cent.c_label) AS rn
    FROM lbl e, cent
  ) t WHERE rn = 1
)
"""


@register(
    "vec_ivf_topk",
    oracle=f"""
WITH {_O_CENT}
SELECT vec_id, label, cos_sim, CAST(rn AS INT) AS rn FROM (
  SELECT e.vec_id, e.label, {_O_COS} AS cos_sim,
         ROW_NUMBER() OVER (ORDER BY {_O_COS} DESC, e.vec_id) AS rn
  FROM assigned e JOIN probe ON e.c_label = probe.c_label, q
  WHERE e.vec_id <> 0
) t WHERE rn <= 10
""",
    tags=("vectors", "similarity", "topk", "ivf"),
    bench=True,
)
def vec_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate NN: a coarse quantizer (per-label mean vectors
    = 10 centroids) partitions the corpus into inverted lists; a query
    probes only its 3 nearest lists and runs exact cosine top-10 inside
    them.

    Scale: the centroid table is tiny and driver-resident (literals in the
    plan — the IVF "index" is metadata, not data); assignment + list filter
    + scoring is ONE corpus projection with no join and no shuffle until
    the final top-k. At 100 TB the corpus would be written partitioned by
    list id so probing 3/10 lists becomes partition pruning at the scan —
    the same plan shape, 70% of the I/O skipped.
    Zero-norm rows excluded on both engines (_nz) — from the centroid
    means as well as the scored lists, so the index and the scan see the
    same corpus.
    """
    prep(spark)
    # labeled-vector domain: the label IS the inverted-list id — an
    # unlabeled vector is not in the index (and a NULL label would
    # crash the driver-side sorted(centroids) probe pick).
    emb = _nz(table(spark, sf_dir, "embeddings")).where(
        F.col("label").isNotNull()
    )

    # Coarse centroids: element-wise mean per label (exactly the oracle's
    # `elems` CTE: double sum / count, rounded to 6). 64 column-sums in ONE
    # aggregate pass — no explode, and only 10x65 partials cross the
    # exchange (the posexplode formulation shuffles 64 rows per vector).
    # The centroid table IS the IVF index: built once per corpus and cached
    # (any ANN system amortizes index build across queries); keyed by the
    # SOURCE FINGERPRINT, not the path alone — /root/testdata reseeds each
    # round, and a long-lived process must rebuild, never serve centroids
    # of a corpus that no longer exists (same staleness class as the
    # formats._cached_pernation fix).
    from .formats import _src_fingerprint

    ivf_key = (sf_dir, _src_fingerprint(os.path.join(sf_dir, "embeddings.parquet")))
    centroids = _IVF_INDEX.get(ivf_key)
    if centroids is None:
        emb_d = emb.select("label", to_double("embedding").alias("e"))
        cent_rows = emb_d.groupBy("label").agg(
            *[
                F.round(F.sum(F.element_at("e", i + 1)) / F.count(F.lit(1)), 6).alias(f"c{i}")
                for i in range(DIM)
            ]
        ).collect()
        centroids = {r["label"]: [float(r[f"c{i}"]) for i in range(DIM)] for r in cent_rows}
        _memo_put(_IVF_INDEX, ivf_key, centroids)
    q_vec = _IVF_QVEC.get(ivf_key)
    if q_vec is None:
        q_row = emb.where(F.col("vec_id") == 0).select("embedding").first()
        if q_row is None or not centroids:
            # Empty-slice guard (round-7 empty-corpus sweep): no corpus
            # means no index and no query vector — an empty result, not
            # a driver-side NoneType crash killing the whole DAG.
            return spark.createDataFrame(
                [], "vec_id bigint, label int, cos_sim double, rn int"
            )
        q_vec = [float(x) for x in q_row["embedding"]]
        _memo_put(_IVF_QVEC, ivf_key, q_vec)

    # Probe set: 3 nearest centroids to the query (python mirrors the
    # oracle's sequential list_sum fold; rounded to 6 before ranking).
    def d2(c: list[float]) -> float:
        acc = 0.0
        for ci, qi in zip(c, q_vec):
            acc += (ci - qi) * (ci - qi)
        return round(acc, 6)

    probe = {lbl for _, lbl in sorted((d2(c), lbl) for lbl, c in centroids.items())[:3]}

    # One corpus pass: assign each vector to its nearest list (argmin over
    # 10 literal centroids, tie -> lowest label), keep probed lists, score.
    # The whole assignment expression is built as ONE parsed SQL string:
    # the same logic composed from F.transform/F.aggregate/F.zip_with
    # lambdas cost ~850 py4j round trips (~0.4 s of "compile", the
    # slowest in BENCH_r03 — each Column op is a driver<->JVM socket
    # round trip); one expr() is a single parse. Plan and semantics are
    # identical (SQL HOF lambdas, 0-based transform index, array_sort's
    # (d, lbl) struct ordering = lowest-distance-then-lowest-label).
    labels = sorted(centroids)
    cent_s = (
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(v)) + "D" for v in centroids[lbl]) + ")"
            for lbl in labels
        )
        + ")"
    )
    lbl_s = "array(" + ",".join(str(int(lbl)) for lbl in labels) + ")"
    assign_expr = f"""
        array_sort(transform({cent_s}, (c, i) -> struct(
          round(aggregate(zip_with(transform(embedding, x -> cast(x as double)),
                                   c, (a, b) -> (a - b) * (a - b)),
                          0.0D, (acc, x) -> acc + x), 6) AS d,
          element_at({lbl_s}, i + 1) AS lbl)))[0].lbl
    """
    assigned = emb.select(
        "vec_id", "label", "embedding", F.expr(assign_expr).alias("list_id")
    )
    q = F.broadcast(
        emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    )
    scored = (
        assigned.where(F.col("list_id").isin(*probe) & (F.col("vec_id") != 0))
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            F.round(cosine(to_double("embedding"), to_double("q_emb")), 6).alias("cos_sim"),
        )
    )
    return _ranked_topk(scored, 10)


def _kmeans_oracle_sql(k: int, iters: int, dim: int) -> str:
    """Lloyd's algorithm with a FIXED iteration count is straight-line
    relational algebra: unroll the loop into a CTE chain (assign =
    per-(vector, centroid) squared-distance group-sum + argmin via
    row_number ordered (dist2, cluster) — the same lowest-index tie-break
    as array_position, with dist2 rounded to 1e-6 on BOTH engines before
    the argmin so accumulation-order drift can't flip a near-tie
    assignment; update = per-(cluster, pos) mean with COALESCE
    keeping an empty cluster's old centroid, mirroring
    operators/kmeans.py). This graduates the "iterative" row from
    rows-only to a full hash-checked oracle — measured hash-exact at
    sf0.001 and sf0.01 (mean_dist2 rounded to 1e-6 absorbs float
    accumulation-order drift)."""
    parts = [
        f"""WITH v AS (
  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, range(1, {dim + 1}) t(i)
  WHERE embedding IS NOT NULL AND isfinite(list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
),
seeds AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster
  FROM (SELECT vec_id FROM embeddings
        WHERE embedding IS NOT NULL AND isfinite(list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
        ORDER BY vec_id LIMIT {k})
),
c0 AS (SELECT s.cluster, v.pos, v.val FROM seeds s JOIN v USING (vec_id))"""
    ]
    assign = """{name} AS (
  SELECT vec_id, cluster, dist2,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS rn
  FROM (
    SELECT v.vec_id, c.cluster,
           ROUND(SUM((v.val - c.val) * (v.val - c.val)), 6) AS dist2
    FROM v JOIN {cent} c USING (pos)
    GROUP BY v.vec_id, c.cluster
  )
)"""
    for it in range(1, iters + 1):
        parts.append(assign.format(name=f"a{it}", cent=f"c{it - 1}"))
        parts.append(
            f"""c{it} AS (
  SELECT p.cluster, p.pos, COALESCE(u.m, p.val) AS val
  FROM c{it - 1} p LEFT JOIN (
    SELECT a.cluster, v.pos, AVG(v.val) AS m
    FROM a{it} a JOIN v USING (vec_id)
    WHERE a.rn = 1
    GROUP BY a.cluster, v.pos
  ) u ON u.cluster = p.cluster AND u.pos = p.pos
)"""
        )
    parts.append(assign.format(name="fin", cent=f"c{iters}"))
    return (
        ",\n".join(parts)
        + """
SELECT CAST(cluster AS INTEGER) AS cluster,
       COUNT(*) AS n_vecs,
       ROUND(AVG(dist2), 6) AS mean_dist2
FROM fin WHERE rn = 1 GROUP BY cluster"""
    )


@register(
    "vec_kmeans_clusters",
    oracle=_kmeans_oracle_sql(k=4, iters=3, dim=DIM),
    tags=("vectors", "iterative", "kmeans"),
)
def vec_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means (k=4, 3 Lloyd iterations, deterministic init from the 4
    smallest vec_ids) over the embedding corpus; returns per-cluster size
    and mean squared distance (operators/kmeans.py). The oracle unrolls
    the same fixed-iteration Lloyd's into a CTE chain (_kmeans_oracle_sql)
    so even the iterative row is value-checked, not rows-only."""
    from ..operators.kmeans import kmeans

    prep(spark)
    emb = _finite(table(spark, sf_dir, "embeddings"))
    assigned, _, _ = kmeans(emb, "embedding", "vec_id", k=4, iters=3, dim=DIM)
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("dist2"), 6).alias("mean_dist2"),
    )


_O_DQ_DOT = (
    "ROUND(list_sum(list_transform(generate_series(1, 64), "
    "i -> ROUND(CAST(e.embedding[i] AS DOUBLE) / e.scale) * e.scale "
    "   * CAST(q.embedding[i] AS DOUBLE))), 6)"
)


@register(
    "vec_quantized_rerank",
    oracle=f"""
WITH q AS (SELECT embedding FROM {_O_EMB_NZ} WHERE vec_id = 0),
c AS (
  SELECT vec_id, label, embedding,
         GREATEST(list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) / 127.0,
                  1e-12) AS scale
  FROM {_O_EMB_NZ} WHERE vec_id <> 0
),
coarse AS (
  SELECT e.vec_id, e.label, e.embedding, {_O_DQ_DOT} AS coarse_sim
  FROM c e, q
),
cand AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY coarse_sim DESC, vec_id) AS crk
  FROM coarse
),
exact AS (
  SELECT e.vec_id, e.label, e.coarse_sim, {_O_COS} AS cos_sim
  FROM (SELECT * FROM cand WHERE crk <= 50) e, q
)
SELECT vec_id, label, coarse_sim, cos_sim, CAST(rn AS INT) AS rn FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS rn FROM exact
) t WHERE rn <= 10
""",
    tags=("vectors", "quantization", "similarity", "topk"),
)
def vec_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: int8-dequantized dot-product candidate generation
    (top-50) followed by exact-cosine re-ranking (top-10) — the
    standard quantized-index + rerank architecture of a 100 TB vector
    store (the coarse pass reads 4x-compressed vectors and a cheaper
    score; only the candidate set ever touches full-precision floats).

    Shape: one corpus scan computes the coarse score entirely in
    whole-stage codegen (per-vector scale + dequantized dot against the
    broadcast query); TakeOrderedAndProject keeps the candidate cut at
    50 rows, and the exact cosine runs on those survivors only. Both
    stages round to 1e-6 before ranking with vec_id tie-breaks, so the
    candidate CUT itself is deterministic cross-engine (a coarse tie at
    the boundary resolves identically in both engines). Zero-norm rows
    excluded on both engines (_nz)."""
    prep(spark)
    emb = _nz(table(spark, sf_dir, "embeddings"))
    q = F.broadcast(
        emb.where(F.col("vec_id") == 0).select(
            to_double("embedding").alias("q_emb")
        )
    )
    v = to_double("embedding")
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0),
        F.lit(1e-12),
    )
    base = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(q)
        .select("vec_id", "label", v.alias("v"), "q_emb", scale.alias("scale"))
    )
    dq = F.transform(
        "v", lambda x: F.round(x / F.col("scale")) * F.col("scale")
    )
    coarse_sim = F.round(
        F.aggregate(
            F.zip_with(dq, F.col("q_emb"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    cand = (
        base.select("vec_id", "label", "v", "q_emb", coarse_sim.alias("coarse_sim"))
        .orderBy(F.desc("coarse_sim"), "vec_id")
        .limit(50)
    )
    exact = cand.select(
        "vec_id",
        "label",
        "coarse_sim",
        F.round(cosine(F.col("v"), F.col("q_emb")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy(F.col("vec_id") % 1).orderBy(F.desc("cos_sim"), "vec_id")
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("vec_id", "label", "coarse_sim", "cos_sim", "rn")
    )


# --- product quantization --------------------------------------------------

_PQ_M = 4        # subspaces
_PQ_SUB = 16     # dims per subspace (DIM / _PQ_M)
_PQ_K = 8        # codewords per subspace (sampled codebook: vec_id < 8)
_PQ_NQ = 5       # query vectors (vec_id < 5)
_PQ_CAND = 20    # ADC candidates per query
_PQ_TOPK = 5     # reranked output per query


def _pq_subdist(a: str, b: str, s: str) -> str:
    """DuckDB: squared L2 between 16-dim subspace s of lists a and b."""
    return (
        f"ROUND(list_sum(list_transform(generate_series(1, {_PQ_SUB}), "
        f"i -> (CAST({a}[{s} * {_PQ_SUB} + i] AS DOUBLE) - "
        f"CAST({b}[{s} * {_PQ_SUB} + i] AS DOUBLE)) * "
        f"(CAST({a}[{s} * {_PQ_SUB} + i] AS DOUBLE) - "
        f"CAST({b}[{s} * {_PQ_SUB} + i] AS DOUBLE)))), 6)"
    )


_PQ_FULLDIST = (
    "ROUND(list_sum(list_transform(generate_series(1, 64), "
    "i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(q.embedding[i] AS DOUBLE)) * "
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(q.embedding[i] AS DOUBLE)))), 6)"
)


@register(
    "vec_pq_ann",
    oracle=f"""
WITH subs AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s),
codebook AS (
  SELECT c.vec_id AS code, subs.s, c.embedding
  FROM embeddings c, subs
  WHERE c.vec_id < {_PQ_K} AND c.embedding IS NOT NULL
    AND isfinite(list_sum(list_transform(generate_series(1, 64), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))
),
enc AS (
  SELECT vec_id, s, code FROM (
    SELECT e.vec_id, cb.s, cb.code,
           row_number() OVER (
             PARTITION BY e.vec_id, cb.s
             ORDER BY {_pq_subdist("e.embedding", "cb.embedding", "cb.s")}, cb.code
           ) AS rn
    FROM (SELECT * FROM embeddings
          WHERE embedding IS NOT NULL AND isfinite(list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))) e, codebook cb
  ) WHERE rn = 1
),
queries AS (SELECT vec_id AS qid, embedding FROM embeddings
            WHERE vec_id < {_PQ_NQ} AND embedding IS NOT NULL
              AND isfinite(list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))),
adc AS (
  SELECT q.qid, cb.s, cb.code,
         {_pq_subdist("q.embedding", "cb.embedding", "cb.s")} AS d
  FROM queries q, codebook cb
),
approx AS (
  SELECT a.qid, en.vec_id, ROUND(SUM(a.d), 6) AS approx_dist2
  FROM enc en JOIN adc a ON a.s = en.s AND a.code = en.code
  WHERE en.vec_id <> a.qid
  GROUP BY a.qid, en.vec_id
),
cand AS (
  SELECT qid, vec_id, approx_dist2 FROM (
    SELECT qid, vec_id, approx_dist2,
           row_number() OVER (PARTITION BY qid ORDER BY approx_dist2, vec_id) AS rn
    FROM approx
  ) WHERE rn <= {_PQ_CAND}
)
SELECT qid, CAST(rn AS INT) AS rn, vec_id, approx_dist2, exact_dist2 FROM (
  SELECT c.qid, c.vec_id, c.approx_dist2, {_PQ_FULLDIST} AS exact_dist2,
         row_number() OVER (
           PARTITION BY c.qid ORDER BY {_PQ_FULLDIST}, c.vec_id
         ) AS rn
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN queries q ON q.qid = c.qid
) WHERE rn <= {_PQ_TOPK}
""",
    tags=("vectors", "ann", "quantization", "pq"),
)
def vec_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 64-dim vectors split into 4 x 16-dim
    subspaces, each encoded as its nearest of 8 sampled codewords
    (deterministic codebook = the first 8 vectors' sub-vectors; a
    trained variant would run operators/kmeans.py per subspace — the
    mechanics downstream are identical), queries scored by asymmetric
    distance computation (per-subspace lookup tables, summed), top-20
    ADC candidates reranked by exact distance. This is the memory-bound
    posture of billion-vector search: the corpus compresses 64 floats ->
    4 bytes (64x) and the scan touches codes, not vectors; only the
    rerank reads the full candidates.

    Scale shape: the codebook (M x K sub-vectors) and the per-query ADC
    tables (M x K distances per query) are broadcast; encoding is one
    corpus pass x M x K with a per-(vector, subspace) argmin window;
    scoring joins 4 codes per vector against the lookup table and
    reduces per (query, vector) — no full-vector math anywhere in the
    candidate path. All distances round to 1e-6 before any argmin/rank
    (module discipline), with code/vec_id tie-breaks."""
    prep(spark)
    emb = _finite(table(spark, sf_dir, "embeddings"))

    def subvec(col: str, s) -> "F.Column":
        return F.slice(to_double(col), s * _PQ_SUB + 1, _PQ_SUB)

    def dist2(a, b) -> "F.Column":
        return F.round(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        )

    subs = F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("s")
    codebook = (
        emb.where(F.col("vec_id") < _PQ_K)
        .select(F.col("vec_id").alias("code"), "embedding", subs)
        .select("code", "s", subvec("embedding", F.col("s")).alias("cb_sub"))
    )
    enc_scored = (
        emb.select("vec_id", "embedding", subs)
        .select("vec_id", "s", subvec("embedding", F.col("s")).alias("v_sub"))
        .join(F.broadcast(codebook), "s")
        .select("vec_id", "s", "code", dist2(F.col("v_sub"), F.col("cb_sub")).alias("d"))
    )
    pick = Window.partitionBy("vec_id", "s").orderBy("d", "code")
    enc = (
        enc_scored.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select("vec_id", "s", "code")
    )
    queries = emb.where(F.col("vec_id") < _PQ_NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    adc = (
        queries.select("qid", "q_emb", subs)
        .select("qid", "s", subvec("q_emb", F.col("s")).alias("q_sub"))
        .join(F.broadcast(codebook), "s")
        .select("qid", "s", "code", dist2(F.col("q_sub"), F.col("cb_sub")).alias("d"))
    )
    approx = (
        enc.join(F.broadcast(adc), ["s", "code"])
        .where(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.round(F.sum("d"), 6).alias("approx_dist2"))
    )
    cand_w = Window.partitionBy("qid").orderBy("approx_dist2", "vec_id")
    cand = (
        approx.withColumn("rn", F.row_number().over(cand_w))
        .where(F.col("rn") <= _PQ_CAND)
        .drop("rn")
    )
    rerank = (
        cand.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(queries), "qid")
        .select(
            "qid",
            "vec_id",
            "approx_dist2",
            dist2(to_double("embedding"), to_double("q_emb")).alias("exact_dist2"),
        )
    )
    out_w = Window.partitionBy("qid").orderBy("exact_dist2", "vec_id")
    return (
        rerank.withColumn("rn", F.row_number().over(out_w))
        .where(F.col("rn") <= _PQ_TOPK)
        .select("qid", F.col("rn").cast("int").alias("rn"), "vec_id", "approx_dist2", "exact_dist2")
    )


# --- maximal marginal relevance --------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_CAND = 20
_MMR_K = 5

_O_SIM_AB = (
    "ROUND(list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))"
    ", 6)"
)


def _mmr_oracle() -> str:
    lam = _MMR_LAMBDA
    rounds = []
    prev_sel = "sel1"
    for r in range(2, _MMR_K + 1):
        rounds.append(f"""
sc{r} AS (
  SELECT c.vec_id, c.rel,
         ROUND({lam} * c.rel - {1 - lam:.1f} * (
           SELECT MAX(s.sim) FROM sims s
           WHERE s.a = c.vec_id AND s.b IN (SELECT vec_id FROM {prev_sel})
         ), 6) AS mmr
  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev_sel})
),
p{r} AS (
  SELECT vec_id, rel, mmr, {r} AS rnk FROM (
    SELECT vec_id, rel, mmr,
           row_number() OVER (ORDER BY mmr DESC, vec_id) AS rn
    FROM sc{r}
  ) WHERE rn = 1
),
sel{r} AS (SELECT vec_id FROM {prev_sel} UNION ALL SELECT vec_id FROM p{r})""")
        prev_sel = f"sel{r}"
    union = "\nUNION ALL\n".join(
        f"SELECT rnk, vec_id, rel, mmr FROM p{r}" for r in range(1, _MMR_K + 1)
    )
    return f"""
WITH q AS (SELECT embedding FROM {_O_EMB_NZ} WHERE vec_id = 0),
cand AS (
  SELECT vec_id, rel FROM (
    SELECT e.vec_id, {_O_COS} AS rel,
           row_number() OVER (ORDER BY {_O_COS} DESC, e.vec_id) AS rn
    FROM {_O_EMB_NZ} e, q WHERE e.vec_id <> 0
  ) WHERE rn <= {_MMR_CAND}
),
sims AS (
  SELECT a.vec_id AS a, b.vec_id AS b, {_O_SIM_AB} AS sim
  FROM (SELECT c.vec_id, e.embedding FROM cand c JOIN embeddings e USING (vec_id)) a,
       (SELECT c.vec_id, e.embedding FROM cand c JOIN embeddings e USING (vec_id)) b
  WHERE a.vec_id <> b.vec_id
),
p1 AS (
  SELECT vec_id, rel, ROUND(rel, 6) AS mmr, 1 AS rnk FROM (
    SELECT vec_id, rel, row_number() OVER (ORDER BY rel DESC, vec_id) AS rn
    FROM cand
  ) WHERE rn = 1
),
sel1 AS (SELECT vec_id FROM p1),
{", ".join(r.strip() for r in rounds)}
SELECT CAST(rnk AS INT) AS rnk, vec_id, rel, mmr FROM ({union})
"""


@register(
    "vec_mmr_rerank",
    oracle=_mmr_oracle(),
    tags=("vectors", "similarity", "mmr", "diversity"),
)
def vec_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance rerank: from the top-20 cosine
    candidates for the vec_id=0 query, greedily select 5 maximizing
    lambda*relevance - (1-lambda)*max-similarity-to-already-selected
    (lambda=0.7) — the standard diversity rerank a retrieval pipeline
    applies so near-duplicate passages don't crowd the context window.

    MMR is inherently sequential (each pick changes the next score), so
    the loop unrolls a FIXED k=5 rounds of pure DataFrame lineage —
    kmeans/PageRank-style: the driver builds plans, never sees data.
    The expensive distributed stage is the candidate top-20 (one corpus
    scan + TakeOrderedAndProject); the greedy rounds then operate on a
    bounded 20-row set and its 20x20 pairwise-sim matrix, so the
    unrolled tail costs O(k * cand^2) on trivially small data however
    big the corpus. All scores round to 1e-6 before every argmax
    (vec_id tie-break), mirrored exactly by the oracle's CTE unroll.
    Zero-norm rows excluded on both engines (_nz)."""
    prep(spark)
    emb = _nz(table(spark, sf_dir, "embeddings"))
    q = F.broadcast(
        emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    )
    # The candidate top-20 and its pairwise sims are read by every
    # unrolled MMR round.
    cand = materialize_once(
        emb.where(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            "embedding",
            F.round(cosine(to_double("embedding"), to_double("q_emb")), 6).alias(
                "rel"
            ),
        )
        .orderBy(F.desc("rel"), "vec_id")
        .limit(_MMR_CAND)
    )
    a = cand.select(F.col("vec_id").alias("a"), F.col("embedding").alias("e_a"))
    b = cand.select(F.col("vec_id").alias("b"), F.col("embedding").alias("e_b"))
    sims = materialize_once(
        a.crossJoin(b)
        .where(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            F.round(cosine(to_double("e_a"), to_double("e_b")), 6).alias("sim"),
        )
    )
    picked = (
        cand.orderBy(F.desc("rel"), "vec_id")
        .limit(1)
        .select(
            F.lit(1).alias("rnk"), "vec_id", "rel", F.round("rel", 6).alias("mmr")
        )
    )
    out = picked
    for r in range(2, _MMR_K + 1):
        sel = out.select("vec_id")
        maxsim = (
            sims.join(sel, sims.b == sel.vec_id)
            .groupBy("a")
            .agg(F.max("sim").alias("max_sim"))
        )
        scored = (
            cand.join(sel, "vec_id", "left_anti")
            .join(maxsim, cand.vec_id == maxsim.a)
            .select(
                "vec_id",
                "rel",
                F.round(
                    _MMR_LAMBDA * F.col("rel")
                    - (1 - _MMR_LAMBDA) * F.col("max_sim"),
                    6,
                ).alias("mmr"),
            )
        )
        pick = (
            scored.orderBy(F.desc("mmr"), "vec_id")
            .limit(1)
            .select(F.lit(r).alias("rnk"), "vec_id", "rel", "mmr")
        )
        out = out.unionByName(pick)
    return out.select(F.col("rnk").cast("int").alias("rnk"), "vec_id", "rel", "mmr")


# --- semantic dedup (SemDeDup shape) ---------------------------------------

_SEMDEDUP_TAU = 0.98
_SEMDEDUP_SHIFT = 5000

_O_SIM_AB_D = (
    "ROUND(list_sum(list_transform(generate_series(1, 64), "
    "i -> a.embedding[i] * b.embedding[i])) "
    "/ (sqrt(list_sum(list_transform(generate_series(1, 64), "
    "i -> a.embedding[i] * a.embedding[i]))) "
    "* sqrt(list_sum(list_transform(generate_series(1, 64), "
    "i -> b.embedding[i] * b.embedding[i])))), 6)"
)


@register(
    "vec_semdedup",
    oracle=f"""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM {_O_EMB_NZ}
  UNION ALL
  SELECT vec_id + {_SEMDEDUP_SHIFT} AS vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.1) AS embedding
  FROM {_O_EMB_NZ} WHERE vec_id % 9 = 0
),
sigs AS (SELECT vec_id, embedding, ({_O_SIG}) AS bucket FROM corpus),
pairs AS (
  SELECT a.bucket, a.vec_id AS keep_id, b.vec_id AS prune_id,
         {_O_SIM_AB_D} AS sim
  FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE {_O_SIM_AB_D} >= {_SEMDEDUP_TAU}
),
pruned AS (SELECT bucket, COUNT(DISTINCT prune_id) AS n_pruned,
                  COUNT(*) AS n_dup_pairs, MIN(keep_id) AS sample_keeper
           FROM pairs GROUP BY bucket),
bsz AS (SELECT bucket, COUNT(*) AS n_vecs FROM sigs GROUP BY bucket)
SELECT b.bucket, CAST(b.n_vecs AS BIGINT) AS n_vecs,
       CAST(COALESCE(p.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
       CAST(COALESCE(p.n_pruned, 0) AS BIGINT) AS n_pruned,
       p.sample_keeper
FROM bsz b LEFT JOIN pruned p ON p.bucket = b.bucket
""",
    tags=("vectors", "dedup", "lsh", "semdedup", "pipeline"),
)
def vec_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication, SemDeDup-shaped (Abbas et al. 2023):
    partition the corpus by a coarse semantic bucket, then prune
    within-bucket pairs above a cosine threshold (tau=0.98), keeping
    the lower vec_id. The coarse stage here is the hyperplane-LSH
    signature (sign patterns are scale-invariant, so a near-duplicate
    embedding lands in its original's bucket BY CONSTRUCTION — the
    property that makes bucket-local pruning sound); the paper's
    k-means coarse stage plugs in via operators/kmeans.py identically.
    The corpus is unioned with scaled copies of every 9th vector
    (cosine exactly 1) so the pruner has true positives.

    Scale: pairwise similarity runs within buckets only — the quadratic
    term is bounded by bucket size, never corpus size; per-bucket
    reports aggregate map-side. All sims round to 1e-6 before the
    threshold. Zero-norm rows excluded on both engines (_nz) — a zero
    vector has no semantics to dedup on (its sign bucket is arbitrary
    and its cosine undefined)."""
    prep(spark)
    emb = _nz(table(spark, sf_dir, "embeddings"))
    base = emb.select("vec_id", to_double("embedding").alias("embedding"))
    mutated = emb.where(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + _SEMDEDUP_SHIFT).alias("vec_id"),
        F.transform(to_double("embedding"), lambda x: x * 1.1).alias("embedding"),
    )
    corpus = base.unionByName(mutated)
    sigs = corpus.select(
        "vec_id", "embedding", lsh_signature(F.col("embedding"), PLANES).alias("bucket")
    )
    b = sigs.select(
        F.col("vec_id").alias("prune_id"),
        F.col("embedding").alias("e_b"),
        F.col("bucket").alias("bucket_b"),
    )
    pairs = (
        sigs.join(b, (sigs.bucket == b.bucket_b) & (sigs.vec_id < b.prune_id))
        .select(
            "bucket",
            F.col("vec_id").alias("keep_id"),
            "prune_id",
            F.round(cosine(F.col("embedding"), F.col("e_b")), 6).alias("sim"),
        )
        .where(F.col("sim") >= _SEMDEDUP_TAU)
    )
    pruned = pairs.groupBy("bucket").agg(
        F.countDistinct("prune_id").alias("n_pruned"),
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.min("keep_id").alias("sample_keeper"),
    )
    bsz = sigs.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vecs"))
    return bsz.join(pruned, "bucket", "left").select(
        "bucket",
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        F.coalesce("n_dup_pairs", F.lit(0)).cast("bigint").alias("n_dup_pairs"),
        F.coalesce("n_pruned", F.lit(0)).cast("bigint").alias("n_pruned"),
        "sample_keeper",
    )


@register(
    "vec_embedding_drift",
    oracle="""
WITH v AS (
  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS val,
         CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) <= '7'
              THEN 'a' ELSE 'b' END AS half
  FROM embeddings, generate_series(1, 64) AS g(i)
  WHERE embedding IS NOT NULL AND isfinite(list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
),
cent AS (
  SELECT half, pos, ROUND(AVG(val), 9) AS mu, COUNT(*) AS n
  FROM v GROUP BY half, pos
),
paired AS (
  SELECT a.pos, a.mu AS mu_a, b.mu AS mu_b
  FROM (SELECT pos, mu FROM cent WHERE half = 'a') a
  JOIN (SELECT pos, mu FROM cent WHERE half = 'b') b USING (pos)
)
SELECT CAST((SELECT MAX(n) FROM cent WHERE half = 'a') AS BIGINT) AS n_a,
       CAST((SELECT MAX(n) FROM cent WHERE half = 'b') AS BIGINT) AS n_b,
       ROUND(SQRT(SUM((mu_a - mu_b) * (mu_a - mu_b))), 6) AS centroid_l2,
       ROUND(SUM(mu_a * mu_b)
             / (SQRT(SUM(mu_a * mu_a)) * SQRT(SUM(mu_b * mu_b))), 6)
         AS centroid_cos,
       ROUND(MAX(ABS(mu_a - mu_b)), 6) AS max_dim_gap
FROM paired
""",
    tags=("vectors", "drift", "monitoring"),
)
def vec_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between two deterministic md5-hash
    halves of the corpus: centroid L2 distance, centroid cosine, and
    the largest per-dimension gap — the monitor a retrieval/embedding
    pipeline runs when the encoder or upstream corpus changes (PSI's
    vector-space sibling; near-zero here because the halves are
    exchangeable, which is the correct null reading).

    Shape: ONE explode to (vector, dim) and one (half, dim) mean
    aggregate — 128 centroid cells however large the corpus; the drift
    numbers are arithmetic on those cells. Per-dim means round to 1e-9
    before the cross-half arithmetic (module float discipline)."""
    prep(spark)
    emb = _finite(table(spark, sf_dir, "embeddings"))
    half = F.when(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) <= "7", "a"
    ).otherwise("b")
    v = emb.select(
        half.alias("half"),
        F.posexplode(to_double("embedding")).alias("pos0", "val"),
    ).select("half", (F.col("pos0") + 1).alias("pos"), "val")
    cent = v.groupBy("half", "pos").agg(
        F.round(F.avg("val"), 9).alias("mu"), F.count(F.lit(1)).alias("n")
    )
    a = cent.where(F.col("half") == "a").select(
        "pos", F.col("mu").alias("mu_a"), F.col("n").alias("na")
    )
    bb = cent.where(F.col("half") == "b").select(
        "pos", F.col("mu").alias("mu_b"), F.col("n").alias("nb")
    )
    paired = a.join(bb, "pos")
    diff = F.col("mu_a") - F.col("mu_b")
    # Half sizes come from the PER-HALF aggregates, not the paired
    # relation (the oracle's scalar-subquery semantics): when one half
    # is empty — a one-vector slice — `paired` has no rows, but the
    # populated half's count must still report. try_divide on the
    # cosine: an empty or exactly-zero centroid yields NULL (DuckDB's
    # quiet x/0) instead of an ANSI abort.
    na = a.agg(F.max("na").cast("bigint").alias("n_a"))
    nb = bb.agg(F.max("nb").cast("bigint").alias("n_b"))
    drift = paired.agg(
        F.round(F.sqrt(F.sum(diff * diff)), 6).alias("centroid_l2"),
        F.round(
            F.try_divide(
                F.sum(F.col("mu_a") * F.col("mu_b")),
                F.sqrt(F.sum(F.col("mu_a") * F.col("mu_a")))
                * F.sqrt(F.sum(F.col("mu_b") * F.col("mu_b"))),
            ),
            6,
        ).alias("centroid_cos"),
        F.round(F.max(F.abs(diff)), 6).alias("max_dim_gap"),
    )
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(drift))
        .select("n_a", "n_b", "centroid_l2", "centroid_cos", "max_dim_gap")
    )


_O_DOT16 = (
    "list_sum(list_transform(generate_series(1, 16), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))"
)
_O_NORM16_E = (
    "sqrt(list_sum(list_transform(generate_series(1, 16), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))"
)
_O_NORM16_Q = (
    "sqrt(list_sum(list_transform(generate_series(1, 16), "
    "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))"
)
_O_COS16 = f"ROUND(({_O_DOT16}) / (({_O_NORM16_E}) * ({_O_NORM16_Q})), 6)"


@register(
    "vec_matryoshka_rerank",
    oracle=f"""
WITH q AS (SELECT embedding FROM {_O_EMB_NZ} WHERE vec_id = 0),
coarse AS (
  SELECT e.vec_id, e.label, {_O_COS16} AS coarse_sim,
         ROW_NUMBER() OVER (ORDER BY {_O_COS16} DESC, e.vec_id) AS crn
  FROM {_O_EMB_NZ} e, q
  WHERE e.vec_id <> 0
),
cand AS (SELECT vec_id, label, coarse_sim FROM coarse WHERE crn <= 50)
SELECT vec_id, label, coarse_sim, cos_sim, CAST(rn AS INT) AS rn FROM (
  SELECT c.vec_id, c.label, c.coarse_sim, {_O_COS} AS cos_sim,
         ROW_NUMBER() OVER (ORDER BY {_O_COS} DESC, c.vec_id) AS rn
  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id, q
) t WHERE rn <= 10
""",
    tags=("vectors", "similarity", "ann", "matryoshka", "rerank"),
)
def vec_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (prefix-dimension) two-stage ANN: coarse search on the
    FIRST 16 of 64 dimensions selects 50 candidates, full-dimension
    cosine reranks to the top-10 — the retrieval pattern MRL-trained
    embedding models are built for, where the prefix is itself a valid
    lower-resolution embedding. The cost shape at scale: the corpus scan
    touches 16/64 of the vector bytes (with a columnar layout storing
    the prefix separately, literally 1/4 the I/O), and the full vectors
    are fetched for only 50 rows.

    Both stages round to 1e-6 before ranking with vec_id tie-breaks, so
    the candidate cut and the final order are bit-stable across engines.
    The rerank joins candidates back to the corpus by key — at 100 TB
    that is a broadcast of 50 ids, not a second scan.
    Zero-norm rows excluded on both engines (_nz). Residual caveat,
    recorded not hidden: a nonzero vector whose 16-dim PREFIX is
    all-zero passes the filter; Spark's total cosine() clamp scores its
    coarse pass 0.0 (no abort) while DuckDB's bare division says NULL —
    a candidate-cut divergence if such a vector ever nears the top-50.
    MRL-trained embeddings concentrate information in the prefix, so a
    zero prefix on a nonzero vector is a broken embedding upstream; the
    right production fix is a prefix-norm DQ gate, not a weaker key."""
    prep(spark)
    emb = _nz(table(spark, sf_dir, "embeddings"))
    q = F.broadcast(
        emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    )
    coarse = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            F.round(
                cosine(
                    F.slice(to_double("embedding"), 1, 16),
                    F.slice(to_double("q_emb"), 1, 16),
                ),
                6,
            ).alias("coarse_sim"),
        )
    )
    cand = coarse.orderBy(F.desc("coarse_sim"), "vec_id").limit(50)
    reranked = (
        cand.join(emb.select("vec_id", "embedding"), "vec_id")
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            "coarse_sim",
            F.round(cosine(to_double("embedding"), to_double("q_emb")), 6).alias(
                "cos_sim"
            ),
        )
    )
    top = reranked.orderBy(F.desc("cos_sim"), "vec_id").limit(10)
    w = Window.partitionBy(F.col("vec_id") % 1).orderBy(
        F.desc("cos_sim"), "vec_id"
    )
    return top.select(
        "vec_id", "label", "coarse_sim", "cos_sim",
        F.row_number().over(w).alias("rn"),
    )


def _o_signpack(rel: str, lo: int) -> str:
    """DuckDB: pack 32 sign bits (dims lo..lo+31, 1-based) into a BIGINT."""
    return (
        f"list_sum(list_transform(generate_series(1, 32), i -> "
        f"CASE WHEN {rel}.embedding[{lo} - 1 + i] > 0 "
        f"THEN (CAST(1 AS BIGINT) << (32 - i)) ELSE 0 END))"
    )


def _signpack(col: str, lo: int):
    """Spark: same 32-bit sign pack via an integer fold (acc*2 + bit is
    the shift-accumulate dual of the oracle's explicit shifts — identical
    integers, and 32 bits stay far inside BIGINT under ANSI)."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(32)),
        F.lit(0).cast("long"),
        lambda acc, i: acc * 2
        + F.when(F.element_at(F.col(col), F.lit(lo) - 1 + i) > 0, 1).otherwise(0),
    )


@register(
    "vec_hamming_topk",
    oracle=f"""
WITH packed AS (
  SELECT e.vec_id, e.label, e.embedding,
         {_o_signpack('e', 1)} AS h1,
         {_o_signpack('e', 33)} AS h2
  FROM {_O_EMB_NZ} e
),
q AS (SELECT h1, h2, embedding FROM packed WHERE vec_id = 0),
scored AS (
  SELECT p.vec_id, p.label,
         CAST(bit_count(xor(p.h1, q.h1)) + bit_count(xor(p.h2, q.h2))
              AS INT) AS hamming,
         p.embedding
  FROM packed p, q
  WHERE p.vec_id <> 0
),
top AS (
  SELECT vec_id, label, hamming, embedding,
         ROW_NUMBER() OVER (ORDER BY hamming, vec_id) AS rn
  FROM scored
)
SELECT t.vec_id, t.label, t.hamming, CAST(t.rn AS INT) AS rn,
       {_O_COS.replace('e.embedding', 'e2.embedding')} AS cos_sim
FROM top t
JOIN {_O_EMB_NZ} e2 ON e2.vec_id = t.vec_id,
     (SELECT embedding FROM {_O_EMB_NZ} WHERE vec_id = 0) q
WHERE t.rn <= 10
""",
    tags=("vectors", "similarity", "ann", "hamming", "quantization"),
)
def vec_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit (sign) embedding quantization + Hamming-distance top-k with
    full-precision cosine alongside: each 64-dim float vector collapses
    to TWO BIGINTs of sign bits (32x smaller than float32), candidate
    distance is two XOR+popcount ops — the cheapest ANN tier (binary
    quantization), below int8 (vec_int8_rerank) and PQ (vec_pq_topk) in
    the engine's quantization ladder. Exact integers end-to-end for the
    ranking; the cosine payload shows the rerank a production retriever
    would apply to the binary candidates.

    Scale: the packed corpus is 16 bytes/vector — a 1B-vector corpus is
    16 GB, scannable in-memory per executor; XOR+popcount vectorizes in
    whole-stage codegen. The pack is a one-time transform persisted at
    ingest in a real deployment. Zero-norm rows excluded on both
    engines (_nz): a zero vector's sign pack is the all-zeros word —
    Hamming-close to everything sign-negative-free — and its cosine
    payload is undefined (Spark's clamp says 0.0, DuckDB says NULL, so
    without the filter the two engines would disagree on the rerank)."""
    prep(spark)
    emb = _nz(table(spark, sf_dir, "embeddings"))
    packed = emb.select(
        "vec_id",
        "label",
        "embedding",
        _signpack("embedding", 1).alias("h1"),
        _signpack("embedding", 33).alias("h2"),
    )
    q = F.broadcast(
        packed.where(F.col("vec_id") == 0).select(
            F.col("h1").alias("q1"),
            F.col("h2").alias("q2"),
            F.col("embedding").alias("q_emb"),
        )
    )
    scored = (
        packed.where(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            "embedding",
            "q_emb",
            (
                F.bit_count(F.col("h1").bitwiseXOR(F.col("q1")))
                + F.bit_count(F.col("h2").bitwiseXOR(F.col("q2")))
            )
            .cast("int")
            .alias("hamming"),
        )
    )
    top = scored.orderBy("hamming", "vec_id").limit(10)
    w = Window.partitionBy(F.col("vec_id") % 1).orderBy("hamming", "vec_id")
    return top.select(
        "vec_id",
        "label",
        "hamming",
        F.row_number().over(w).cast("int").alias("rn"),
        F.round(cosine(to_double("embedding"), to_double("q_emb")), 6).alias(
            "cos_sim"
        ),
    )


_PCA_ITERS = 8


def _spark_round(x: float | None, scale: int) -> float | None:
    """Replicate F.round(double_col, scale) driver-side, bit-for-bit:
    Spark's Round on DoubleType goes through BigDecimal.valueOf(d)
    (Double.toString = the shortest round-tripping decimal — exactly
    what Python's repr(float) produces) then setScale(scale, HALF_UP).
    Python's builtin round() is banker's (half-even) and would diverge
    on exact .5 boundaries, so it is NOT used."""
    if x is None:
        return None
    return float(
        Decimal(repr(float(x))).quantize(
            Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
        )
    )


def _pca_oracle() -> str:
    iters = []
    prev = "v0"
    for i in range(1, _PCA_ITERS + 1):
        # MATERIALIZED is load-bearing: inlined CTEs double per round
        # (v_i reads u_i twice) and DuckDB would re-expand the whole
        # chain exponentially.
        iters.append(f"""
u{i} AS MATERIALIZED (
  SELECT g.dd AS d, SUM(g.gv * {prev}.val) AS u
  FROM g JOIN {prev} ON {prev}.d = g.ee GROUP BY g.dd
),
m{i} AS MATERIALIZED (SELECT MAX(ABS(u)) AS m FROM u{i}),
v{i} AS MATERIALIZED (SELECT d, ROUND(u / m, 9) AS val
                      FROM u{i} CROSS JOIN m{i})""")
        prev = f"v{i}"
    return f"""
WITH dims AS MATERIALIZED (
  SELECT vec_id,
         g.d,
         CAST(FLOOR(CAST(embedding[g.d] AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS x6
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(d)
  WHERE embedding IS NOT NULL AND isfinite(list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
),
mu AS (
  SELECT d,
         CAST(FLOOR(CAST(SUM(x6) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
           AS mean6,
         COUNT(*) AS n
  FROM dims GROUP BY d
),
y AS MATERIALIZED (
  SELECT vec_id, dims.d, x6 - mean6 AS yv
  FROM dims JOIN mu ON mu.d = dims.d
),
g AS MATERIALIZED (
  SELECT a.d AS dd, b.d AS ee,
         CAST(SUM(a.yv * b.yv) AS DOUBLE) AS gv
  FROM y a JOIN y b ON a.vec_id = b.vec_id
  GROUP BY 1, 2
),
v0 AS MATERIALIZED (SELECT DISTINCT d, 1.0 AS val FROM dims),
{",".join(i.strip() for i in iters)},
ray AS (
  SELECT SUM(ROUND(u{_PCA_ITERS}.u * {prev}.val, 0)) AS num,
         (SELECT SUM(ROUND(val * val, 9)) FROM {prev}) AS den
  FROM u{_PCA_ITERS} JOIN {prev} ON {prev}.d = u{_PCA_ITERS}.d
),
nvec AS (SELECT MAX(n) AS n FROM mu)
SELECT {prev}.d AS dim,
       ROUND({prev}.val, 6) AS loading,
       CAST(ROW_NUMBER() OVER (ORDER BY ABS({prev}.val) DESC, {prev}.d)
            AS INT) AS rk,
       ROUND(num / den / n / 1e12, 4) AS eigval_cov
FROM {prev} CROSS JOIN ray CROSS JOIN nvec
QUALIFY rk <= 10
ORDER BY rk
"""


@register(
    "vec_pca_power",
    oracle=_pca_oracle(),
    tags=("vectors", "pca", "linear-algebra", "iterative"),
    bench=True,
)
def vec_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration: the 64x64 covariance Gram matrix is built as ONE
    distributed pass over the exploded (vector, dim) stream — centered
    on exact integer mu6 grids so every Gram cell is an EXACT int64 —
    then the 8 power iterations run DRIVER-SIDE on the collected d x d
    matrix (each component rounded to 1e-9, graph_pagerank discipline).
    Output: top-10 dims by |loading| plus the Rayleigh-quotient
    eigenvalue in raw covariance units — the dimensionality-reduction /
    dominant-direction probe an embedding pipeline runs beside
    vec_embedding_drift (is one axis eating the variance? did a
    fine-tune collapse the space?).

    r9 shape change (same declared result, oracle hash-exact at all
    SFs): the iterates are d-vectors, so iterating them as 4096-row
    DataFrames bought no parallelism and paid 8 eager-localCheckpoint
    jobs + 8 Catalyst compiles per run — and the Gram `persist()` that
    fed them was re-served by CacheManager ACROSS fresh-build bench
    runs (the r8 VERDICT's honesty bug: warmup's InMemoryRelation
    matches every later run's canonical plan, so timed runs skipped the
    only data-sized stage). Now the d x d Gram (a bounded 64x64 = 4096
    cells regardless of corpus size) is collected once per run and the
    matvecs are plain Python — the MLlib RowMatrix posture (distributed
    Gramian, local eigensolve), and the kmeans/driver-contract class of
    bounded collect (d^2 cells, never data rows). Nothing is cached
    across runs; every run re-reads parquet. _spark_round replicates
    F.round's BigDecimal HALF_UP semantics bit-for-bit, and the
    sequential index-order sums sit inside the same 1e-9-rounding
    drift bet the Spark<->DuckDB pair already made (~1e-14 relative
    reduction-order drift, absorbed).

    Totality: the x6 grid is built only on _finite's finite-norm domain
    (NULL elsewhere), because floor(double) saturates without raising and
    a row filter does not guard the centering (SCALE.md "ANSI totality").

    Exactness: x6 and the per-dim mean are deterministic integer grids;
    Gram cells are exact int64 (|y| <= ~4e6, 5e3 vectors -> |G| <= 8e16
    < 2^63; int->double conversion is correctly rounded in both
    engines).

    Scale: the Gram build is the only data-sized stage, and it is
    JOIN-FREE: each vector row keeps its centered integer array and the
    d exploded rows aggregate 64 sum-expressions each (the
    agg_ols_multi normal-equations pattern at d=64) — only d x d cells
    ever cross the exchange. The first spelling self-joined the
    exploded stream on vec_id (d^2 rows per vector THROUGH A SHUFFLE
    JOIN); the 25x probe caught it stuck materializing 512M join rows
    — the lesson is recorded here deliberately. d too large for d^2
    cells -> randomized sketched PCA; noted, not needed at embedding
    dims.
    """
    prep(spark)
    emb = _finite(table(spark, sf_dir, "embeddings"))
    x6arr = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1_000_000 + F.lit(0.5)).cast(
            "long"
        ),
    )
    vecs = emb.select("vec_id", F.when(_finite_dom(), x6arr).alias("x6arr"))
    dims = vecs.select(
        "vec_id", F.posexplode("x6arr").alias("d0", "x6")
    ).select("vec_id", (F.col("d0") + 1).alias("d"), "x6")
    mu = dims.groupBy("d").agg(
        F.floor(F.sum("x6").cast("double") / F.count(F.lit(1)) + F.lit(0.5))
        .cast("long")
        .alias("mean6"),
        F.count(F.lit(1)).alias("n"),
    )
    out_schema = "dim int, loading double, rk int, eigval_cov double"
    # Job 1: the per-dim means (64 rows — was the broadcast subquery of
    # the old Gram plan, plus a third full pass for nvec; now one pass
    # serves both).
    mu_rows = sorted(mu.collect(), key=lambda r: r["d"])
    if not mu_rows:
        # Empty-corpus guard (round-7 sweep discipline): the result is
        # correctly empty through the same schema.
        return spark.createDataFrame([], out_schema)
    ds = [int(r["d"]) for r in mu_rows]
    n_corpus = max(int(r["n"]) for r in mu_rows)
    # Expression trees built as ONE SQL string each: the 64-sum Gram
    # aggregate spelled as per-column F.sum(F.element_at(...)) Columns
    # cost ~0.9 s of py4j round-trips PER BUILD (measured — more than
    # the Gram job itself); a single parsed expression string is one
    # round-trip for the identical plan.
    n_dims = 64
    mu_arr = "array(" + ",".join(f"{int(r['mean6'])}L" for r in mu_rows) + ")"
    yrows = vecs.selectExpr(
        f"zip_with(x6arr, {mu_arr}, (x, m) -> x - m) AS yrow"
    )
    exploded = yrows.selectExpr(
        "posexplode(yrow) AS (d0, yd)", "yrow"
    ).selectExpr("d0 + 1 AS dd", "yd", "yrow")
    g_struct = (
        "struct("
        + ",".join(
            f"sum(element_at(yrow, {e}) * yd) AS g{e}"
            for e in range(1, n_dims + 1)
        )
        + ") AS gs"
    )
    g_wide = exploded.groupBy("dd").agg(F.expr(g_struct))
    # Job 2: the Gram pass — d x d exact-int64 cells to the driver.
    grows = {
        int(r["dd"]): [
            float(r["gs"][f"g{e}"]) if r["gs"][f"g{e}"] is not None else None
            for e in range(1, n_dims + 1)
        ]
        for r in g_wide.collect()
    }
    # Driver-side power iteration (d x d matvec; sums run in ascending
    # index order). NULL discipline mirrors the old DataFrame loop:
    # SUM skips NULL terms and is NULL over an all-NULL group;
    # try_divide(u, m) is NULL when m is 0 (rank-0 centered Gram, e.g.
    # a single-vector slice — DuckDB's u/0 is the same quiet NULL).
    val: dict[int, float | None] = {d: 1.0 for d in ds}
    u: dict[int, float | None] = {}
    for _ in range(_PCA_ITERS):
        u = {}
        for dd in ds:
            row = grows.get(dd)
            s = None
            if row is not None:
                for ee in ds:
                    ve = val.get(ee)
                    gv = row[ee - 1]
                    if ve is None or gv is None:
                        continue
                    t = gv * ve
                    s = t if s is None else s + t
            u[dd] = s
        m = None
        for dd in ds:
            if u[dd] is not None and (m is None or abs(u[dd]) > m):
                m = abs(u[dd])
        if m is None or m == 0.0:
            val = {d: None for d in ds}
        else:
            val = {
                d: (_spark_round(u[d] / m, 9) if u[d] is not None else None)
                for d in ds
            }
    num = None
    den = None
    for d in ds:
        if u.get(d) is not None and val[d] is not None:
            t = _spark_round(u[d] * val[d], 0)
            num = t if num is None else num + t
        if val[d] is not None:
            t2 = _spark_round(val[d] * val[d], 9)
            den = t2 if den is None else den + t2
    if num is None or den is None or den == 0.0:
        eig = None
    else:
        eig = _spark_round(num / den / n_corpus / 1e12, 4)
    order = sorted(
        ds,
        key=lambda d: (
            val[d] is None,
            -abs(val[d]) if val[d] is not None else 0.0,
            d,
        ),
    )
    rows = [
        (d, _spark_round(val[d], 6), rk, eig)
        for rk, d in enumerate(order[:10], start=1)
    ]
    return spark.createDataFrame(rows, out_schema).orderBy("rk")


_JL_K = 16  # projected dimensionality


def _jl_sign(j: str, d: str) -> str:
    # deterministic +-1 from md5 parity — the shared "random" matrix
    return (
        f"CASE WHEN CAST(('0x' || substr(md5('jl|' || CAST({j} AS VARCHAR)"
        f" || '|' || CAST({d} AS VARCHAR)), 1, 1)) AS INT) % 2 = 0"
        " THEN 1 ELSE -1 END"
    )


@register(
    "vec_jl_projection",
    oracle=f"""
WITH dims AS MATERIALIZED (
  SELECT vec_id,
         g.d,
         CAST(FLOOR(CAST(embedding[g.d] AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS x6
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(d)
  WHERE embedding IS NOT NULL AND isfinite(list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
),
proj AS MATERIALIZED (
  SELECT vec_id, j.j,
         SUM(({_jl_sign('j.j', 'd')}) * x6) AS p
  FROM dims, unnest(generate_series(1, {_JL_K})) AS j(j)
  GROUP BY vec_id, j.j
),
q AS (SELECT j, p AS qp FROM proj WHERE vec_id = 0),
d2 AS (
  SELECT proj.vec_id,
         SUM((p - qp) * (p - qp)) AS dist2
  FROM proj JOIN q ON q.j = proj.j
  WHERE proj.vec_id <> 0
  GROUP BY proj.vec_id
)
SELECT vec_id, dist2,
       CAST(ROW_NUMBER() OVER (ORDER BY dist2, vec_id) AS INT) AS rn
FROM d2
QUALIFY rn <= 10
ORDER BY rn
""",
    tags=("vectors", "dimensionality-reduction", "jl", "ann"),
)
def vec_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection: 64-dim embeddings drop
    to {_JL_K} dims through a DETERMINISTIC +-1 projection matrix
    (sign = md5('jl|j|d') parity — no stored matrix, any executor
    regenerates any entry), then the 10 nearest neighbors of query
    vector 0 are ranked in the projected space — the cheap-distance
    tier that sits between the sign-bit sketch (vec_hamming_topk) and
    int8 quantization on the ANN ladder.

    Exactness: inputs quantize to the 1e-6 grid, the projection is a
    +-1-weighted integer sum (exact int64), and projected L2^2 is an
    exact integer — the whole pipeline is integer arithmetic, so both
    engines agree bit-for-bit with no rounding step at all.

    Scale: projection is one explode + (vec, j) aggregate — linear in
    corpus size, map-side combinable, and embarrassingly column-
    parallel; the k-dim vectors then feed any downstream ANN stage at
    1/4 the bytes. The query-side join broadcasts {_JL_K} rows.
    """
    prep(spark)
    dims = (
        _finite(table(spark, sf_dir, "embeddings"))
        .select("vec_id", F.posexplode("embedding").alias("d0", "x"))
        .select(
            "vec_id",
            (F.col("d0") + 1).alias("d"),
            F.floor(F.col("x").cast("double") * 1_000_000 + F.lit(0.5))
            .cast("long")
            .alias("x6"),
        )
    )
    js = spark.range(1, _JL_K + 1).select(F.col("id").cast("int").alias("j"))
    sign = F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("jl|"),
                        F.col("j").cast("string"),
                        F.lit("|"),
                        F.col("d").cast("string"),
                    )
                ),
                1,
                1,
            ),
            16,
            10,
        ).cast("int")
        % 2
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    proj = (
        dims.join(F.broadcast(js))
        .groupBy("vec_id", "j")
        .agg(F.sum(sign * F.col("x6")).alias("p"))
    )
    q = proj.where(F.col("vec_id") == 0).select(
        F.col("j").alias("qj"), F.col("p").alias("qp")
    )
    d2 = (
        proj.where(F.col("vec_id") != 0)
        .join(F.broadcast(q), F.col("j") == F.col("qj"))
        .groupBy("vec_id")
        .agg(
            F.sum((F.col("p") - F.col("qp")) * (F.col("p") - F.col("qp"))).alias(
                "dist2"
            )
        )
    )
    # Distributed top-k (TakeOrderedAndProject) instead of a global
    # row_number window: the window moved EVERY per-vector distance row
    # into one task to rank them, then kept 10. orderBy+limit selects the
    # same 10 rows under the same (dist2, vec_id) total order with each
    # partition contributing only its local top-10; the residual window
    # ranks just those 10 survivors.
    w = Window.orderBy("dist2", "vec_id")
    return (
        d2.orderBy("dist2", "vec_id")
        .limit(10)
        .select("vec_id", "dist2", F.row_number().over(w).cast("int").alias("rn"))
        .orderBy("rn")
    )


@register(
    "vec_class_separability",
    oracle="""
WITH dims AS MATERIALIZED (
  SELECT vec_id, label,
         g.d,
         CAST(FLOOR(CAST(embedding[g.d] AS DOUBLE) * 10000 + 0.5)
              AS BIGINT) AS x4
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(d)
  WHERE embedding IS NOT NULL AND isfinite(list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
),
cent AS MATERIALIZED (
  SELECT label, d, SUM(x4) AS s, COUNT(*) AS n_l
  FROM dims GROUP BY label, d
),
-- mean-based double arithmetic: (x - s/n)^2 with the identical IEEE
-- op order in both engines; no integer product can overflow at scale
within AS (
  SELECT v.label,
         SUM(ROUND((v.x4 - CAST(c.s AS DOUBLE) / c.n_l)
                   * (v.x4 - CAST(c.s AS DOUBLE) / c.n_l), 6)) AS ssw,
         MAX(c.n_l) AS n_l
  FROM dims v JOIN cent c ON c.label = v.label AND c.d = v.d
  GROUP BY v.label
),
pairs AS (
  SELECT a.label AS la, b.label AS lb,
         SUM(ROUND((CAST(a.s AS DOUBLE) / a.n_l
                    - CAST(b.s AS DOUBLE) / b.n_l)
                   * (CAST(a.s AS DOUBLE) / a.n_l
                      - CAST(b.s AS DOUBLE) / b.n_l), 6)) AS dist2
  FROM cent a JOIN cent b ON a.d = b.d AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT CAST(p.la AS INT) AS label_a, CAST(p.lb AS INT) AS label_b,
       ROUND(p.dist2 / 1e8, 6) AS centroid_dist2,
       ROUND(p.dist2 / NULLIF(wa.ssw / wa.n_l + wb.ssw / wb.n_l, 0.0), 6)
         AS separability
FROM pairs p
JOIN within wa ON wa.label = p.la
JOIN within wb ON wb.label = p.lb
ORDER BY separability DESC, label_a, label_b
LIMIT 15
""",
    tags=("vectors", "separability", "diagnostics", "fisher"),
)
def vec_class_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-separability diagnostic over the embedding space: for each
    label pair, squared centroid distance vs the sum of mean
    within-class scatters (a Fisher-criterion flavor) — the
    embedding-quality check that says WHICH classes a fine-tune
    actually separated, beside vec_embedding_drift (same space over
    time) and ml_nearest_centroid (the classifier those centroids
    power). Top-15 most separable pairs.

    Exactness: per-dim terms are (x - s/n)^2 in doubles with the
    IDENTICAL op order on both engines (s and n exact integers; the
    first integer-product spelling overflowed int64 at 25x scale —
    mean-based arithmetic has no overflow at any corpus size), each
    rounded to 1e-6 before the 64-term sum, and the final ratio
    divides once with a NULLIF zero-scatter guard.

    Scale: one exploded pass for centroids, one for within-class
    scatter (both map-side combinable); pairwise distances run on the
    |labels| x |dims| centroid table — never row-pairs.
    """
    prep(spark)
    dims = (
        _finite(table(spark, sf_dir, "embeddings"))
        .select("vec_id", "label", F.posexplode("embedding").alias("d0", "x"))
        .select(
            "label",
            (F.col("d0") + 1).alias("d"),
            F.floor(F.col("x").cast("double") * 10_000 + F.lit(0.5))
            .cast("long")
            .alias("x4"),
        )
    )
    cent = dims.groupBy("label", "d").agg(
        F.sum("x4").alias("s"), F.count(F.lit(1)).alias("n_l")
    )
    wdiff = F.col("x4") - F.col("s").cast("double") / F.col("n_l")
    within = (
        dims.join(F.broadcast(cent), ["label", "d"])
        .groupBy("label")
        .agg(
            F.sum(F.round(wdiff * wdiff, 6)).alias("ssw"),
            F.max("n_l").alias("n_l"),
        )
    )
    a = cent.select(
        F.col("label").alias("la"), "d",
        F.col("s").alias("sa"), F.col("n_l").alias("na"),
    )
    b = cent.select(
        F.col("label").alias("lb"), F.col("d").alias("db"),
        F.col("s").alias("sb"), F.col("n_l").alias("nb"),
    )
    cdiff = (
        F.col("sa").cast("double") / F.col("na")
        - F.col("sb").cast("double") / F.col("nb")
    )
    pairs = (
        a.join(b, (F.col("d") == F.col("db")) & (F.col("la") < F.col("lb")))
        .groupBy("la", "lb")
        .agg(F.sum(F.round(cdiff * cdiff, 6)).alias("dist2"))
    )
    wa = within.select(
        F.col("label").alias("la"), F.col("ssw").alias("ssw_a"),
        F.col("n_l").alias("nla"),
    )
    wb = within.select(
        F.col("label").alias("lb"), F.col("ssw").alias("ssw_b"),
        F.col("n_l").alias("nlb"),
    )
    return (
        pairs.join(F.broadcast(wa), "la")
        .join(F.broadcast(wb), "lb")
        .select(
            F.col("la").cast("int").alias("label_a"),
            F.col("lb").cast("int").alias("label_b"),
            F.round(F.col("dist2") / 1e8, 6).alias("centroid_dist2"),
            F.round(
                F.col("dist2")
                / F.nullif(
                    F.col("ssw_a") / F.col("nla")
                    + F.col("ssw_b") / F.col("nlb"),
                    F.lit(0.0),
                ),
                6,
            ).alias("separability"),
        )
        .orderBy(F.desc("separability"), "label_a", "label_b")
        .limit(15)
    )
