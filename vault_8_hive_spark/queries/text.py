"""Text / LLM-data-pipeline operators over `documents` (SURVEY.md §2B
north-star): exact dedup, MinHash+LSH near-dup detection, n-gram Jaccard,
token statistics, quality scoring, language-ID heuristic, character-level
fingerprinting, SimHash.

Design for 100 TB:
- shingling/minhashing are pure JVM higher-order expressions (no Python);
- LSH turns the O(n^2) all-pairs problem into an equi-join on band keys —
  a plain shuffle join Spark does at any scale; only candidate pairs pay
  the exact-jaccard verification;
- the MinHash permutations are lexicographic mins over md5(seed||shingle),
  which is engine-portable (string min) — no platform hash dependence.

SimHash is the one Pandas-UDF member (64-bit ops on md5 digests), batch-
vectorized via Arrow.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..session import materialize_once, prep
from . import QUERIES, register

N_HASHES = 8
N_BANDS = 4  # rows-per-band = 2


def _words(df: DataFrame) -> DataFrame:
    return df.select("doc_id", "lang", "source", F.split("text", " ").alias("words"))


def _shingled(df: DataFrame) -> DataFrame:
    """Distinct 3-word shingles per doc (JVM lambda expressions only).

    The transform is TOTAL (guarded by when(), not just the row filter):
    under ANSI mode `element_at` past the end THROWS, and whole-stage
    codegen's subexpression elimination can evaluate a filter predicate's
    shared subexpression BEFORE the short-circuiting `size >= 3` conjunct
    of the same Filter (seen live: a downstream join's inferred
    isnotnull(shingles) pushed down next to the size guard, and the
    hoisted transform exploded on a 1-token doc — the edge-corpus sweep,
    round 7). Short docs still leave via the where(); the when() makes
    the expression safe to evaluate on ANY row, whatever order the
    optimizer picks."""
    shingles = F.transform(
        F.sequence(F.lit(1), F.size("words") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at("words", i),
            F.element_at("words", i + 1),
            F.element_at("words", i + 2),
        ),
    )
    return (
        _words(df)
        .where(F.size("words") >= 3)
        .select(
            "doc_id",
            F.array_distinct(
                F.when(F.size("words") >= 3, shingles).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("shingles"),
        )
    )


_O_SHINGLES = """
sh AS (SELECT doc_id,
              list_distinct(list_transform(generate_series(1, len(words)-2),
                            i -> words[i]||' '||words[i+1]||' '||words[i+2])) AS shingles
       FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) w
       WHERE len(words) >= 3)
"""

# MinHash signature + LSH band keys (shared CTE chain: the minhash
# near-dup query and the bucket audit compute IDENTICAL band keys by
# construction, because both oracles read this one text).
_O_BANDS = f"""{_O_SHINGLES},
hh AS (SELECT doc_id, list_transform(shingles, s -> md5(s)||md5('x'||s)) AS hv FROM sh),
sigs AS (SELECT doc_id,
                [list_min(list_transform(hv, h -> h[o:o+7]))
                 FOR o IN [1,9,17,25,33,41,49,57]] AS sig
         FROM hh),
bands AS (SELECT doc_id,
                 unnest([md5(sig[1]||sig[2]), md5(sig[3]||sig[4]),
                         md5(sig[5]||sig[6]), md5(sig[7]||sig[8])]) AS band_key
          FROM sigs)"""


def _minhash_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, band_key) LSH band rows from shingled docs — the shared
    candidate-generation core of text_minhash_lsh and the bucket audit
    (one row per doc per band; N_BANDS = 4, 2 signature rows per band)."""

    def digest(s):  # 256-bit per-shingle digest
        return F.concat(F.md5(s.cast("binary")), F.md5(F.concat(F.lit("x"), s).cast("binary")))

    def slices_bound(s):
        # transform over a 1-element array BINDS the digest to a lambda
        # variable, so the two md5 calls are evaluated once per shingle —
        # not once per slice (projection collapse would otherwise inline
        # the digest into all 8 slice expressions).
        return F.element_at(
            F.transform(
                F.array(digest(s)),
                lambda h: F.array(*[F.substring(h, 8 * b + 1, 8) for b in range(N_HASHES)]),
            ),
            1,
        )

    # All 8 signature minima in ONE fold over the shingle list.
    sig_arr = F.aggregate(
        "shingles",
        F.array_repeat(F.lit("\x7f"), N_HASHES),  # > any hex char
        lambda acc, s: F.zip_with(acc, slices_bound(s), lambda a, b: F.least(a, b)),
    )
    # Band keys from the signature array, binding sig_arr once (same
    # re-evaluation concern as above: 4 band expressions, one fold).
    band_arr = F.element_at(
        F.transform(
            F.array(sig_arr),
            lambda sa: F.array(
                *[
                    F.md5(
                        F.concat(
                            F.element_at(sa, 2 * j + 1), F.element_at(sa, 2 * j + 2)
                        ).cast("binary")
                    )
                    for j in range(N_BANDS)
                ]
            ),
        ),
        1,
    )
    return sh.select("doc_id", F.explode(band_arr).alias("band_key"))


# --- high-document-frequency skew guard (the df-cap) ------------------------
# A posting list / LSH bucket of k docs expands to k(k-1)/2 pairs inside ONE
# task; tools/dupskew_probe.py measured the cliff (30% boilerplate => a
# 15.7k-doc posting list => 1.2e8 pairs per gram: JVM-heap-fatal DNF plain,
# 9.5 s with lists > 256 dropped before expansion — BASELINE §3e-bis). A
# gram or band bucket shared by thousands of documents is template text
# carrying no dedup signal, so production span/near-dup pipelines drop
# high-DF keys before pairing. The guard is OFF on healthy corpora (driver
# data maxes at df=4, measured at sf0.1 AND the 25x probe) and auto-engages
# only when the corpus's worst group crosses the cliff — decided INSIDE the
# plan by broadcasting the one-row max-group-size audit, so no extra pass
# over the corpus and the DuckDB oracle stays hash-exact everywhere the cap
# stays disengaged.
DF_CAP_CONF = "spark.vault8.dedup.dfCap"  # "auto" (default) | "off" | <int>
DF_CLIFF = 2048  # worst group size beyond which auto mode engages the cap
DF_CAP = 256  # engaged cap (the dupskew-probe-measured production value)


def _df_cap_mode(spark: SparkSession) -> tuple[str, int | None]:
    v = str(spark.conf.get(DF_CAP_CONF, "auto")).strip().lower()
    if v in ("off", "none", "false"):
        return ("off", None)
    if v == "auto":
        return ("auto", DF_CAP)
    return ("static", int(v))


def _cap_banded(
    spark: SparkSession, bands: DataFrame, *key_cols: str
) -> tuple[DataFrame, DataFrame]:
    """Df-cap posture for an exploded band/bucket relation keyed by
    `key_cols` (keys must be non-null — true for every call site: md5 /
    hex-slice / sign-bit keys). Returns `(ex, safe)`: `ex` is the band
    relation materialized once per run (`materialize_once` on the bucket
    key), `safe` is `ex` with the rows of over-cap groups dropped, under
    the same auto/static/off modes as _cap_sized. Callers cap ONE side
    of their bucket join (`safe`) and read the other side from `ex` raw
    — pair-set-equivalent to capping both sides, because a pair needs
    its bucket key present on BOTH sides and the group size is a
    property of the key:
      pair emitted  <=>  key uncapped  <=>  mx <= CLIFF or k <= cap.

    r9 shape (recovers the r8 minhash df-cap regression): the r8 guard
    computed `count() over partitionBy(key)` — plan-shape-wise fine
    (one shared exchange), but the audit/cap machinery kept splitting
    into re-evaluations of the band relation under optimizer rewrites:
    a stage probe showed the CPU-heavy minhash FOLD (the dominant cost,
    ~7 of 8.6 s task time at sf0.1) running TWICE in the first r9
    anti-join spelling because PushDownLeftSemiAntiJoin pushes the cap
    join below any shared repartition and column pruning splits
    differently-projected consumers. Behind the checkpoint barrier the
    fold runs exactly once into the checkpoint blocks (partitioned by
    the bucket key, which the bucket join needs anyway), and the
    count/audit branches are cheap hash-aggs over block reads. The cap
    filter is a broadcast LEFT-ANTI join against the (tiny, usually
    EMPTY) offending-key set — at scale the per-key count relation is
    NOT broadcastable but `bad` is.
    3-arm interleaved probe (tools/minhash_shape_probe_r09.py, sf0.1,
    median of 5): win(r8)=1.517s anti=1.713s ckpt=1.374s, rows equal."""
    mode, cap = _df_cap_mode(spark)
    nn = bands
    for kc in key_cols:
        nn = nn.where(F.col(kc).isNotNull())
    ex = materialize_once(nn, *key_cols)
    if mode == "off":
        return ex, ex
    kcnt = ex.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_df_k"))
    if mode == "auto":
        mx = kcnt.agg(F.max("_df_k").alias("_df_mx"))
        bad = kcnt.crossJoin(F.broadcast(mx)).where(
            (F.col("_df_mx") > F.lit(DF_CLIFF)) & (F.col("_df_k") > F.lit(cap))
        )
    else:  # static
        bad = kcnt.where(F.col("_df_k") > F.lit(cap))
    safe = ex.join(
        F.broadcast(bad.select(*key_cols)), list(key_cols), "left_anti"
    )
    return ex, safe


def _cap_sized(
    spark: SparkSession,
    rel: DataFrame,
    k_col: str,
    mx: DataFrame | None = None,
) -> DataFrame:
    """Apply the df-cap posture to a relation carrying its group size in
    `k_col`: off = passthrough, static = unconditional cap, auto = cap
    every group iff the corpus's WORST group crosses DF_CLIFF (one
    broadcast scalar, so clean corpora keep byte-identical output and a
    boilerplate corpus degrades to the capped plan instead of an OOM).
    `mx` may supply the one-row audit (column `_df_mx`) from a CHEAPER
    branch than rel itself — e.g. a counts-only aggregate sharing rel's
    exchange — so the audit never re-pays a collect_list merge."""
    mode, cap = _df_cap_mode(spark)
    if mode == "off":
        return rel
    if mode == "static":
        return rel.where(F.col(k_col) <= F.lit(cap))
    if mx is None:
        mx = rel.agg(F.max(k_col).alias("_df_mx"))
    return (
        rel.crossJoin(F.broadcast(mx))
        .where((F.col("_df_mx") <= F.lit(DF_CLIFF)) | (F.col(k_col) <= F.lit(cap)))
        .drop("_df_mx")
    )


@register(
    "text_exact_dedup",
    oracle="""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
)
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM all_docs
GROUP BY md5(text)
HAVING COUNT(*) > 1
""",
    tags=("text", "dedup"),
)
def text_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup by md5 hash-groupBy (the corpus is unioned with
    a shifted copy of every 5th doc so the query demonstrably finds dups).
    At 100 TB this is one shuffle on a 128-bit key — the cheapest dedup."""
    prep(spark)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return (
        docs.unionByName(dups)
        .groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )


@register(
    "text_minhash_lsh",
    oracle=f"""
WITH {_O_BANDS},
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
SELECT c.doc_a, c.doc_b,
       ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
             len(list_distinct(list_concat(sa.shingles, sb.shingles))), 9) AS jaccard
FROM cand c
JOIN sh sa ON sa.doc_id = c.doc_a
JOIN sh sb ON sb.doc_id = c.doc_b
WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
      len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.2
""",
    tags=("text", "dedup", "minhash", "lsh"),
    bench=True,
)
def text_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (8 perms) + LSH (4 bands x 2 rows) near-duplicate pairs,
    verified by exact shingle-set Jaccard >= 0.2.

    The 8 permutations are lexicographic mins over 8 disjoint 32-bit hex
    slices of a 256-bit per-shingle digest (md5(s) || md5('x'||s)) — two
    md5 evaluations per shingle instead of eight, engine-portable, and
    cluster-deterministic. The band-key equi-join replaces the O(n^2)
    pair scan; only LSH candidates are verified. Scale: bands explode
    4 rows/doc; the band join shuffles on a uniform 128-bit key (no
    skew); verification joins rehydrate the two shingle sets per
    candidate pair only.
    """
    prep(spark)
    # Repartition before the CPU-heavy hashing: a single parquet file is
    # one input split, which would serialize all md5 work into one task.
    par = spark.sparkContext.defaultParallelism
    # The shingled docs are the shared materialization point, partitioned
    # on doc_id, so the corpus is scanned and shingled exactly once — the
    # band checkpoint (_cap_banded) and both verification rehydration
    # sides all read these blocks (asserted in tests/test_plans.py through
    # the checkpoint lineages).
    sh = materialize_once(_shingled(table(spark, sf_dir, "documents")), "doc_id", n=par)
    bands = _minhash_bands(sh)
    # df-cap on bucket size (auto, see _cap_banded): the helper's
    # checkpoint is partitioned on band_key — the SAME partitioning the
    # self-join needs, so the audit adds no extra shuffle — and a
    # template-text bucket past DF_CLIFF would otherwise emit k(k-1)/2
    # candidates into one task. One capped side suffices (pair-set
    # proof in _cap_banded); the b2 side reads the blocks raw.
    ex, safe = _cap_banded(spark, bands, "band_key")
    b2 = ex.select(F.col("doc_id").alias("doc_b"), F.col("band_key").alias("bk"))
    cand = (
        safe.join(b2, (safe.band_key == b2.bk) & (safe.doc_id < b2.doc_b))
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= 0.2)
        .select("doc_a", "doc_b", F.round(jac, 9).alias("jaccard"))
    )


@register(
    "text_keeper_policy",
    oracle=f"""
WITH {_O_BANDS},
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
pairs AS (
  SELECT c.doc_a, c.doc_b,
         ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
               len(list_distinct(list_concat(sa.shingles, sb.shingles))), 9) AS jaccard
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b
  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.2
),
sym AS (SELECT doc_a AS d, doc_b AS e, jaccard FROM pairs
        UNION ALL
        SELECT doc_b AS d, doc_a AS e, jaccard FROM pairs),
q AS (SELECT doc_id, n_chars FROM documents),
dom AS (SELECT s.d, s.e, s.jaccard, qd.n_chars AS q_d, qe.n_chars AS q_e
        FROM sym s
        JOIN q qd ON qd.doc_id = s.d
        JOIN q qe ON qe.doc_id = s.e
        WHERE qe.n_chars > qd.n_chars
           OR (qe.n_chars = qd.n_chars AND s.e < s.d))
SELECT d AS dropped_doc, q_d AS q_dropped, e AS kept_by, q_e AS q_keeper, jaccard
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY d
                                   ORDER BY q_e DESC, e ASC) AS rn
      FROM dom) r
WHERE rn = 1
""",
    tags=("text", "dedup", "minhash", "lsh", "keeper-policy"),
)
def text_keeper_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based keeper selection over the verified near-dup pairs —
    the policy layer a production dedup pipeline runs AFTER candidate
    generation: instead of min(doc_id) (text_exact_dedup's keeper), keep
    the HIGHEST-QUALITY member of each duplicate relationship and report
    every dominated document with the partner that displaced it.

    Policy: keep-longest (quality = n_chars, ties broken toward the
    lower doc_id) — the common crude production default; any per-doc
    scoring column slots into the same dominance join. A document is
    dropped iff some verified near-duplicate strictly dominates it on
    (quality, -doc_id); the reported keeper is its best such partner,
    chosen deterministically by max_by over the same key. Pair-dominance
    is deliberately LOCAL (no transitive closure): it needs one extra
    join over the pair relation, not an iterative components pass —
    at 100 TB the policy adds nothing to the dedup join's cost envelope.
    For cluster-consistent keeper election see text_dedup_clusters /
    er_pipeline (operators/components.py), which this complements.

    Scale shape: reuses text_minhash_lsh's banded candidate plan
    end-to-end (shared df-cap skew guard included); the dominance step
    is a key-partitioned join against the (doc_id, n_chars) projection
    and one max_by aggregate on the dominated key."""
    prep(spark)
    pairs = text_minhash_lsh(spark, sf_dir)
    sym = pairs.select(
        F.col("doc_a").alias("d"), F.col("doc_b").alias("e"), "jaccard"
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("d"), F.col("doc_a").alias("e"), "jaccard"
        )
    )
    q = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    dom = (
        sym.join(q.select(F.col("doc_id").alias("d"), F.col("n_chars").alias("q_d")), "d")
        .join(q.select(F.col("doc_id").alias("e"), F.col("n_chars").alias("q_e")), "e")
        .where(
            (F.col("q_e") > F.col("q_d"))
            | ((F.col("q_e") == F.col("q_d")) & (F.col("e") < F.col("d")))
        )
    )
    best = F.max_by(
        F.struct("e", "q_e", "jaccard"), F.struct(F.col("q_e"), (-F.col("e")).alias("ne"))
    ).alias("best")
    return (
        dom.groupBy("d")
        .agg(F.max("q_d").alias("q_dropped"), best)
        .select(
            F.col("d").alias("dropped_doc"),
            "q_dropped",
            F.col("best.e").alias("kept_by"),
            F.col("best.q_e").alias("q_keeper"),
            F.col("best.jaccard").alias("jaccard"),
        )
    )


@register(
    "text_lsh_bucket_audit",
    oracle=f"""
WITH {_O_BANDS},
sizes AS (SELECT band_key, COUNT(*) AS k FROM bands GROUP BY band_key)
SELECT CAST(k AS BIGINT) AS bucket_size,
       COUNT(*) AS n_buckets,
       CAST(SUM(k * (k - 1) / 2) AS BIGINT) AS pair_budget
FROM sizes
GROUP BY k
""",
    tags=("text", "dedup", "lsh", "audit", "skew", "capacity"),
)
def text_lsh_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-size histogram + candidate-pair budget: for each band
    bucket of k docs the band join will emit k(k-1)/2 candidate pairs,
    so this ONE cheap aggregate (group band keys, count, histogram) is
    the capacity plan for the dedup run — the pair budget IS the join
    output size, and a boilerplate cluster or adversarial key shows up
    here as a giant bucket BEFORE the quadratic join is paid for (the
    measured failure mode: tools/dupskew_probe.py records a single hot
    shingle driving 1.2e8 pairs into one task). Production near-dup at
    100 TB runs this audit first and routes oversized buckets to the
    df-cap/exact-dedup path; it shares `_minhash_bands` with the live
    text_minhash_lsh plan, so the audit inspects exactly the keys the
    join will shuffle, not a parallel approximation of them.

    Scale: band keys are md5s (uniform 128-bit); the audit is two
    hash aggregations, no join, output bounded by distinct bucket
    sizes."""
    prep(spark)
    # Same pre-hash repartition as text_minhash_lsh: a single parquet
    # file is one input split, which would serialize the md5 signature
    # work into one task (measured at the 25x probe: 9.1 s / 4.1x
    # without it, 2.8 s / 1.3x with it).
    par = spark.sparkContext.defaultParallelism
    sh = _shingled(table(spark, sf_dir, "documents")).repartition(par, "doc_id")
    sizes = _minhash_bands(sh).groupBy("band_key").agg(
        F.count(F.lit(1)).alias("k")
    )
    return sizes.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.col("k") * (F.col("k") - 1) / 2).cast("bigint").alias("pair_budget"),
    ).select(
        F.col("k").cast("bigint").alias("bucket_size"), "n_buckets", "pair_budget"
    )


@register(
    "text_incremental_neardup",
    oracle=f"""
WITH {_O_BANDS},
cand AS (SELECT DISTINCT n.doc_id AS new_doc, o.doc_id AS old_doc
         FROM bands n JOIN bands o ON n.band_key = o.band_key
         WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0)
SELECT c.new_doc, c.old_doc,
       ROUND(CAST(len(list_intersect(sn.shingles, so.shingles)) AS DOUBLE) /
             len(list_distinct(list_concat(sn.shingles, so.shingles))), 9) AS jaccard
FROM cand c
JOIN sh sn ON sn.doc_id = c.new_doc
JOIN sh so ON so.doc_id = c.old_doc
WHERE CAST(len(list_intersect(sn.shingles, so.shingles)) AS DOUBLE) /
      len(list_distinct(list_concat(sn.shingles, so.shingles))) >= 0.2
""",
    tags=("text", "dedup", "minhash", "lsh", "incremental"),
)
def text_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: dedup a NEW crawl increment against the
    EXISTING corpus (here: every 10th doc plays the daily batch, the
    rest the standing corpus) — the asymmetric band join a production
    pipeline runs every ingest cycle instead of re-running the full
    self-join. Same MinHash/LSH machinery as text_minhash_lsh (shared
    `_minhash_bands`), but the join is new-vs-old only: candidates are
    bounded by the increment's bucket overlap, and new-vs-new pairs are
    deferred to the increment's own (tiny) self-dedup.

    Scale: this is the shape that makes LSH dedup AFFORDABLE at 100 TB
    — the standing corpus's band keys are computed once and stored
    (bucketed by band_key, so only the increment side shuffles at
    ingest); per-day cost is O(increment), not O(corpus). Verification
    rehydrates shingle sets for candidate pairs only."""
    prep(spark)
    par = spark.sparkContext.defaultParallelism
    # Scanned and shingled once, as in text_minhash_lsh: the band
    # checkpoint and both verification sides read these blocks.
    sh = materialize_once(_shingled(table(spark, sf_dir, "documents")), "doc_id", n=par)
    bands = _minhash_bands(sh)
    # Same df-cap posture as text_minhash_lsh: bucket size is audited
    # over the FULL band relation (a boilerplate bucket is hot however
    # the corpus is split); capping the NEW side alone is
    # pair-set-equivalent (see _cap_banded — a pair needs its key on
    # both sides), and the checkpoint barrier keeps the %10 split
    # filters from pushing below the shared materialization.
    ex, safe = _cap_banded(spark, bands, "band_key")
    new_b = safe.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("new_doc"), "band_key"
    )
    old_b = ex.where(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("old_doc"), F.col("band_key").alias("bk")
    )
    cand = (
        new_b.join(old_b, new_b.band_key == old_b.bk)
        .select("new_doc", "old_doc")
        .distinct()
    )
    sn = sh.select(F.col("doc_id").alias("new_doc"), F.col("shingles").alias("sh_n"))
    so = sh.select(F.col("doc_id").alias("old_doc"), F.col("shingles").alias("sh_o"))
    jac = F.size(F.array_intersect("sh_n", "sh_o")).cast("double") / F.size(
        F.array_union("sh_n", "sh_o")
    )
    return (
        cand.join(sn, "new_doc")
        .join(so, "old_doc")
        .where(jac >= 0.2)
        .select("new_doc", "old_doc", F.round(jac, 9).alias("jaccard"))
    )


@register(
    "text_ngram_novelty",
    oracle=f"""
WITH {_O_SHINGLES},
grams AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
first_seen AS (SELECT s, MIN(doc_id) AS keeper FROM grams GROUP BY s),
novel AS (SELECT keeper, COUNT(*) AS n_novel FROM first_seen GROUP BY keeper),
perdoc AS (
  SELECT d.source, len(sh.shingles) AS n_sh, COALESCE(nv.n_novel, 0) AS n_novel
  FROM sh
  JOIN documents d ON d.doc_id = sh.doc_id
  LEFT JOIN novel nv ON nv.keeper = sh.doc_id
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
       CAST(SUM(n_novel) AS BIGINT) AS n_first_seen,
       ROUND(CAST(SUM(n_novel) AS DOUBLE) / NULLIF(SUM(n_sh), 0), 6)
         AS novelty_rate
FROM perdoc
GROUP BY source
""",
    tags=("text", "curation", "novelty", "ngram", "dedup"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seer novelty scoring: the fraction of a doc's distinct
    shingles never seen in any earlier doc (by doc_id order), rolled up
    per source — the 'new information rate' a curation pipeline uses to
    down-weight sources that mostly restate the existing corpus (the
    incremental-crawl dual of dedup: dedup asks 'is this a copy?',
    novelty asks 'how much of this is new?'). Exact integers throughout;
    the per-source rate divides ONCE from exact sums, so no
    cross-partition double-summation order can enter the hash.

    Scale: one corpus-sized shingle explode, one shuffle keyed by
    shingle (min-doc per shingle = the same partial-aggregate shape as
    decontamination's leakage join), then a doc-count-sized attribution:
    novelty is credited via groupBy(keeper) — NO join back to the
    corpus-sized gram relation. A skewed shingle (boilerplate) costs one
    combiner cell here, not a quadratic bucket."""
    prep(spark)
    docs = table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    # Pre-shingle repartition (one parquet file = one input split would
    # serialize the explode) + dual seeded xxhash64 gram keys — the
    # text_dup_spans/text_decontaminate discipline: 128-bit effective,
    # collision-free in the exact-dedup sense, no shingle string ever
    # shuffled (the oracle keeps literal strings, proving hash equality
    # IS string equality on this output). Measured at the 25x probe:
    # 25.9 s serialized-string spelling -> 3.6 s here (the remainder is
    # the corpus-sized gram shuffle — the same scan/shuffle class as
    # pmi/decontaminate).
    sh = _shingled(docs).repartition(par, "doc_id")
    grams = sh.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(shingles, s -> "
                "named_struct('h1', xxhash64(s), 'h2', xxhash64(9L, s)))"
            )
        ).alias("g"),
    )
    # Bare groupBy, DELIBERATELY: the map-side partial min IS the
    # per-partition distinct-shingle pre-aggregation — 3-word shingles
    # repeat heavily inside a partition (common trigrams), so the
    # partial agg collapses repeats before the shuffle. The
    # repartition-then-complete-agg idiom (waiting_suppliers' pair
    # reduction) was tried in round 8 and measured SLOWER at 25x
    # (4.2-5.6x vs 3.56x): it ships every gram occurrence into the
    # exchange. Partial aggregation pays off exactly when keys repeat
    # within partitions — which unsalted natural-language shingles do.
    novel = (
        grams.groupBy("g.h1", "g.h2")
        .agg(F.min("doc_id").alias("keeper"))
        .groupBy("keeper")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    perdoc = (
        sh.select("doc_id", F.size("shingles").alias("n_sh"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .join(novel, F.col("doc_id") == F.col("keeper"), "left")
        .select("source", "n_sh", F.coalesce("n_novel", F.lit(0)).alias("n_novel"))
    )
    return perdoc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_sh").cast("bigint").alias("n_shingles"),
        F.sum("n_novel").cast("bigint").alias("n_first_seen"),
        F.round(
            F.sum("n_novel").cast("double")
            / F.nullif(F.sum("n_sh"), F.lit(0)),
            6,
        ).alias("novelty_rate"),
    )


@register(
    "text_token_stats",
    oracle="""
WITH w AS (SELECT doc_id, lang, source, string_split(text, ' ') AS words FROM documents)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(words)) AS BIGINT) AS total_tokens,
       CAST(MIN(len(words)) AS BIGINT) AS min_tokens,
       CAST(MAX(len(words)) AS BIGINT) AS max_tokens,
       ROUND(CAST(SUM(CAST(list_sum(list_transform(words, t -> length(t))) AS BIGINT)) AS DOUBLE)
             / SUM(len(words)), 9) AS avg_token_len
FROM w
GROUP BY lang, source
""",
    tags=("text", "stats"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + length stats per (lang, source) — whitespace
    tokenizer entirely in JVM expressions (sum/min/max of array sizes)."""
    prep(spark)
    w = _words(table(spark, sf_dir, "documents"))
    tok_chars = F.aggregate("words", F.lit(0).cast("bigint"), lambda a, t: a + F.length(t))
    return w.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("words")).cast("bigint").alias("total_tokens"),
        F.min(F.size("words")).cast("bigint").alias("min_tokens"),
        F.max(F.size("words")).cast("bigint").alias("max_tokens"),
        F.round(
            F.sum(tok_chars).cast("double") / F.sum(F.size("words")), 9
        ).alias("avg_token_len"),
    )


_STOPWORDS = ("the", "a", "of", "and", "to")


@register(
    "text_quality_score",
    oracle=f"""
WITH w AS (SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM documents)
SELECT doc_id,
       CAST(len(words) AS INT) AS n_tokens,
       ROUND(CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 9) AS uniq_ratio,
       ROUND(CAST(len(list_filter(words, t -> list_contains({list(_STOPWORDS)!r}, t))) AS DOUBLE)
             / len(words), 9) AS stopword_ratio,
       ROUND(CAST(n_chars AS DOUBLE) / len(words), 9) AS chars_per_token,
       ROUND(0.4 * (CAST(len(list_distinct(words)) AS DOUBLE) / len(words))
           + 0.3 * LEAST(CAST(len(words) AS DOUBLE) / 100, 1.0)
           + 0.3 * LEAST(CAST(len(list_filter(words, t -> list_contains({list(_STOPWORDS)!r}, t))) AS DOUBLE)
                         / len(words) * 10, 1.0), 9) AS quality
FROM w
WHERE len(words) > 0
""",
    tags=("text", "quality"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: unique-token ratio, stopword ratio, length
    saturation — the standard cheap pre-filter before expensive dedup."""
    prep(spark)
    w = table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.split("text", " ").alias("words")
    ).where(F.size("words") > 0)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    uniq_ratio = F.size(F.array_distinct("words")).cast("double") / F.size("words")
    stop_ratio = F.size(
        F.filter("words", lambda t: F.array_contains(stop_arr, t))
    ).cast("double") / F.size("words")
    return w.select(
        "doc_id",
        F.size("words").alias("n_tokens"),
        F.round(uniq_ratio, 9).alias("uniq_ratio"),
        F.round(stop_ratio, 9).alias("stopword_ratio"),
        F.round(F.col("n_chars").cast("double") / F.size("words"), 9).alias("chars_per_token"),
        F.round(
            0.4 * uniq_ratio
            + 0.3 * F.least(F.size("words").cast("double") / 100, F.lit(1.0))
            + 0.3 * F.least(stop_ratio * 10, F.lit(1.0)),
            9,
        ).alias("quality"),
    )


@register(
    "text_langid_heuristic",
    oracle=f"""
WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents)
SELECT doc_id, lang AS labeled_lang,
       ROUND(CAST(len(list_filter(words, t -> list_contains({list(_STOPWORDS)!r}, t))) AS DOUBLE)
             / len(words), 9) AS en_score,
       CASE WHEN CAST(len(list_filter(words, t -> list_contains({list(_STOPWORDS)!r}, t))) AS DOUBLE)
                 / len(words) >= 0.05 THEN 'en' ELSE 'und' END AS predicted_lang
FROM w
WHERE len(words) > 0
""",
    tags=("text", "langid"),
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID (n-gram-heuristic family): score = density
    of English function words; >= 5% => 'en'. (The synthetic corpus is
    English word-soup under every label, so the labeled lang is carried
    through for accuracy analysis rather than asserted.)"""
    prep(spark)
    w = _words(table(spark, sf_dir, "documents")).where(F.size("words") > 0)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    en_score = F.size(
        F.filter("words", lambda t: F.array_contains(stop_arr, t))
    ).cast("double") / F.size("words")
    return w.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.round(en_score, 9).alias("en_score"),
        F.when(en_score >= 0.05, "en").otherwise("und").alias("predicted_lang"),
    )


@register(
    "text_fingerprint_5gram",
    oracle="""
SELECT doc_id,
       CAST(length(text) - 4 AS INT) AS n_grams,
       list_min(list_transform(generate_series(1, length(text)-4),
                               i -> md5(text[i:i+4]))) AS fp_min,
       list_max(list_transform(generate_series(1, length(text)-4),
                               i -> md5(text[i:i+4]))) AS fp_max
FROM documents
WHERE length(text) >= 5
""",
    tags=("text", "fingerprint"),
)
def text_fingerprint_5gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram document fingerprint (winnowing family): min/max
    md5 over all overlapping 5-grams — rolling-hash sketch, JVM-only."""
    prep(spark)
    d = table(spark, sf_dir, "documents").where(F.length("text") >= 5)
    # SQL lambda (not the python DSL): substring's start must be a Column.
    grams = F.expr(
        "transform(sequence(1, length(text)-4), i -> md5(cast(substr(text, i, 5) as binary)))"
    )
    return d.select(
        "doc_id",
        (F.length("text") - 4).alias("n_grams"),
        F.array_min(grams).alias("fp_min"),
        F.array_max(grams).alias("fp_max"),
    )


_SIMHASH_SCHEMA = "doc_id bigint, simhash_hex string, n_tokens int"


def _simhash_batch(pdf_iter):
    """64-bit SimHash over whitespace tokens, vectorized per Arrow batch.

    Token hash = first 8 bytes of md5 (portable, seedless); fingerprint
    bit i = sign of the sum of (+1/-1) votes from each token's bit i.

    Hot-path shape: md5 is computed once per DISTINCT token per batch
    (natural-language vocabularies are far smaller than token counts),
    and the per-doc vote matrix is one numpy broadcast over all of the
    doc's token hashes — no per-token Python arithmetic.
    """
    import hashlib

    import numpy as np

    shifts = np.arange(64, dtype=np.uint64)
    for pdf in pdf_iter:
        hash_cache: dict[str, int] = {}
        out = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            tokens = text.split(" ") if text else []
            if not tokens:
                out.append((doc_id, "0" * 16, 0))
                continue
            for t in tokens:
                if t not in hash_cache:
                    hash_cache[t] = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
            hs = np.array([hash_cache[t] for t in tokens], dtype=np.uint64)
            bits = (hs[:, None] >> shifts[None, :]) & np.uint64(1)  # (n_tokens, 64)
            votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            fp = int(((votes > 0).astype(np.uint64) << shifts).sum())
            out.append((doc_id, f"{fp:016x}", len(tokens)))
        yield pd.DataFrame(out, columns=["doc_id", "simhash_hex", "n_tokens"])


@register(
    "text_simhash",
    # DuckDB replays the exact bit-twiddling: token hash = first 16 hex
    # chars of md5 as UBIGINT (== first 8 digest bytes big-endian), ±1
    # votes per bit over a 0..63 series, fingerprint = sum of winning
    # bits. Domain: docs whose tokenizer yields >= 1 token — text <> ''
    # filters both '' (DuckDB string_split('') is [''], one phantom
    # token, where the UDF sees zero) and NULL (<> is NULL -> dropped,
    # matching the UDF-side explicit filter); a zero-token doc has no
    # fingerprint. The UDF's empty-doc branch stays as a safety net.
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  WHERE text <> ''
),
th AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h FROM toks
),
votes AS (
  SELECT doc_id, i, SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th, generate_series(0, 63) AS g(i)
  GROUP BY doc_id, i
),
fp AS (
  SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS UBIGINT) << CAST(i AS INT))
                               ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS f
  FROM votes GROUP BY doc_id
)
SELECT fp.doc_id AS doc_id, lpad(lower(hex(f)), 16, '0') AS simhash_hex,
       CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens
FROM fp JOIN documents d ON fp.doc_id = d.doc_id
""",
    tags=("text", "simhash", "udf"),
    bench=True,
)
def text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints via mapInPandas (Arrow-batched; the one text
    operator where 64-bit integer bit ops beat SQL expressions).

    Domain: docs with >= 1 whitespace token — NULL/'' text is filtered
    on BOTH engines (the oracle's string_split('') yields a phantom ''
    token where the UDF sees zero; excluding zero-token docs outright is
    the only spelling the two engines agree on)."""
    prep(spark)
    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.col("text") != ""))
        .select("doc_id", "text")
    )
    return docs.mapInPandas(_simhash_batch, schema=_SIMHASH_SCHEMA)


@register(
    "text_bpe_tokens",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT) AS n_bpe_tokens,
       CAST(len(list_distinct(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS INT) AS n_unique,
       array_to_string(list_sort(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))[1:3], ' ') AS sample
FROM documents
WHERE doc_id <= 200
""",
    tags=("text", "tokenize"),
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenizer (letter runs | digit runs | single
    punctuation — the GPT-2 pre-tokenizer shape) with counts, entirely
    JVM-side via regexp_extract_all."""
    prep(spark)
    # F.regexp_extract_all with a Column pattern — routing the regex
    # through F.expr would subject `\s` to SQL string-literal unescaping.
    pat = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"
    toks = F.regexp_extract_all("text", F.lit(pat), 0)
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") <= 200)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.array_join(F.slice(F.array_sort(toks), 1, 3), " ").alias("sample"),
    )


@register(
    "text_ngram_jaccard",
    oracle=f"""
WITH {_O_SHINGLES}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
             len(list_distinct(list_concat(a.shingles, b.shingles))), 9) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE a.doc_id < 60 AND b.doc_id < 60
  AND len(list_intersect(a.shingles, b.shingles)) > 0
""",
    tags=("text", "dedup", "ngram"),
)
def text_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive pairwise n-gram (3-word shingle) Jaccard on a bounded
    slice — the exact ground truth the LSH path approximates (kept
    intentionally small: this is the O(n^2) shape LSH exists to avoid)."""
    prep(spark)
    sh = _shingled(table(spark, sf_dir, "documents").where(F.col("doc_id") < 60))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    pairs = sh.crossJoin(b).where(F.col("doc_id") < F.col("doc_b"))
    inter = F.size(F.array_intersect("shingles", "sh_b"))
    jac = inter.cast("double") / F.size(F.array_union("shingles", "sh_b"))
    return pairs.where(inter > 0).select(
        F.col("doc_id").alias("doc_a"), "doc_b", F.round(jac, 9).alias("jaccard")
    )


@register(
    "text_train_test_split",
    oracle="""
WITH h AS (
  SELECT doc_id, lang, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM h GROUP BY 1, 2
""",
    tags=("text", "pipeline", "sampling"),
)
def text_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/valid/test split by content-independent
    key hash (first 4 md5 bytes of doc_id, mod 100) — the reproducible,
    engine-portable way to split a training corpus.

    Scale: the split is a pure projection (no shuffle, no sampling state,
    no RNG); any engine or a later rerun assigns every document to the
    same split, which is what makes held-out contamination checks valid.
    """
    prep(spark)
    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test")
    )
    return docs.groupBy(split.alias("split"), "lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


_PACK_RANGE = 1000  # docs per packing range (bounds each window's sort)


@register(
    "text_pack_sequences",
    oracle=f"""
WITH t AS (
  SELECT doc_id, doc_id // {_PACK_RANGE} AS range_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, range_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY range_id ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT CAST(range_id AS BIGINT) AS range_id,
       CAST((cum - n_tokens) // 512 AS BIGINT) AS local_bin,
       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM c GROUP BY 1, 2
""",
    tags=("text", "pipeline", "window"),
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: documents in deterministic
    doc_id order are packed into ~512-token bins by running token count
    (bin = cumulative tokens before the doc, integer-divided by 512),
    range-partitioned so no global sort exists anywhere in the plan.

    Scale: packing runs per doc_id range of {_PACK_RANGE} documents —
    pack identity is (range_id, local_bin), the window partitions on
    range_id, and every range sorts independently (bounded memory,
    arbitrary parallelism). The cost vs a global pack is only that each
    range may end with one partially-filled bin, which is how production
    packers trade a global bottleneck for a <0.2% token-padding overhead.
    """
    prep(spark)
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"doc_id div {_PACK_RANGE}").alias("range_id"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("range_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = docs.select(
        "doc_id",
        "range_id",
        "n_tokens",
        ((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512).cast("bigint").alias("local_bin"),
    )
    return packed.groupBy("range_id", "local_bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_BM25_QUERIES = (
    ("q_join", ("join", "hash")),
    ("q_cust", ("customer", "window", "spark")),
    ("q_vec", ("vector", "stream")),
)
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle() -> str:
    vals = ", ".join(
        f"('{qid}', '{t}')" for qid, terms in _BM25_QUERIES for t in terms
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), t -> lower(t))) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
q(qid, term) AS (VALUES {vals}),
scored AS (
  SELECT q.qid, tf.doc_id,
         SUM(ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf * ({_BM25_K1} + 1)
             / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
         ) AS score
  FROM q
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN stats
  GROUP BY q.qid, tf.doc_id
),
ranked AS (
  SELECT qid, doc_id, ROUND(score, 6) AS score,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ROUND(score, 6) DESC, doc_id) AS rnk
  FROM scored
)
SELECT qid, CAST(rnk AS INT) AS rnk, doc_id, score
FROM ranked WHERE rnk <= 5
"""


@register(
    "text_bm25_search",
    oracle=_bm25_oracle(),
    tags=("text", "search", "bm25", "ranking"),
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text ranking (k1=1.2, b=0.75): top-5 documents per
    query from an inverted-index join — the relational decomposition of
    a search engine's scorer.

    Shape: postings = explode(tokens) -> (doc, term, tf) — ONE shuffle
    on (doc_id, term); document lengths reuse the same exploded pass;
    per-term document frequencies are a tiny aggregate broadcast to the
    probe; the query list is a literal broadcast. Scoring touches only
    postings matching query terms (index semantics, not a corpus scan):
    at 100 TB the postings table is the big artifact, partitioned by
    term, and each query reads only its terms' slices. Scores are
    rounded to 1e-6 on both engines before ranking; doc_id breaks ties.
    """
    prep(spark)
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.transform(F.regexp_extract_all("text", F.lit("[A-Za-z0-9]+"), 0), F.lower)
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # Doc length = SIZE of the token array — computed MAP-ONLY from the
    # raw docs (one extra codegen'd scan, zero shuffle), not by
    # re-aggregating the corpus-sized tf relation by doc_id: scans are
    # cheap, exchanges are not. Restricted to dl > 0: the oracle derives
    # dl from tf, whose domain is docs with >=1 token, so a zero-token
    # (or NULL-text, where F.size yields -1) document must not shift
    # n_docs/avgdl — scoring only ever touches docs with postings anyway.
    dl = docs.select(
        "doc_id",
        F.size(
            F.transform(F.regexp_extract_all("text", F.lit("[A-Za-z0-9]+"), 0), F.lower)
        ).cast("long").alias("dl"),
    ).where(F.col("dl") > 0)
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    q = spark.createDataFrame(
        [(qid, t) for qid, terms in _BM25_QUERIES for t in terms],
        "qid string, term string",
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    w = (
        idf
        * F.col("tf")
        * (_BM25_K1 + 1)
        / (
            F.col("tf")
            + _BM25_K1
            * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    from pyspark.sql import Window

    scored = (
        tf.join(F.broadcast(q), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum(w), 6).alias("score"))
    )
    rnk = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("doc_id"))
    )
    return (
        scored.withColumn("rnk", rnk)
        .where(F.col("rnk") <= 5)
        .select("qid", "rnk", "doc_id", "score")
    )


@register(
    "text_weighted_sample",
    oracle="""
WITH keyed AS (
  SELECT lang, doc_id, n_chars,
         ROUND(POWER(
           (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) + 0.5)
             / 4294967296.0,
           1.0 / n_chars), 9) AS es_key
  FROM documents
  WHERE n_chars > 0
),
ranked AS (
  SELECT lang, doc_id, n_chars, es_key,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id) AS rnk
  FROM keyed
)
SELECT lang, CAST(rnk AS INT) AS rnk, doc_id, n_chars, es_key
FROM ranked WHERE rnk <= 5
""",
    tags=("text", "pipeline", "sampling", "weighted"),
)
def text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement per stratum
    (Efraimidis-Spirakis A-ES): each document draws a deterministic
    uniform u from its id's md5, and the top-5 per language by
    u^(1/weight) is a weight-proportional sample without replacement
    (here weight = n_chars: longer documents sampled preferentially,
    the token-budget-aware corpus subsampling move).

    Scale: A-ES is THE distributed weighted-sampling algorithm — the
    key is computed row-local (no global state, no sequential RNG), and
    top-k-per-stratum is one partial top-k per partition + one merge,
    so a 100 TB corpus samples in a single pass. Determinism: u comes
    from md5(doc_id), not an RNG, so any engine (and any rerun)
    draws the same sample; keys are rounded to 1e-9 with a doc_id
    tie-break before ranking (pow is not correctly-rounded IEEE in
    either engine).

    Domain guard: A-ES weights must be POSITIVE — 1/n_chars on a
    zero-length document is an ANSI DIVIDE_BY_ZERO job-killer (and a
    weight-0 doc is unsampleable by definition), so both engines
    restrict to n_chars > 0 explicitly."""
    prep(spark)
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("double")
    u = (h + 0.5) / float(1 << 32)
    es_key = F.round(F.pow(u, F.lit(1.0) / F.col("n_chars")), 9)
    rnk = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.col("es_key").desc(), F.col("doc_id"))
    )
    return (
        docs.select("lang", "doc_id", "n_chars", es_key.alias("es_key"))
        .withColumn("rnk", rnk)
        .where(F.col("rnk") <= 5)
        .select("lang", "rnk", "doc_id", "n_chars", "es_key")
    )


@register(
    "text_vocab_coverage",
    oracle="""
WITH toks AS (
  SELECT unnest(list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), t -> lower(t))) AS term
  FROM documents
),
freq AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
tot AS (SELECT SUM(n) AS total FROM freq),
ranked AS (
  SELECT term, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rnk,
         SUM(n) OVER (ORDER BY n DESC, term
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
  FROM freq
)
SELECT CAST(rnk AS INT) AS rnk, term, n,
       ROUND(CAST(cum_n AS DOUBLE) / tot.total, 6) AS coverage
FROM ranked CROSS JOIN tot
WHERE rnk <= 20
""",
    tags=("text", "tokenize", "vocab"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction with coverage accounting: the top-20
    corpus terms by frequency, each with the CUMULATIVE share of all
    token occurrences the vocabulary covers up to that rank — the
    curve a tokenizer builder reads to size its vocab (and 1 - final
    coverage is the OOV rate a that cutoff).

    Shape: explode -> term hash-agg (one corpus shuffle, map-side
    combined), then ranking and a running-sum frame over the
    |vocab|-sized aggregate only. Ordering ties break by term so the
    rank sequence is total and cross-engine stable."""
    prep(spark)
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.transform(F.regexp_extract_all("text", F.lit("[A-Za-z0-9]+"), 0), F.lower)
        ).alias("term")
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    tot = freq.agg(F.sum("n").alias("total"))
    w = Window.partitionBy(F.col("n") * 0).orderBy(F.col("n").desc(), "term")
    ranked = freq.select(
        "term",
        "n",
        F.row_number().over(w).alias("rnk"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_n"),
    )
    return (
        ranked.where(F.col("rnk") <= 20)
        .crossJoin(F.broadcast(tot))
        .select(
            "rnk",
            "term",
            "n",
            F.round(F.col("cum_n").cast("double") / F.col("total"), 6).alias(
                "coverage"
            ),
        )
    )


@register(
    "text_decontaminate",
    bench=True,
    oracle="""
WITH split AS (
  SELECT doc_id, text,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 < 90
              THEN 'train' ELSE 'eval' END AS split
  FROM documents
),
words AS (
  SELECT doc_id, split, list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), t -> lower(t)) AS ws
  FROM split
),
shingles AS (
  SELECT doc_id, split,
         array_to_string(ws[i:i+7], ' ') AS shingle
  FROM words, unnest(generate_series(1, len(ws) - 7)) AS t(i)
),
hits AS (
  SELECT DISTINCT e.doc_id AS eval_doc, t.doc_id AS train_doc, e.shingle
  FROM (SELECT DISTINCT doc_id, shingle FROM shingles WHERE split = 'eval') e
  JOIN (SELECT DISTINCT doc_id, shingle FROM shingles WHERE split = 'train') t
    ON e.shingle = t.shingle
)
SELECT eval_doc,
       COUNT(DISTINCT shingle) AS n_shared_shingles,
       COUNT(DISTINCT train_doc) AS n_train_docs,
       CAST(MIN(train_doc) AS BIGINT) AS first_train_doc
FROM hits
GROUP BY eval_doc
""",
    tags=("text", "dedup", "decontamination", "pipeline"),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: which held-out documents share
    verbatim 8-gram shingles with any training document — the standard
    benchmark-leakage screen (eval examples that appear in the training
    corpus poison the metric). Splits are the same deterministic
    md5(doc_id) buckets as text_train_test_split (90/10 here).

    Shape: one corpus pass builds (split, doc, shingle-key); the
    contamination check is an equi-join ON THE KEY between the two
    split slices — banded exactly like LSH, never doc x doc. The key is
    a PAIR of seeded xxhash64s over the 8-token array slice (the same
    dual-native-hash discipline as text_dup_spans: 128-bit effective —
    collision-free in the exact-dedup sense — with NO shingle string
    ever materialized). Local parity with the string spelling (~5.5 s
    both ways at 25x — the local bottleneck is shuffle ROW machinery,
    not bytes); the win is the 3x key-byte cut through a network-bound
    cluster shuffle, which this query pays three times (the distinct
    plus both join sides). A posting-list/collect_set spelling was
    measured WORSE (7.4 s: object-hash agg state beats no codegen), so
    the distinct+join stands. The train side is
    the big relation the eval side shuffles against (or broadcast, eval
    sets being small by construction). Output is per-eval-doc evidence:
    how many distinct shingles leaked and from how many train docs —
    the DuckDB oracle keeps literal shingle strings, proving hash
    equality IS string equality on this output."""
    prep(spark)
    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = docs.select(
        "doc_id",
        F.when(bucket < 90, "train").otherwise("eval").alias("split"),
        F.transform(F.regexp_extract_all("text", F.lit("[A-Za-z0-9]+"), 0), F.lower).alias("ws"),
    )
    # size >= 8 guard: a shorter document has no 8-gram, and
    # sequence(1, size - 7) with size < 8 runs DESCENDING through 0
    # where slice(ws, 0, 8) throws (latent until a corpus carries short
    # docs — the same regen-proofing class as BM25's dl > 0 filter).
    sh = split.where(F.size("ws") >= 8).select(
        "doc_id",
        "split",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 7), "
                "i -> named_struct("
                "'h1', xxhash64(slice(ws, i, 8)), "
                "'h2', xxhash64(9L, slice(ws, i, 8))))"
            )
        ).alias("g"),
    ).select("doc_id", "split", "g.h1", "g.h2").distinct()
    ev = sh.where(F.col("split") == "eval").select(
        F.col("doc_id").alias("eval_doc"), "h1", "h2"
    )
    tr = sh.where(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "h1", "h2"
    )
    hits = ev.join(tr, ["h1", "h2"])
    return hits.groupBy("eval_doc").agg(
        F.countDistinct("h1", "h2").alias("n_shared_shingles"),
        F.countDistinct("train_doc").alias("n_train_docs"),
        F.min("train_doc").cast("bigint").alias("first_train_doc"),
    )


_FH_DIMS = 16


@register(
    "text_feature_hashing",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), t -> lower(t))) AS term
  FROM documents WHERE doc_id < 50
),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(term), 1, 8)) AS UBIGINT) % {_FH_DIMS} AS dim,
         CASE WHEN CAST(('0x' || substr(md5(term), 9, 1)) AS UBIGINT) % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM toks
)
SELECT doc_id, CAST(dim AS INT) AS dim, CAST(SUM(sgn) AS BIGINT) AS weight
FROM hashed
GROUP BY doc_id, dim
HAVING SUM(sgn) <> 0
""",
    tags=("text", "vectorize", "feature-hashing"),
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick): vocabulary-free
    vectorization of documents into a fixed 16-dim signed term-count
    space — dim = md5(term) mod D, sign from a second hash bit so
    collisions cancel in expectation (Weinberger et al.'s signed
    variant). Output is the sparse long form (doc, dim, weight).

    Why it matters at 100 TB: no vocabulary build pass, no broadcast
    dictionary, no OOV — every worker maps tokens to dimensions
    row-locally, so vectorization is a single stateless projection +
    one (doc, dim) aggregation. Deterministic md5 keeps both engines
    hash-exact (the same property the CMS sketch exploits)."""
    prep(spark)
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    term = F.explode(
        F.transform(F.regexp_extract_all("text", F.lit("[A-Za-z0-9]+"), 0), F.lower)
    ).alias("term")
    toks = docs.select("doc_id", term)
    h = F.md5("term")
    dim = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % _FH_DIMS).cast("int")
    sgn = F.when(
        F.conv(F.substring(h, 9, 1), 16, 10).cast("long") % 2 == 0, 1
    ).otherwise(-1)
    return (
        toks.select("doc_id", dim.alias("dim"), sgn.alias("sgn"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("sgn").alias("weight"))
        .where(F.col("weight") != 0)
    )


@register(
    "text_containment",
    oracle=f"""
WITH {_O_SHINGLES}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS n_shared,
       ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
             len(a.shingles), 9) AS contain_a_in_b,
       ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
             len(b.shingles), 9) AS contain_b_in_a
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE a.doc_id < 60 AND b.doc_id < 60
  AND len(list_intersect(a.shingles, b.shingles)) > 0
  AND len(a.shingles) > 0 AND len(b.shingles) > 0
""",
    tags=("text", "dedup", "containment"),
)
def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment |A∩B|/|A| (and the reverse) — the
    metric that catches SUBSET duplication Jaccard misses: a short
    document quoted inside a long one scores near-zero Jaccard but
    containment ~1, which is why decontamination standards
    (benchmark-in-training detection) key on containment, not symmetric
    similarity.

    Same bounded ground-truth shape as text_ngram_jaccard (the O(n^2)
    pairs the banded LSH path exists to avoid); at corpus scale the
    candidate pairs come from text_decontaminate's shingle equi-join
    and containment is computed on candidates only."""
    prep(spark)
    sh = _shingled(
        table(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    ).where(F.size("shingles") > 0)
    b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    pairs = sh.crossJoin(b).where(F.col("doc_id") < F.col("doc_b"))
    inter = F.size(F.array_intersect("shingles", "sh_b"))
    return pairs.where(inter > 0).select(
        F.col("doc_id").alias("doc_a"),
        "doc_b",
        inter.cast("bigint").alias("n_shared"),
        F.round(inter.cast("double") / F.size("shingles"), 9).alias(
            "contain_a_in_b"
        ),
        F.round(inter.cast("double") / F.size("sh_b"), 9).alias(
            "contain_b_in_a"
        ),
    )


@register(
    "text_chunk_overlap",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents WHERE len(string_split(text, ' ')) > 0
),
s AS (
  SELECT doc_id, words,
         unnest(generate_series(0, len(words) - 1, 30)) AS start
  FROM w
)
SELECT doc_id,
       CAST(start / 30 AS INT) AS chunk_idx,
       CAST(start AS INT) AS start_token,
       CAST(LEAST(40, len(words) - start) AS INT) AS n_chunk_tokens,
       md5(array_to_string(list_slice(words, start + 1, start + 40), ' ')) AS chunk_md5
FROM s
""",
    tags=("text", "chunking", "pipeline"),
    bench=True,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking with overlap (window=40 tokens,
    stride=30): the step between a cleaned corpus and a context-length-
    bounded training set — every LLM data pipeline chunks long documents
    into model-window pieces, overlapping so no boundary-spanning span is
    lost. Each chunk is identified by (doc_id, chunk_idx) and carried as
    an md5 over its joined tokens so downstream exact-dedup can run at
    the chunk grain (duplicated boilerplate chunks inside otherwise
    unique documents are the common real-world case).

    Plan shape: one narrow projection builds the token array, a
    ``sequence`` of chunk starts is posexploded, and ``slice`` cuts each
    window — all JVM higher-order expressions, no Python, no shuffle at
    all (chunking is embarrassingly row-local, which is exactly why it
    belongs before any keyed stage at 100 TB)."""
    prep(spark)
    w = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("words"))
        .where(F.size("words") > 0)
    )
    s = w.select(
        "doc_id",
        "words",
        F.posexplode(F.sequence(F.lit(0), F.size("words") - 1, F.lit(30))).alias(
            "chunk_idx", "start"
        ),
    )
    return s.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("start").cast("int").alias("start_token"),
        F.least(F.lit(40), F.size("words") - F.col("start"))
        .cast("int")
        .alias("n_chunk_tokens"),
        F.md5(
            F.array_join(F.slice("words", F.col("start") + 1, F.lit(40)), " ")
        ).alias("chunk_md5"),
    )


@register(
    "text_repetition_signals",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents WHERE len(string_split(text, ' ')) >= 3
),
tok AS (
  SELECT doc_id, unnest(words) AS token FROM w
),
tok_top AS (
  SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_tok FROM (
    SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token
  ) GROUP BY doc_id
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(words) - 1),
                               i -> words[i] || ' ' || words[i + 1])) AS bigram
  FROM w
),
bg_stats AS (
  SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_bg,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ
  FROM (
    SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram
  ) GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n_tok AS INT) AS n_tokens,
       ROUND(CAST(t.top_c AS DOUBLE) / t.n_tok, 9) AS top_token_frac,
       ROUND(CAST(b.top_c AS DOUBLE) / b.n_bg, 9) AS top_bigram_frac,
       ROUND(CAST(b.dup_occ AS DOUBLE) / b.n_bg, 9) AS dup_bigram_frac
FROM tok_top t JOIN bg_stats b USING (doc_id)
""",
    tags=("text", "quality", "repetition", "pipeline"),
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition screening: fraction of the document taken
    by its single most frequent token, by its most frequent bigram, and
    by bigrams that occur more than once — the published heuristics
    (Rae et al. 2021, table A1) that catch boilerplate/spam documents
    whose token-level stats otherwise look normal. Documents scoring
    high on any of these get dropped before expensive near-dup stages.

    Plan shape — fully row-local, ZERO shuffle: per-doc n-gram counting
    never needs the cluster-wide explode->groupBy it is usually written
    as (that version measured 5.5 s / 9.9x DuckDB at 25x; this one
    2.3 s / 4.9x — the residual is per-element HOF struct evaluation,
    not shuffle). Each doc's token and bigram arrays are
    array_sort-ed and a run-length ``aggregate`` HOF extracts the max
    run (= top n-gram count) and the duplicated-occurrence total in one
    pass. At 100 TB this is the difference between a free column and
    two extra corpus-wide shuffles."""
    prep(spark)

    def run_stats(arr):
        """(max run length, sum of run lengths > 1) over a sorted array."""
        acc0 = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("cur"),
            F.lit(0).alias("mx"),
            F.lit(0).alias("dup"),
        )

        def merge(acc, x):
            same = acc.prev.isNotNull() & (x == acc.prev)
            closed_mx = F.greatest(acc.mx, acc.cur)
            closed_dup = acc.dup + F.when(acc.cur > 1, acc.cur).otherwise(0)
            return F.struct(
                x.alias("prev"),
                F.when(same, acc.cur + 1).otherwise(F.lit(1)).alias("cur"),
                F.when(same, acc.mx).otherwise(closed_mx).alias("mx"),
                F.when(same, acc.dup).otherwise(closed_dup).alias("dup"),
            )

        def finish(acc):
            return F.struct(
                F.greatest(acc.mx, acc.cur).alias("mx"),
                (acc.dup + F.when(acc.cur > 1, acc.cur).otherwise(0)).alias(
                    "dup"
                ),
            )

        return F.aggregate(arr, acc0, merge, finish)

    w = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("words"))
        .where(F.size("words") >= 3)
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("words") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("words", i), F.element_at("words", i + 1)
        ),
    )
    stats = w.select(
        "doc_id",
        F.size("words").alias("n_tok"),
        run_stats(F.array_sort("words")).alias("t"),
        (F.size("words") - 1).alias("n_bg"),
        run_stats(F.array_sort(bigrams)).alias("b"),
    )
    return stats.select(
        "doc_id",
        F.col("n_tok").cast("int").alias("n_tokens"),
        F.round(F.col("t.mx").cast("double") / F.col("n_tok"), 9).alias(
            "top_token_frac"
        ),
        F.round(F.col("b.mx").cast("double") / F.col("n_bg"), 9).alias(
            "top_bigram_frac"
        ),
        F.round(F.col("b.dup").cast("double") / F.col("n_bg"), 9).alias(
            "dup_bigram_frac"
        ),
    )


@register(
    "text_zipf_fit",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
freq AS (SELECT token, COUNT(*) AS c FROM tok WHERE token <> '' GROUP BY token),
ranked AS (
  SELECT token, c,
         row_number() OVER (ORDER BY c DESC, token) AS rnk
  FROM freq
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       ROUND(regr_slope(ln(c), ln(rnk)), 6) AS zipf_slope,
       ROUND(regr_intercept(ln(c), ln(rnk)), 6) AS zipf_intercept,
       ROUND(regr_r2(ln(c), ln(rnk)), 6) AS r2
FROM ranked WHERE rnk <= 100
""",
    tags=("text", "corpus-stats", "zipf"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution: OLS slope of
    ln(freq) on ln(rank) for the top-100 terms — natural text sits near
    slope -1; machine-generated or template-heavy corpora flatten or
    steepen it, making this a one-number corpus-health check next to
    the per-document repetition screens.

    One explode -> one token count (map-side partial) -> top-100 by a
    TakeOrderedAndProject-sized cut -> regression aggregates over 100
    points. The regr_* builtins differ in accumulation order across
    engines; 100 points at 1e-6 rounding absorbs that."""
    prep(spark)
    from pyspark.sql import Window

    tok = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    top = freq.orderBy(F.desc("c"), "token").limit(100)
    w = Window.partitionBy(F.col("c") % 1).orderBy(F.desc("c"), "token")
    ranked = top.select(
        "token", "c", F.row_number().over(w).alias("rnk")
    )
    lc, lr = F.log(F.col("c").cast("double")), F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.round(F.regr_slope(lc, lr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lc, lr), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(lc, lr), 6).alias("r2"),
    )


@register(
    "text_unigram_xent",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
lm AS (
  SELECT token, COUNT(*) AS c FROM tok2 GROUP BY token
),
tot AS (SELECT SUM(c) AS n FROM lm),
scored AS (
  SELECT t.doc_id,
         COUNT(*) AS n_tokens,
         SUM(ROUND(-ln(lm.c / tot.n), 9)) AS nll
  FROM tok2 t JOIN lm ON lm.token = t.token CROSS JOIN tot
  GROUP BY t.doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(nll / n_tokens, 6) AS xent_per_token,
       ROUND(nll / n_tokens / ln(2), 6) AS bits_per_token
FROM scored
""",
    tags=("text", "quality", "language-model", "pipeline"),
)
def text_unigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own unigram
    language model: the cheap perplexity-proxy quality filter (the
    CCNet/Gopher recipe uses a real LM; the unigram version is the
    shuffle-light first cut) — documents whose tokens are corpus-typical
    score low, gibberish and off-distribution text score high, and the
    score is comparable across documents because it is per-token.

    Plan: the LM IS a DataFrame (token -> count, one map-side-partial
    aggregate), broadcast-joined back onto the token stream; per-doc
    reduction follows. Each token's -ln p is rounded to 1e-9 BEFORE the
    per-doc sum so both engines add identical doubles in any order (sum
    of ~1e2 rounded terms stays exactly representable well past 1e-6);
    the final per-token normalization rounds to 1e-6."""
    prep(spark)
    tok = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
    )
    lm = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tot = lm.agg(F.sum("c").alias("n"))
    term = F.round(-F.log(F.col("c") / F.col("n")), 9)
    scored = (
        tok.join(F.broadcast(lm), "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(term).alias("nll"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.col("nll") / F.col("n_tokens"), 6).alias("xent_per_token"),
        F.round(F.col("nll") / F.col("n_tokens") / math.log(2), 6).alias(
            "bits_per_token"
        ),
    )


@register(
    "text_bpe_merge_round",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
wf AS (SELECT w, COUNT(*) AS freq FROM tok WHERE len(w) >= 2 GROUP BY w),
pairs AS (
  SELECT substr(w, i, 2) AS pair, freq
  FROM wf, unnest(generate_series(1, len(w) - 1)) AS g(i)
),
pc AS (SELECT pair, SUM(freq) AS n FROM pairs GROUP BY pair)
SELECT pair, CAST(n AS BIGINT) AS n, CAST(rnk AS INT) AS rnk FROM (
  SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rnk FROM pc
) WHERE rnk <= 20
""",
    tags=("text", "tokenize", "bpe", "pipeline"),
)
def text_bpe_merge_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training round: corpus-weighted adjacent-symbol pair
    frequencies over the word vocabulary, ranked — the argmax IS the
    next merge rule, and iterating this query (symbols growing per
    round) is exactly how a BPE vocabulary is trained from a corpus.
    One round is registered because each round is the same plan over a
    re-encoded vocabulary; the iteration is a driver loop like kmeans.

    Shape: the pair stats run over the WORD-FREQUENCY table, not the
    corpus — the explode->count collapses 100 TB of text to |vocab|
    rows first, and every later round touches only that vocabulary
    (the standard trick that makes corpus BPE training tractable).
    Pair extraction is substring over an index sequence — identical
    arithmetic in both engines, no split-on-empty edge cases."""
    prep(spark)
    tok = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") >= 2)
    )
    wf = tok.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    # substr with a column start position: expressed via expr (the
    # F.substring python signature takes int positions only).
    pairs = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair"),
        "freq",
    )
    pc = pairs.groupBy("pair").agg(F.sum("freq").alias("n"))
    from pyspark.sql import Window

    w = Window.partitionBy(F.lit(1)).orderBy(
        F.desc("n"), "pair"
    )
    return (
        pc.orderBy(F.desc("n"), "pair")
        .limit(20)
        .withColumn("rnk", F.row_number().over(w))
        .select("pair", F.col("n").cast("bigint").alias("n"), F.col("rnk").cast("int").alias("rnk"))
    )


@register(
    "text_corpus_composition",
    oracle="""
WITH base AS (
  SELECT source, lang, COUNT(*) AS n_docs, SUM(n_chars) AS chars
  FROM documents GROUP BY source, lang
),
tot AS (SELECT SUM(n_docs) AS td, SUM(chars) AS tc FROM base),
dom AS (
  SELECT source, lang AS dominant_lang FROM (
    SELECT source, lang,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_docs DESC, lang NULLS LAST) AS rn
    FROM base
  ) WHERE rn = 1
)
SELECT b.source, b.lang,
       CAST(b.n_docs AS BIGINT) AS n_docs,
       CAST(b.chars AS BIGINT) AS n_chars,
       ROUND(b.n_docs / CAST(t.td AS DOUBLE), 6) AS doc_share,
       ROUND(b.chars / CAST(t.tc AS DOUBLE), 6) AS char_share,
       d.dominant_lang
FROM base b CROSS JOIN tot t JOIN dom d ON d.source = b.source
""",
    tags=("text", "corpus-stats", "composition", "pipeline"),
)
def text_corpus_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report: per (source, lang) document and
    character shares plus each source's dominant language — the mix
    table a data curator watches while tuning sampling weights (the
    actual knobs text_token_budget / text_weighted_sample turn), and the
    first place an ingestion regression (a source flipping language,
    a share collapsing) shows up.

    Shape: one groupBy to the (source, lang) grid; totals and dominant
    labels are broadcast-sized derivations of that grid."""
    prep(spark)
    from pyspark.sql import Window

    base = (
        table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("chars"))
    )
    tot = base.agg(F.sum("n_docs").alias("td"), F.sum("chars").alias("tc"))
    # lang NULLS LAST: the unknown-language bucket stays a report ROW,
    # but must not WIN a dominant-language tie by engine-default NULL
    # placement (Spark ASC = NULLS FIRST vs DuckDB = NULLS LAST).
    w = Window.partitionBy("source").orderBy(
        F.desc("n_docs"), F.asc_nulls_last("lang")
    )
    dom = (
        base.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", F.col("lang").alias("dominant_lang"))
    )
    return (
        base.crossJoin(F.broadcast(tot))
        .join(F.broadcast(dom), "source")
        .select(
            "source",
            "lang",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("chars").cast("bigint").alias("n_chars"),
            F.round(F.col("n_docs") / F.col("td").cast("double"), 6).alias(
                "doc_share"
            ),
            F.round(F.col("chars") / F.col("tc").cast("double"), 6).alias(
                "char_share"
            ),
            "dominant_lang",
        )
    )


@register(
    "text_setsim_prefix_join",
    bench=True,
    oracle=f"""
WITH {_O_SHINGLES},
tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
df AS (SELECT s, COUNT(*) AS nd FROM tok GROUP BY s),
rk AS (SELECT s, ROW_NUMBER() OVER (ORDER BY nd, s) AS r FROM df),
ranked AS (
  SELECT t.doc_id, r.r,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY r.r) AS pos,
         COUNT(*) OVER (PARTITION BY t.doc_id) AS n
  FROM tok t JOIN rk r USING (s)
),
pref AS (
  SELECT doc_id, r FROM ranked
  WHERE pos <= n - CAST(CEIL(0.5 * n) AS BIGINT) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b ON a.r = b.r AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_intersect(x.shingles, y.shingles)) AS BIGINT) AS n_inter,
       ROUND(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
             len(list_distinct(list_concat(x.shingles, y.shingles))), 9)
         AS jaccard
FROM cand c JOIN sh x ON x.doc_id = c.doc_a JOIN sh y ON y.doc_id = c.doc_b
WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
      len(list_distinct(list_concat(x.shingles, y.shingles))) >= 0.5
""",
    tags=("text", "dedup", "setsim", "prefix-filter", "join"),
)
def text_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join by prefix filtering (the AllPairs /
    PPJoin decomposition): find every document pair with shingle-set
    Jaccard >= 0.5, guaranteed complete, WITHOUT the all-pairs cross
    join — the exact-join counterpart of the MinHash-LSH path (LSH is
    probabilistic recall; this is 100% recall with pruning).

    The filter: order every doc's shingles by ascending document
    frequency (rarest first, ties by shingle); if |A ∩ B| / |A ∪ B| >=
    t then A and B MUST share a token within each one's first
    n - ceil(t*n) + 1 tokens — so candidates are only pairs colliding
    on a PREFIX token, and rare-first ordering makes those prefixes the
    least-shared tokens in the corpus. Candidates then verify the exact
    Jaccard. Both engines rank with the same total order and compare
    the same IEEE doubles, so the threshold decisions agree exactly.

    Scale: the candidate join is an equi-join on prefix-token rank —
    shuffle on a key whose fan-out the rare-first ordering actively
    minimizes (a token appearing in d docs contributes <= d^2/2 pairs,
    and prefixes hold the smallest-d tokens). The df ranking is one
    groupBy + a broadcast-sized dictionary join. This is the exact-
    result fallback when LSH's missed-pair rate is not acceptable
    (dedup AUDITS), at the cost of candidate volume growing with true
    near-dup density rather than hash-bucket luck."""
    prep(spark)
    from pyspark.sql import Window

    # r8 plan-shape notes: the r7 spelling materialized a GLOBAL dense
    # rank r over the whole shingle vocabulary (row_number over a
    # single-partition window — every distinct shingle sorted in ONE
    # task) purely as a join-key proxy for the (nd, s) total order. The
    # rank is a bijection of s, so (a) per-doc prefix positions ordered
    # by r equal positions ordered by (nd, s) directly, and (b) the
    # candidate equi-join on r equals the equi-join on s — the global
    # sort buys nothing. Likewise n (the doc's distinct-shingle count)
    # is size(shingles) off the already-distinct array — the second
    # whole-partition window was a recount of what the array carries.
    # Parallelism note (guide §2.5 "repartition immediately after the
    # read"): the shingling projection is the most CPU-dense per-row
    # work in the bench, and it is welded to the documents scan — whose
    # task count is the FILE count (4 compacted chunks locally), not the
    # core count. The explicit repartition by doc_id right after the
    # scan detaches that compute from the file layout and spreads it
    # over defaultParallelism tasks (cluster: total cores), and the
    # single Exchange it adds carries raw text ONCE and is reused by
    # all three consumers of sh (ReuseExchange — the r7 shape computed
    # the shingle projection in two separate 4-task scan stages).
    par = spark.sparkContext.defaultParallelism
    # Materialized once: sharing the repartition exchange via
    # ReusedExchange was not enough, because CollapseRepartition merges
    # the x/y verify-side repartitions INTO the inner doc_id repartition,
    # leaving three subtly different subtrees (the stage probe showed
    # THREE scan+shingle evaluations, two of them welded to the 4-file
    # scan). Behind the checkpoint the shingle projection runs ONCE at
    # `par`-way parallelism, and every consumer reads the blocks. The
    # repartition stays below _shingled, so that work is not welded to
    # the scan.
    sh = materialize_once(
        _shingled(table(spark, sf_dir, "documents").repartition(par, "doc_id"))
    )
    tok = sh.select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("s")
    )
    dfreq = tok.groupBy("s").agg(F.count(F.lit(1)).alias("nd"))
    wd = Window.partitionBy("doc_id").orderBy("nd", "s")
    ranked = tok.join(dfreq, "s").select(
        "doc_id", "s", "n", F.row_number().over(wd).alias("pos")
    )
    pref = ranked.where(
        F.col("pos") <= F.col("n") - F.ceil(0.5 * F.col("n")) + 1
    ).select("doc_id", "s", "pos", "n")
    # r9 candidate pruning (PPJoin-class filters; prune-only-impossible,
    # so the verified output is IDENTICAL — oracle hash-exact):
    # (1) LENGTH filter: jac >= 0.5 forces max(n_a,n_b) <= 2*min — a
    #     prefix collision between very differently-sized docs cannot
    #     verify, so it never reaches the distinct/verify stages.
    # (2) POSITION filter: both docs order shingles by the same global
    #     (df, s) total order, so for a common token at positions
    #     (pa, pb), common tokens <= it number at most min(pa, pb) and
    #     common tokens > it at most min(n_a-pa, n_b-pb):
    #     |A∩B| <= min(pa,pb) + min(n_a-pa, n_b-pb). If even that bound
    #     misses 3i >= n_a+n_b the collision row is dropped. Soundness
    #     of dropping PER ROW before the distinct: for a true pair the
    #     bound holds for EVERY common token (it bounds the one true i
    #     from above), so every collision row survives and the pair is
    #     never lost. Both filters cut the verify stage's input — the
    #     query's dominant cost (array_intersect over rehydrated
    #     shingle arrays per candidate).
    ubound = F.least(F.col("a.pos"), F.col("b.pos")) + F.least(
        F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
    )
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "s")
        .where(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n") <= 2 * F.col("b.n"))
            & (F.col("b.n") <= 2 * F.col("a.n"))
            & (3 * ubound >= F.col("a.n") + F.col("b.n"))
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Verify stage, r8: (1) |A∪B| is derived as n_a + n_b - |A∩B|
    # (exact for the distinct shingle sets), so array_union — as
    # expensive as the intersect — is never evaluated; (2) the Jaccard
    # threshold becomes the integer predicate 3*ni >= n_a + n_b
    # (ni/(na+nb-ni) >= 0.5 ⟺ 3ni >= na+nb, exact in int64), so the
    # filter re-evaluates one intersect, not intersect+union; (3) both
    # verify joins are widened to defaultParallelism — this stage
    # carried ~13 s of array-compare CPU squeezed into the 8 low-latency
    # shuffle partitions the bench session runs with.
    # x reads the checkpoint blocks directly (already partitioned by
    # doc_id = doc_a after the rename — no second shuffle of the
    # arrays); y must re-key to doc_b for its join side.
    x = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    y = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    ).repartition(par, "doc_b")
    ni = F.size(F.array_intersect("sh_a", "sh_b"))
    nab = F.size("sh_a") + F.size("sh_b")
    return (
        cand.repartition(par, "doc_a")
        .join(x, "doc_a")
        .join(y, "doc_b")
        .where(3 * ni >= nab)
        .select(
            "doc_a",
            "doc_b",
            ni.cast("bigint").alias("n_inter"),
            F.round(
                ni.cast("double") / (nab - ni).cast("double"), 9
            ).alias("jaccard"),
        )
    )


@register(
    "text_keyphrase_tfidf",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY doc_id, w),
df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
n AS (SELECT COUNT(*) AS nd FROM documents),
scored AS (
  SELECT t.doc_id, t.w, t.tf, d.df,
         t.tf * LN(CAST(n.nd AS DOUBLE) / d.df) AS score
  FROM tf t JOIN df d USING (w) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, w, tf, CAST(df AS BIGINT) AS df,
         ROUND(score, 9) AS tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, w) AS rnk
  FROM scored
)
SELECT doc_id, CAST(rnk AS INT) AS rnk, w AS term,
       CAST(tf AS BIGINT) AS tf, df, tfidf
FROM ranked WHERE rnk <= 3 AND doc_id < 100
""",
    tags=("text", "tfidf", "keyphrase", "retrieval"),
)
def text_keyphrase_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyphrase extraction by TF-IDF: top-3 terms per doc
    scored tf * ln(N/df) — the classical salience ranking a corpus
    browser / tagging pass runs before anything embedding-based, and
    the raw-count sibling of text_bm25_search's saturated scoring.

    Determinism: tf and df are integer aggregates; ln of the identical
    double ratio is one correctly-rounded libm op in both engines, the
    product tf * ln(...) multiplies identical doubles, and the per-doc
    top-3 rides a TOTAL order (score desc, then term) so equal-scored
    terms — guaranteed whenever two terms share tf and df, common in a
    31-word vocab — rank identically on any draw. The judged slice is
    bounded (doc_id < 100) to keep the driver payload dim-sized; the
    score itself rounds at 1e-9 only for display, after ranking.

    Scale: tf is one (doc, term) groupBy over the token stream; df one
    term groupBy over tf's output (already deduplicated per doc — no
    second pass over raw tokens); the document count is a broadcast
    scalar; the top-3 window partitions per doc. All shuffle keys are
    uniform (terms, doc ids) — the textbook inverted-index build."""
    prep(spark)
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    tf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    score = F.col("tf") * F.log(F.col("nd").cast("double") / F.col("df"))
    wr = Window.partitionBy("doc_id").orderBy(F.desc("score"), "w")
    return (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(nd))
        .withColumn("score", score)
        .withColumn("rnk", F.row_number().over(wr))
        .where((F.col("rnk") <= 3) & (F.col("doc_id") < 100))
        .select(
            "doc_id",
            F.col("rnk").cast("int").alias("rnk"),
            F.col("w").alias("term"),
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round("score", 9).alias("tfidf"),
        )
    )


@register(
    "text_edit1_fastss",
    oracle="""
WITH tok AS (
  SELECT DISTINCT unnest(list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), t -> lower(t))) AS t
  FROM documents
),
vocab AS (SELECT t FROM tok WHERE length(t) BETWEEN 5 AND 10),
vars AS (
  SELECT t,
         unnest([t] || list_transform(
           generate_series(1, length(t)),
           i -> substr(t, 1, CAST(i AS INT) - 1)
                || substr(t, CAST(i AS INT) + 1))) AS v
  FROM vocab
),
cand AS (
  SELECT DISTINCT a.t AS token_a, b.t AS token_b
  FROM vars a JOIN vars b ON a.v = b.v AND a.t < b.t
)
SELECT token_a, token_b,
       CAST(levenshtein(token_a, token_b) AS INT) AS dist
FROM cand WHERE levenshtein(token_a, token_b) <= 1
""",
    tags=("text", "similarity-join", "edit-distance", "dedup", "blocking"),
)
def text_edit1_fastss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 string similarity self-join by deletion-
    neighborhood blocking (FastSS): the typo/near-variant detector a
    vocabulary-normalization or entity-resolution pass runs over a
    corpus. Every token maps to itself plus its single-character
    deletions; two strings within one edit ALWAYS share a neighborhood
    key (substitution at i -> both drop i; insertion/deletion -> the
    longer one drops the inserted char), so an equi-join on the variant
    key finds every candidate and levenshtein verifies on candidates
    only — never all-pairs.

    Scale: vocab length L emits L+1 variant rows — linear blow-up, then
    ONE shuffle on the variant key; candidate verification is bounded by
    key-bucket sizes (bounded neighborhoods, unlike an all-pairs
    levenshtein which is quadratic in vocabulary). At 100 TB the variant
    relation partitions by hash(v) and the verify stays JVM-side
    (built-in levenshtein, no Python). Length gate 5..10 keeps the demo
    deterministic-small; production gates by df like the prefix-filter
    join (text_setsim_prefix_join)."""
    prep(spark)
    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(
                F.transform(F.regexp_extract_all("text", F.lit("[A-Za-z0-9]+"), 0), F.lower)
            ).alias("t")
        )
        .where(F.length("t").between(5, 10))
        .distinct()
    )
    vars_ = vocab.select(
        "t",
        F.explode(
            F.concat(
                F.array(F.col("t")),
                F.expr(
                    "transform(sequence(1, length(t)), "
                    "i -> concat(substring(t, 1, i - 1), substring(t, i + 1)))"
                ),
            )
        ).alias("v"),
    )
    a, b = vars_.alias("a"), vars_.alias("b")
    cand = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.t") < F.col("b.t")))
        .select(F.col("a.t").alias("token_a"), F.col("b.t").alias("token_b"))
        .distinct()
    )
    return cand.where(F.levenshtein("token_a", "token_b") <= 1).select(
        "token_a",
        "token_b",
        F.levenshtein("token_a", "token_b").cast("int").alias("dist"),
    )


@register(
    "text_dup_spans",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), t -> lower(t)) AS ts
  FROM documents
),
grams AS (
  SELECT doc_id, g.p AS p, g.h AS h FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, len(ts) - 7),
             i -> struct_pack(
               p := i,
               h := md5(array_to_string(list_slice(ts, i, i + 7), '|'))))) AS g
    FROM toks WHERE len(ts) >= 8
  )
),
matched AS (
  SELECT a.doc_id AS da, b.doc_id AS db, a.p AS pa, b.p AS pb
  FROM grams a JOIN grams b ON a.h = b.h AND a.doc_id < b.doc_id
),
islands AS (
  SELECT da, db, pa,
         pa - ROW_NUMBER() OVER (PARTITION BY da, db, pa - pb ORDER BY pa)
           AS isl,
         pa - pb AS diag
  FROM matched
),
spans AS (
  SELECT da, db, MAX(pa) - MIN(pa) + 8 AS span_tokens, MIN(pa) AS start_a
  FROM islands GROUP BY da, db, diag, isl
)
SELECT da AS doc_a, db AS doc_b,
       CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(MIN(start_a) AS BIGINT) AS first_start_a
FROM spans GROUP BY da, db
""",
    tags=("text", "dedup", "substring", "spans", "ngram"),
)
def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans across documents — the exact-
    substring dedup signal (the Lee et al. 2022 'Deduplicating Training
    Data' recipe's relational dual): 8-gram shingles with POSITIONS,
    matched across doc pairs, then runs of consecutive matches on the
    same alignment diagonal (pa - pb) merged into maximal spans by the
    gaps-and-islands trick. Reports, per overlapping pair, the longest
    shared span in tokens, the span count, and the earliest start — the
    evidence a span-level deduper needs to CUT the repeated text rather
    than drop a whole document.

    Scale: the only corpus-sized relation is the positional shingle
    table (n_tokens rows/doc, one shuffle on the gram key — the same
    posting-join shape as text_decontaminate). The key is a PAIR of
    differently-seeded xxhash64 values over the token-array slice:
    engine-native (whole-stage codegen, no per-gram MessageDigest call,
    no delimiter string ever built — the array is hashed directly),
    16 key bytes like the binary md5 it replaced, and 128-bit effective
    collision resistance — a single 64-bit key at 1e12 grams (the
    100 TB regime) expects ~n^2/2^65 = tens of thousands of false
    matches, so the second seed is load-bearing, not decoration.
    Matching is a posting-list self-pair, NOT a self-join: grams group
    once on the key (ONE shuffle of the corpus-sized relation),
    per-gram occurrence lists expand to ordered (doc_a < doc_b) pairs,
    and groups of size 1 — the overwhelming majority — are filtered
    before any pair exists. The equivalent self-join shuffles (or
    worse, broadcasts: Catalyst's post-explode size estimate undershoots
    and a corpus-sized build side slips under the auto-broadcast
    threshold, a driver-OOM at real scale) the gram relation TWICE.
    The island merge runs per (pair, diagonal) partition. A
    suffix-array build this is not — the shingle grouping IS the
    scalable approximation production dedupers use. The DuckDB oracle
    keeps md5 and a join: any deterministic collision-free key yields
    identical spans, which is the point of keying on a hash.

    Determinism: spans derive from integer positions and dual-xxhash64
    equality on exact token runs; collect_list order inside a gram
    group is nondeterministic but the emitted pair SET (all ordered
    pairs, da < db) is order-free. No floats anywhere. A gram repeated
    k times emits k(k-1)/2 pairs inside one task — the same worst case
    as a join's hash bucket, bounded by near-dup cluster size ON CLEAN
    CORPORA ONLY: boilerplate (shared headers) breaks that bound, and
    tools/dupskew_probe.py measured the cliff (30% boilerplate = DNF/
    JVM-OOM plain, 9.5 s with posting lists > 256 dropped before
    expansion — the production df-cap posture, BASELINE §3e-bis; a gram
    in 30% of the corpus is template text carrying no span signal)."""
    from pyspark.sql import Window

    prep(spark)
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.transform(F.regexp_extract_all("text", F.lit("[A-Za-z0-9]+"), 0), F.lower).alias("ts"),
    ).where(F.size("ts") >= 8)
    # Explode positions first, hash after: the 8-token slice exists only
    # inside the map stage and is projected away before the shuffle.
    # Prepending a literal to xxhash64 changes the effective seed
    # (children fold left-to-right, seed-first), giving two independent
    # 64-bit functions of the gram.
    grams = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 7), "
                    "i -> named_struct('p', i, 'g', slice(ts, i, 8)))"
                )
            ).alias("s"),
        )
        .select(
            "doc_id",
            F.col("s.p").alias("p"),
            F.xxhash64("s.g").alias("h1"),
            F.xxhash64(F.lit(9), "s.g").alias("h2"),
        )
    )
    occ = (
        grams.groupBy("h1", "h2")
        .agg(F.collect_list(F.struct("doc_id", "p")).alias("occ"))
        .where(F.size("occ") >= 2)
    )
    # df-cap (auto, see _cap_sized): a boilerplate gram's posting list
    # past DF_CLIFF flips the whole corpus to the capped plan — the
    # registered operator now survives the dupskew probe's 30%-
    # boilerplate corpus instead of OOMing (round-8 item; pinned by
    # tests/test_text.py::test_dup_spans_df_cap_*). The audit scalar is
    # max(size(occ)) over the SAME aggregate subtree, so the planner
    # shares the gram shuffle between both consumers (ReusedExchange,
    # asserted in tests/test_plans.py) — the audit re-pays only the
    # post-shuffle merge, never a second corpus shuffle. (Filtering to
    # size>=2 first is decision-equivalent: a corpus whose every list
    # is a singleton has mx=NULL/1, far below the cliff.)
    occ = _cap_sized(spark, occ.withColumn("k", F.size("occ")), "k").drop("k")
    matched = occ.select(
        F.explode(
            F.expr(
                "filter(flatten(transform(occ, a -> transform(occ, b -> "
                "named_struct('da', a.doc_id, 'db', b.doc_id, "
                "'pa', a.p, 'pb', b.p)))), x -> x.da < x.db)"
            )
        ).alias("m")
    ).select("m.da", "m.db", "m.pa", "m.pb")
    diag = F.col("pa") - F.col("pb")
    isl_w = Window.partitionBy("da", "db", diag).orderBy("pa")
    islands = matched.select(
        "da", "db", "pa", diag.alias("diag"),
        (F.col("pa") - F.row_number().over(isl_w)).alias("isl"),
    )
    spans = islands.groupBy("da", "db", "diag", "isl").agg(
        (F.max("pa") - F.min("pa") + 8).alias("span_tokens"),
        F.min("pa").alias("start_a"),
    )
    return spans.groupBy(
        F.col("da").alias("doc_a"), F.col("db").alias("doc_b")
    ).agg(
        F.max("span_tokens").cast("bigint").alias("max_span_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.min("start_a").cast("bigint").alias("first_start_a"),
    )


# Shared lift formula — identical text on both engines so the IEEE
# multiply/divide sequence (and therefore the rounded value and the
# rank) is bit-identical.
_PMI_LIFT = (
    "CAST(c_xy AS DOUBLE) * n_tok * n_tok"
    " / (m_big * CAST(c_x AS DOUBLE) * c_y)"
)


@register(
    "text_pmi_collocations",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'), t -> lower(t)) AS ts
  FROM documents
),
uni AS (
  SELECT w, COUNT(*) AS c FROM (SELECT unnest(ts) AS w FROM toks)
  GROUP BY w
),
big AS (
  SELECT b['w1'] AS w1, b['w2'] AS w2, COUNT(*) AS c_xy FROM (
    SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
                                 i -> struct_pack(w1 := ts[i],
                                                  w2 := ts[i + 1]))) AS b
    FROM toks WHERE len(ts) >= 2
  )
  GROUP BY ALL
),
tot AS (
  SELECT CAST((SELECT SUM(c) FROM uni) AS DOUBLE) AS n_tok,
         CAST((SELECT SUM(c_xy) FROM big) AS DOUBLE) AS m_big
),
scored AS (
  SELECT b.w1, b.w2, b.c_xy,
         ROUND({_PMI_LIFT}, 6) AS lift
  FROM big b
  JOIN uni u1 ON u1.w = b.w1
  JOIN uni u2 ON u2.w = b.w2
  CROSS JOIN tot,
  LATERAL (SELECT u1.c AS c_x, u2.c AS c_y) _x
  WHERE b.c_xy >= 5
)
SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy, lift,
       CAST(rk AS INT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, w1, w2) AS rk
  FROM scored
) WHERE rk <= 20
""",
    tags=("text", "collocations", "pmi", "ngram", "statistics"),
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram collocation extraction by pointwise mutual information:
    adjacent token pairs whose co-occurrence beats the independence
    expectation — reported as LIFT (exp(PMI) = P(xy)/(P(x)P(y))) so no
    transcendental log enters the hash (Java and DuckDB libm logs can
    differ in the last ulp; the ratio is pure IEEE multiply/divide from
    exact integer counts, shared formula text on both engines). Minimum
    support 5, top-20 by (lift, w1, w2) — the phrase-mining signal a
    tokenizer-training or keyphrase pipeline computes corpus-wide.

    Scale: ONE corpus-sized explode (bigrams), collapsed by a
    partial-agg shuffle. Unigram counts are DERIVED, not re-exploded:
    every token occurrence except a document's last appears exactly once
    as w1 of a bigram, so uni(w) = sum of c_xy over w1 = w (a rollup of
    the already-aggregated vocabulary^2-sized bigram relation) plus the
    per-document last-token counts (one row per doc — a second tokenize
    scan but NO second corpus explode; scans are cheap, 6M-row explodes
    are not). Exact integer identity, not an approximation. The scoring
    joins are vocabulary-sized and broadcast. No all-pairs term anywhere
    — cost is linear in corpus tokens."""
    prep(spark)
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        F.transform(F.regexp_extract_all("text", F.lit("[A-Za-z0-9]+"), 0), F.lower).alias("ts")
    )
    big = (
        toks.where(F.size("ts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1), "
                    "i -> named_struct('w1', element_at(ts, i), "
                    "'w2', element_at(ts, i + 1)))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    last = (
        toks.where(F.size("ts") >= 1)
        .select(F.element_at("ts", -1).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_last"))
    )
    uni = (
        big.groupBy(F.col("w1").alias("w"))
        .agg(F.sum("c_xy").alias("c_big"))
        .join(last, "w", "full")
        .select(
            "w",
            (
                F.coalesce("c_big", F.lit(0)) + F.coalesce("c_last", F.lit(0))
            ).alias("c"),
        )
    )
    tot = F.broadcast(
        uni.agg(F.sum("c").cast("double").alias("n_tok")).crossJoin(
            big.agg(F.sum("c_xy").cast("double").alias("m_big"))
        )
    )
    u1 = F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")))
    u2 = F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")))
    scored = (
        big.where(F.col("c_xy") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(tot)
        .selectExpr("w1", "w2", "c_xy", f"ROUND({_PMI_LIFT}, 6) AS lift")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(F.lit(1)).orderBy(F.desc("lift"), "w1", "w2")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 20)
        .select(
            "w1", "w2", F.col("c_xy").cast("bigint").alias("c_xy"),
            "lift", F.col("rk").cast("int").alias("rk"),
        )
    )


@register(
    "text_bigram_xent",
    oracle="""
WITH arrs AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
big AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM arrs, unnest(generate_series(1, len(ws) - 1)) AS g(i)
),
lm AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
ctx AS (SELECT w1, SUM(c12) AS c1 FROM lm GROUP BY w1),
scored AS (
  SELECT b.doc_id,
         COUNT(*) AS n_bigrams,
         SUM(ROUND(-ln(lm.c12 / CAST(ctx.c1 AS DOUBLE)), 9)) AS nll
  FROM big b
  JOIN lm ON lm.w1 = b.w1 AND lm.w2 = b.w2
  JOIN ctx ON ctx.w1 = b.w1
  GROUP BY b.doc_id
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       ROUND(nll / n_bigrams, 6) AS xent_per_bigram
FROM scored
WHERE n_bigrams > 0
""",
    tags=("text", "quality", "language-model", "bigram", "pipeline"),
)
def text_bigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus bigram language model
    (MLE p(w2|w1) = c12/c1): the next rung up from text_unigram_xent on
    the perplexity-filter ladder — context-sensitive, so word salad with
    a typical vocabulary (which fools the unigram score) still scores
    high. Same round-to-1e-9-before-sum float discipline.

    Plan: bigrams come from each document's token array positionally
    (slice+zip — no self-join of the token stream on position); the LM
    is two hash aggregates (c12, then c1 as its rollup), joined back
    broadcast. At 100 TB the LM table outgrows broadcast and the joins
    flip to shuffle-on-w1 — same plan shape, AQE picks the strategy.
    """
    prep(spark)
    ws = F.filter(F.split("text", " "), lambda x: x != "")
    arrs = table(spark, sf_dir, "documents").select("doc_id", ws.alias("ws"))
    big = arrs.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("ws", 1, F.greatest(F.size("ws") - 1, F.lit(0))),
                F.slice(
                    F.col("ws"), 2, F.greatest(F.size("ws") - 1, F.lit(0))
                ),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
    lm = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = lm.groupBy("w1").agg(F.sum("c12").alias("c1"))
    term = F.round(-F.log(F.col("c12") / F.col("c1").cast("double")), 9)
    return (
        big.join(F.broadcast(lm), ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum(term).alias("nll"))
        .where(F.col("n_bigrams") > 0)
        .select(
            "doc_id",
            F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.round(F.col("nll") / F.col("n_bigrams"), 6).alias(
                "xent_per_bigram"
            ),
        )
    )


@register(
    "text_lexical_diversity",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
tok2 AS (SELECT doc_id, w FROM tok WHERE w <> ''),
wf AS (SELECT doc_id, w, COUNT(*) AS c FROM tok2 GROUP BY doc_id, w)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS ttr,
       ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS hapax_frac
FROM wf
GROUP BY doc_id
ORDER BY doc_id
""",
    tags=("text", "quality", "lexical-diversity", "pipeline"),
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per document: type-token ratio (distinct words
    / total words) and hapax fraction (share of vocabulary used exactly
    once) — the vocabulary-richness quality signals that catch
    template/boilerplate text (low TTR) and OCR noise or codejunk (high
    hapax) where length and stopword ratios look normal. Complements
    text_repetition_signals (which looks at the top of the frequency
    curve; this looks at the bottom).

    Both ratios are integer-over-integer single divides — no float
    discipline needed at all.

    Scale: one explode + one (doc, word) aggregate with map-side
    combine, then a per-doc rollup; everything co-partitions on doc_id
    after the first shuffle.
    """
    prep(spark)
    tok = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
    )
    wf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        wf.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.sum("c"), 6
            ).alias("ttr"),
            F.round(
                F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("hapax_frac"),
        )
        .orderBy("doc_id")
    )


@register(
    "sample_systematic",
    oracle="""
WITH r AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn,
         COUNT(*) OVER () AS n
  FROM documents
),
picked AS (
  SELECT * FROM r WHERE (rn - 1) % 20 = 0
)
SELECT COUNT(*) AS n_sampled,
       CAST(MAX(n) AS BIGINT) AS n_total,
       COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(n_chars) AS BIGINT) AS sampled_chars,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM picked
""",
    tags=("sampling", "systematic", "pipeline", "deterministic"),
)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every k-th, k=20) sampling over the doc_id order: the
    evenly-spaced audit sample QA pulls when it wants coverage across
    the WHOLE id range rather than hash-uniform randomness
    (sample_kfold_assign / train_test_split are the hash family; this
    is the rank family). Deterministic: rank over a total order, take
    (rn-1) % k = 0.

    Scale: the global rank rides operators/rank.py's range-partitioned
    two-pass (never the single-partition window), with the audited
    n_total carried by the rank's own offsets aggregate (total=...) —
    not a crossJoin(count) branch that re-scans the table for one
    scalar; the modulo filter and audit rollup are map-side. The
    oracle's bare OVER () is fine — it is DuckDB, not the engine.
    """
    from ..operators.rank import global_row_number

    prep(spark)
    doc = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    ranked = global_row_number(doc, ["doc_id"], total="n")
    picked = ranked.where((F.col("rn") - 1) % 20 == 0)
    return picked.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.max("n").cast("bigint").alias("n_total"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("sampled_chars"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


@register(
    "text_readability",
    oracle="""
WITH d AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> ''))
           AS n_words,
         GREATEST(len(list_filter(
           regexp_split_to_array(text, '[.!?]+'),
           x -> trim(x) <> '')), 1) AS n_sentences,
         len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS n_syll
  FROM documents
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_syll AS BIGINT) AS n_syllables,
       ROUND(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syll AS DOUBLE) / NULLIF(n_words, 0)), 4)
         AS flesch
FROM d
WHERE n_words > 0
ORDER BY doc_id
""",
    tags=("text", "quality", "readability", "pipeline"),
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with the standard cheap
    syllable proxy (vowel-group count): the readability screen a
    curation pipeline runs beside perplexity — too-easy text is
    boilerplate, unreadable text is OCR junk — with words from the
    whitespace tokenizer and sentences from [.!?]+ runs (min 1, so
    fragment documents don't divide by zero).

    Every count is an integer from the same regexes on both engines;
    the Flesch formula is two integer-ratio divides assembled with
    identical expression text.

    Scale: pure map-side expression work (three regex passes per doc,
    zero shuffles before the per-doc projection) — whole-stage codegen
    keeps it JVM-side; at 100 TB this is scan-bound, exactly what a
    quality screen should be.
    """
    prep(spark)
    doc = table(spark, sf_dir, "documents")
    n_words = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    n_sent = F.greatest(
        F.size(
            F.filter(
                F.split("text", "[.!?]+"), lambda x: F.trim(x) != ""
            )
        ),
        F.lit(1),
    )
    n_syll = F.size(
        F.expr("regexp_extract_all(text, '[aeiouyAEIOUY]+', 0)")
    )
    d = doc.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syll"),
    )
    return (
        d.where(F.col("n_words") > 0)
        .select(
            "doc_id",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.col("n_sentences").cast("bigint").alias("n_sentences"),
            F.col("n_syll").cast("bigint").alias("n_syllables"),
            F.round(
                F.lit(206.835)
                - 1.015
                * (F.col("n_words").cast("double") / F.col("n_sentences"))
                - 84.6
                * (
                    F.col("n_syll").cast("double")
                    / F.nullif(F.col("n_words"), F.lit(0))
                ),
                4,
            ).alias("flesch"),
        )
        .orderBy("doc_id")
    )


def _lsh_recall_oracle() -> str:
    lsh = QUERIES["text_minhash_lsh"].oracle
    return f"""
WITH truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM (SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(words)-2),
                             i -> words[i]||' '||words[i+1]||' '||words[i+2]))
                 AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS words
              FROM documents WHERE doc_id < 300) w
        WHERE len(words) >= 3) a
  JOIN (SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(words)-2),
                             i -> words[i]||' '||words[i+1]||' '||words[i+2]))
                 AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS words
              FROM documents WHERE doc_id < 300) w
        WHERE len(words) >= 3) b
    ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.2
),
lsh AS (
  SELECT doc_a, doc_b FROM ({lsh}) AS _l
  WHERE doc_a < 300 AND doc_b < 300
),
hit AS (SELECT t.doc_a FROM truth t JOIN lsh l
        ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b)
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM lsh) AS n_lsh,
       (SELECT COUNT(*) FROM hit) AS n_hit,
       ROUND(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
             / NULLIF((SELECT COUNT(*) FROM truth), 0), 6) AS recall
"""


@register(
    "text_lsh_recall_audit",
    oracle=_lsh_recall_oracle(),
    tags=("text", "dedup", "lsh", "audit", "recall"),
)
def text_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-recall audit of the MinHash-LSH dedup path: on a
    bounded slice (doc_id < 300) the EXACT all-pairs >= 0.2-Jaccard set
    is the ground truth, and the audit reports how many of those pairs
    the banded LSH surfaced — the measure-the-sketch discipline
    (vec_ann's recall monitor, applied to dedup): banding trades recall
    for never-all-pairs, and this row PINS that trade instead of
    assuming it. Precision is 1 by construction (LSH candidates are
    exact-verified), so recall is the whole story.

    All counts are exact integers; recall divides once.

    Scale: the ground-truth side is O(slice^2) BY DESIGN and the slice
    is the knob — a production audit samples a few thousand docs per
    run; the LSH side is the production path unchanged.
    """
    prep(spark)
    sh = _shingled(
        table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    )
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("shingles", "sh_b"))
    jac = inter.cast("double") / F.size(F.array_union("shingles", "sh_b"))
    truth = (
        sh.crossJoin(b)
        .where(F.col("doc_id") < F.col("doc_b"))
        .where(jac >= 0.2)
        .select(F.col("doc_id").alias("ta"), F.col("doc_b").alias("tb"))
    )
    lsh = (
        QUERIES["text_minhash_lsh"].fn(spark, sf_dir)
        .where((F.col("doc_a") < 300) & (F.col("doc_b") < 300))
        .select(F.col("doc_a").alias("la"), F.col("doc_b").alias("lb"))
    )
    hit = truth.join(
        lsh, (F.col("ta") == F.col("la")) & (F.col("tb") == F.col("lb"))
    )
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nl = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    nh = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        nt.crossJoin(nl)
        .crossJoin(nh)
        .select(
            "n_truth",
            "n_lsh",
            "n_hit",
            F.round(
                F.col("n_hit").cast("double")
                / F.nullif(F.col("n_truth"), F.lit(0)),
                6,
            ).alias("recall"),
        )
    )
