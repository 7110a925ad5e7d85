"""Training-data pipeline operators, second wave (SURVEY.md §2B
north-star additions): SimHash-banded near-duplicate pairs (Hamming
verification), dedup-cluster formation (connected components over the
near-dup graph), deterministic stratified sampling, and PII redaction.

Each has a full DuckDB oracle: the SimHash banding replays the engine's
bit arithmetic in SQL, the cluster op's oracle is a recursive-CTE
transitive closure, and sampling/redaction are plain expression parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..session import materialize_once, prep
from . import QUERIES, register
from .text import _SIMHASH_SCHEMA, _simhash_batch

# --- SimHash near-dup: band join + Hamming verification ---------------------

_HAMMING_MAX = 10

# Parametrized replay of the SimHash bit arithmetic (see text_simhash's
# oracle for the derivation): src -> fp(doc_id, f UBIGINT).
def _o_simhash_cte(src: str) -> str:
    # text <> '' mirrors the engine-side zero-token filter (see
    # text_simhash's oracle note: DuckDB string_split('') yields a
    # phantom '' token, and NULL text must drop, not fingerprint).
    return f"""
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM {src}
         WHERE text <> ''),
th AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h FROM toks),
votes AS (SELECT doc_id, i, SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
          FROM th, generate_series(0, 63) AS g(i) GROUP BY doc_id, i),
fp AS (SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS UBIGINT) << CAST(i AS INT))
                                    ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS f
       FROM votes GROUP BY doc_id)
"""


_MUTATED_SHIFT = 2_000_000


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus a near-identical mutation of every 7th doc (first
    word replaced) so the detector has true positives to find."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + _MUTATED_SHIFT).alias("doc_id"),
        F.regexp_replace("text", "^[^ ]+", "REPLACED").alias("text"),
    )
    return docs.unionByName(mutated)


_O_NEARDUP_CORPUS = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_MUTATED_SHIFT} AS doc_id, regexp_replace(text, '^[^ ]+', 'REPLACED')
  FROM documents WHERE doc_id % 7 = 0
)
"""


@register(
    "text_simhash_neardup",
    oracle=f"""
WITH {_O_NEARDUP_CORPUS}, {_o_simhash_cte("corpus")},
bands AS (
  SELECT doc_id, f, b, substr(lpad(lower(hex(f)), 16, '0'), b * 4 + 1, 4) AS bk
  FROM fp, generate_series(0, 3) AS g(b)
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.f AS fa, y.f AS fb
  FROM bands x JOIN bands y ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(fa, fb)) <= {_HAMMING_MAX}
""",
    tags=("text", "dedup", "simhash", "lsh", "udf"),
)
def text_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: 64-bit fingerprints (the mapInPandas
    operator text_simhash exposes) banded into 4x16-bit keys; candidate
    pairs share a band, survivors verify at Hamming distance <= 10 — the
    bit-space analog of MinHash-LSH (candidate generation by equality on
    a sketch slice, exact verification only on candidates).

    Scale: banding explodes 4 rows/doc and the candidate join shuffles on
    a uniform 16-bit-plus-band key; Hamming verification is two xor +
    popcount ops per candidate (the 64-bit hash rides as two signed
    32-bit halves so the JVM never faces unsigned overflow)."""
    prep(spark)
    # Zero-token docs carry no fingerprint (same domain guard, same
    # two-engine rationale as text_simhash).
    sims = (
        _neardup_corpus(spark, sf_dir)
        .where(F.col("text").isNotNull() & (F.col("text") != ""))
        .mapInPandas(_simhash_batch, schema=_SIMHASH_SCHEMA)
    )
    # Materialized once (not a shared repartition exchange): a mapInPandas
    # subtree embeds a PythonUDF whose result id survives plan
    # canonicalization, so the planner cannot collapse the two self-join
    # sides into one ReusedExchange — the checkpoint is what guarantees
    # the Python stage runs exactly once. At cluster scale the same
    # handoff is a staged fingerprint table.
    sigs = materialize_once(
        sims.select(
            "doc_id",
            "simhash_hex",
            F.conv(F.substring("simhash_hex", 1, 8), 16, 10).cast("bigint").alias("h1"),
            F.conv(F.substring("simhash_hex", 9, 8), 16, 10).cast("bigint").alias("h2"),
        )
    )
    bands = sigs.select(
        "doc_id",
        "h1",
        "h2",
        F.posexplode(
            F.array(*[F.substring("simhash_hex", b * 4 + 1, 4) for b in range(4)])
        ).alias("b", "bk"),
    )
    # Same auto df-cap as the minhash band joins (queries/text.py
    # _cap_banded): a template-text band bucket past the cliff would
    # expand k(k-1)/2 candidates in one task; the helper's checkpoint
    # is partitioned on the join's own (b, bk) key, and one capped side
    # suffices (pair-set proof in _cap_banded).
    from .text import _cap_banded

    ex, safe = _cap_banded(spark, bands, "b", "bk")
    right = ex.select(
        F.col("doc_id").alias("doc_b"), F.col("h1").alias("g1"),
        F.col("h2").alias("g2"), F.col("b").alias("b2"), F.col("bk").alias("bk2"),
    )
    cand = (
        safe.join(
            right,
            (safe.b == right.b2) & (safe.bk == right.bk2) & (safe.doc_id < right.doc_b),
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b", "h1", "h2", "g1", "g2")
        .distinct()
    )
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("g1"))) + F.bit_count(
        F.col("h2").bitwiseXOR(F.col("g2"))
    )
    return cand.select("doc_a", "doc_b", hamming.cast("int").alias("hamming")).where(
        F.col("hamming") <= _HAMMING_MAX
    )


# --- dedup clusters: connected components over the near-dup graph ----------


@register(
    "text_dedup_clusters",
    # The oracle closes the SAME pair set transitively with a recursive
    # CTE — an independent formulation of the component computation.
    oracle=None,  # assigned below (needs text_minhash_lsh's oracle text)
    tags=("text", "dedup", "iterative", "minhash", "lsh"),
)
def text_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate groups: MinHash-LSH verified pairs -> connected
    components (operators/components.py min-label propagation) -> one row
    per clustered doc with its canonical id (min doc of the component)
    and the component size. This is the step that turns pairwise dedup
    output into 'keep one per group' decisions.

    Scale: pair generation is the LSH band join (never all-pairs); the
    propagation loop is Pregel-shaped — shuffle join + grouped min per
    iteration, iterations bounded by component diameter (shallow for dup
    graphs)."""
    from ..operators.components import connected_components
    from .text import text_minhash_lsh

    prep(spark)
    pairs = text_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, "doc_a", "doc_b")
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "cluster_id").select(
        F.col("node").alias("doc_id"), "cluster_id", "cluster_size"
    )


def _clusters_oracle() -> str:
    minhash = QUERIES["text_minhash_lsh"].oracle
    return f"""
WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM (
{minhash}
) AS _mh),
ee AS (SELECT doc_a AS s, doc_b AS d FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
n AS (SELECT DISTINCT s AS node FROM ee),
reach(node, r) AS (
  SELECT node, node FROM n
  UNION
  SELECT ee.s, reach.r FROM ee JOIN reach ON ee.d = reach.node
),
lab AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM lab
"""


# register() stores the Query frozen; rebuild the entry with the oracle
# text now that text_minhash_lsh's registration is importable.
import dataclasses as _dc

QUERIES["text_dedup_clusters"] = _dc.replace(
    QUERIES["text_dedup_clusters"], oracle=_clusters_oracle()
)


@register(
    "text_leakfree_split",
    oracle=None,  # assigned below (needs text_minhash_lsh's oracle text)
    tags=("text", "pipeline", "sampling", "dedup", "leakage", "iterative"),
)
def text_leakfree_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-consistent train/valid/test split: every document is
    bucketed by the deterministic md5 hash of its GROUP key — the
    connected-component canonical id for clustered docs, its own doc_id
    for singletons — so an entire near-duplicate group always lands in
    ONE split. This closes the eval-contamination hole a per-doc split
    leaves open (a training doc's near-duplicate in the test set leaks
    the answer; text_train_test_split alone cannot prevent it, and
    text_decontaminate can only detect it after the fact).

    Output is the per-split summary plus a machine-checkable audit
    column: n_leaky_clusters = clusters whose members span >1 split,
    ZERO by construction — the property a data pipeline asserts before
    shipping the split, carried in-band so any downstream consumer can
    gate on it.

    Scale: pair generation is the LSH band join; the component loop is
    Pregel-shaped and diameter-bounded (shallow for dup graphs); the
    split itself is a pure projection over coalesce(cluster_id, doc_id)
    — no RNG, no sampling state, reproducible on any engine forever."""
    from ..operators.components import connected_components
    from .text import text_minhash_lsh

    prep(spark)
    pairs = text_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    gk = F.coalesce("cluster_id", "doc_id")
    bucket = (
        F.conv(F.substring(F.md5(gk.cast("string")), 1, 8), 16, 10).cast("long")
        % 100
    )
    assigned = (
        docs.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            "cluster_id",
            F.when(bucket < 90, "train")
            .when(bucket < 95, "valid")
            .otherwise("test")
            .alias("split"),
        )
    )
    # One-row leak audit: clusters spanning >1 split (must be 0). A
    # broadcast of a one-row aggregate, same posture as the df-cap audit.
    leak = (
        assigned.where(F.col("cluster_id").isNotNull())
        .groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("ns"))
        .agg(
            F.coalesce(F.sum(F.when(F.col("ns") > 1, F.lit(1))), F.lit(0))
            .cast("long")
            .alias("n_leaky_clusters")
        )
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("cluster_id").alias("n_clustered_docs"),
            F.count_distinct("cluster_id").alias("n_clusters"),
            F.sum("n_chars").alias("total_chars"),
        )
        .crossJoin(F.broadcast(leak))
    )


def _leakfree_oracle() -> str:
    minhash = QUERIES["text_minhash_lsh"].oracle
    return f"""
WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM (
{minhash}
) AS _mh),
ee AS (SELECT doc_a AS s, doc_b AS d FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
n AS (SELECT DISTINCT s AS node FROM ee),
reach(node, r) AS (
  SELECT node, node FROM n
  UNION
  SELECT ee.s, reach.r FROM ee JOIN reach ON ee.d = reach.node
),
lab AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
a AS (
  SELECT t.doc_id, t.n_chars, t.cluster_id,
         CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'valid' ELSE 'test' END AS split
  FROM (SELECT d.doc_id, d.n_chars, l.cluster_id,
               CAST(('0x' || substr(md5(CAST(COALESCE(l.cluster_id, d.doc_id) AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 AS b
        FROM documents d LEFT JOIN lab l USING (doc_id)) t
),
leak AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN ns > 1 THEN 1 END), 0) AS BIGINT) AS n_leaky_clusters
  FROM (SELECT cluster_id, COUNT(DISTINCT split) AS ns
        FROM a WHERE cluster_id IS NOT NULL GROUP BY cluster_id) c
)
SELECT split, COUNT(*) AS n_docs,
       CAST(COUNT(cluster_id) AS BIGINT) AS n_clustered_docs,
       CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       (SELECT n_leaky_clusters FROM leak) AS n_leaky_clusters
FROM a GROUP BY split
"""


QUERIES["text_leakfree_split"] = _dc.replace(
    QUERIES["text_leakfree_split"], oracle=_leakfree_oracle()
)


# --- deterministic stratified sampling -------------------------------------


@register(
    "text_sample_stratified",
    oracle="""
SELECT doc_id, lang, source, n_chars
FROM (
  SELECT doc_id, lang, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
) t
WHERE (rn - 1) % 10 = 0
""",
    tags=("text", "pipeline", "sampling", "window"),
)
def text_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified 10% sample: every 10th document per language
    stratum in deterministic doc_id order — the reproducible alternative
    to TABLESAMPLE (whose row choice is partition-layout-dependent) when
    an eval set must be reconstructible forever.

    Scale: one shuffle on the stratum key; the rank filter prunes inside
    each partition. For heavily skewed strata, swap the window for the
    hash-mod bucketing text_train_test_split uses (no sort at all)."""
    prep(spark)
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source", "n_chars", F.row_number().over(w).alias("rn"))
        .where((F.col("rn") - 1) % 10 == 0)
        .drop("rn")
    )


# --- PII redaction ----------------------------------------------------------

_RE_EMAIL = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+"
_RE_IP = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
_RE_NUM = "\\b[0-9]{8,}\\b"


@register(
    "text_redact_pii",
    oracle=f"""
WITH injected AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com from 10.0.' || CAST(doc_id % 250 AS VARCHAR)
              || '.7 card 4111111111111111' AS raw
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{_RE_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(regexp_replace(raw, '{_RE_EMAIL}', '<EMAIL>', 'g'),
                                   '{_RE_IP}')) AS INT) AS n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(raw,
             '{_RE_EMAIL}', '<EMAIL>', 'g'),
             '{_RE_IP}', '<IP>', 'g'),
             '{_RE_NUM}', '<NUM>', 'g')) AS redacted_md5
FROM injected
""",
    tags=("text", "pipeline", "redaction", "scalar"),
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub before training: emails, IPv4 addresses, and long digit
    runs (card/account numbers) replaced with typed placeholder tokens,
    with per-doc detection counts. The corpus gets a deterministic PII
    suffix injected so the redactor provably fires; the oracle hashes the
    fully-redacted text (md5 parity across engines).

    Scale: pure regexp projection — no shuffle, whole-stage codegen; at
    100 TB this runs at scan speed, which is why redaction belongs in the
    same pass as quality scoring rather than as its own job."""
    prep(spark)
    docs = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(".7 card 4111111111111111"),
    )
    no_email = F.regexp_replace(raw, _RE_EMAIL, "<EMAIL>")
    no_ip = F.regexp_replace(no_email, _RE_IP, "<IP>")
    redacted = F.regexp_replace(no_ip, _RE_NUM, "<NUM>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(raw, F.lit(_RE_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(no_email, F.lit(_RE_IP), 0)).alias("n_ips"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    )


# --- end-to-end corpus curation: the ops compose into ONE plan --------------


def _curation_oracle() -> str:
    minhash = QUERIES["text_minhash_lsh"].oracle
    from .text import _STOPWORDS

    stop = list(_STOPWORDS)
    quality = (
        "ROUND(0.4 * (CAST(len(list_distinct(words)) AS DOUBLE) / len(words))"
        " + 0.3 * LEAST(CAST(len(words) AS DOUBLE) / 100, 1.0)"
        f" + 0.3 * LEAST(CAST(len(list_filter(words, t -> list_contains({stop!r}, t))) AS DOUBLE)"
        " / len(words) * 10, 1.0), 9)"
    )
    en_score = (
        f"ROUND(CAST(len(list_filter(words, t -> list_contains({stop!r}, t))) AS DOUBLE)"
        " / len(words), 9)"
    )
    return f"""
WITH RECURSIVE docs AS (SELECT doc_id, text, lang, source, n_chars FROM documents),
s1 AS (SELECT MIN(doc_id) AS doc_id FROM docs GROUP BY md5(text)),
d1 AS (SELECT d.* FROM docs d JOIN s1 USING (doc_id)),
pairs AS (
  SELECT doc_a, doc_b FROM ({minhash}) mh
  WHERE doc_a IN (SELECT doc_id FROM s1) AND doc_b IN (SELECT doc_id FROM s1)
),
ee AS (SELECT doc_a AS s, doc_b AS d FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
n AS (SELECT DISTINCT s AS node FROM ee),
reach(node, r) AS (
  SELECT node, node FROM n
  UNION
  SELECT ee.s, reach.r FROM ee JOIN reach ON ee.d = reach.node
),
lab AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
d2 AS (SELECT * FROM d1 WHERE doc_id NOT IN (SELECT node FROM lab WHERE node <> cluster_id)),
w AS (SELECT doc_id, lang, source, n_chars, string_split(text, ' ') AS words FROM d2),
d3 AS (SELECT doc_id, lang, source FROM w
       WHERE len(words) > 0 AND {quality} >= 0.5 AND {en_score} >= 0.05),
d4 AS (SELECT doc_id, lang, source FROM (
         SELECT doc_id, lang, source,
                ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
         FROM d3) t WHERE rn <= 15)
SELECT 'b1_ingest' AS stage, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc FROM docs
UNION ALL SELECT 'b2_exact_dedup', COUNT(*), MIN(doc_id), MAX(doc_id) FROM d1
UNION ALL SELECT 'b3_near_dedup', COUNT(*), MIN(doc_id), MAX(doc_id) FROM d2
UNION ALL SELECT 'b4_quality_lang', COUNT(*), MIN(doc_id), MAX(doc_id) FROM d3
UNION ALL SELECT 'b5_sampled', COUNT(*), MIN(doc_id), MAX(doc_id) FROM d4
"""


@register(
    "text_curation_pipeline",
    oracle=None,  # assigned below (embeds text_minhash_lsh's oracle text)
    tags=("text", "pipeline", "dedup", "quality", "sampling", "iterative"),
)
def text_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone composition: the full pre-training curation pass as
    ONE declarative chain — ingest -> exact dedup (md5 keeper) ->
    near-dup canonicalization (MinHash-LSH pairs -> connected
    components, keep each cluster's min doc) -> quality + language
    filter -> deterministic per-stratum cap — reporting doc counts and
    id ranges per stage, the shape of every curation run's audit log.

    Restricting near-dup pairs to exact-dedup survivors is lossless:
    a dropped exact duplicate has the keeper's identical shingle set, so
    every path through it exists through the keeper too.

    Scale: each stage is the already-audited plan of its standalone
    query (one md5 shuffle; banded LSH join, never all-pairs; Pregel
    components; scan-speed filters; one stratum-key shuffle) — the
    composition adds joins on doc_id only. The per-stage counts execute
    as separate aggregates over the shared lineage; at 100 TB each stage
    lands in a curated table and the counts are its write metrics."""
    from ..operators.components import connected_components
    from .text import _STOPWORDS, text_minhash_lsh

    prep(spark)
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    keepers = docs.groupBy(F.md5(F.col("text").cast("binary"))).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    d1 = docs.join(keepers, "doc_id")

    pairs = text_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    k_a = keepers.select(F.col("doc_id").alias("doc_a"))
    k_b = keepers.select(F.col("doc_id").alias("doc_b"))
    pairs = pairs.join(k_a, "doc_a", "left_semi").join(k_b, "doc_b", "left_semi")
    labels = connected_components(pairs, "doc_a", "doc_b")
    non_canonical = labels.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    d2 = d1.join(non_canonical, "doc_id", "left_anti")

    w = d2.select(
        "doc_id", "lang", "source", F.split("text", " ").alias("words")
    ).where(F.size("words") > 0)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    uniq_ratio = F.size(F.array_distinct("words")).cast("double") / F.size("words")
    stop_ratio = F.size(
        F.filter("words", lambda t: F.array_contains(stop_arr, t))
    ).cast("double") / F.size("words")
    quality = F.round(
        0.4 * uniq_ratio
        + 0.3 * F.least(F.size("words").cast("double") / 100, F.lit(1.0))
        + 0.3 * F.least(stop_ratio * 10, F.lit(1.0)),
        9,
    )
    d3 = w.where((quality >= 0.5) & (F.round(stop_ratio, 9) >= 0.05)).select(
        "doc_id", "lang", "source"
    )

    win = Window.partitionBy("lang", "source").orderBy("doc_id")
    d4 = (
        d3.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= 15)
        .select("doc_id", "lang", "source")
    )

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ).select("stage", "n_docs", "min_doc", "max_doc")

    return (
        stage("b1_ingest", docs)
        .unionByName(stage("b2_exact_dedup", d1))
        .unionByName(stage("b3_near_dedup", d2))
        .unionByName(stage("b4_quality_lang", d3))
        .unionByName(stage("b5_sampled", d4))
    )


QUERIES["text_curation_pipeline"] = _dc.replace(
    QUERIES["text_curation_pipeline"], oracle=_curation_oracle()
)


_BUDGET = 1_000_000


@register(
    "text_token_budget",
    oracle=f"""
WITH src AS (
  SELECT source, SUM(n_chars) AS src_tokens FROM documents GROUP BY source
),
tot AS (SELECT SUM(src_tokens) AS total, COUNT(*) AS n_src FROM src),
quota AS (
  SELECT s.source, s.src_tokens,
         (s.src_tokens * {_BUDGET}) // t.total AS base_alloc,
         (s.src_tokens * {_BUDGET}) % t.total AS remainder,
         {_BUDGET} - SUM((s.src_tokens * {_BUDGET}) // t.total) OVER () AS leftover
  FROM src s CROSS JOIN tot t
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY remainder DESC, source) AS rnk
  FROM quota
)
SELECT source, src_tokens,
       CAST(base_alloc + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM ranked
""",
    tags=("text", "pipeline", "sampling", "apportionment"),
)
def text_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget apportionment across corpus sources by the
    largest-remainder method: each source gets floor(budget * share),
    and the seats lost to flooring go to the largest fractional
    remainders — the standard way a training-mix spec ('1M tokens,
    proportional to source size') becomes exact integer per-source
    quotas that sum to the budget.

    Determinism is the point: everything is int64 arithmetic (products
    stay under 2^63; no doubles anywhere), so any engine — or the same
    pipeline rerun a year later — allocates identically, with ties on
    the remainder broken by source name. Shape: one agg to |sources|
    rows, then window arithmetic on that dim-sized set."""
    prep(spark)
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(F.sum("n_chars").alias("src_tokens"))
    tot = src.agg(F.sum("src_tokens").alias("total"))
    quota = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "src_tokens",
        F.expr(f"(src_tokens * {_BUDGET}) DIV total").alias("base_alloc"),
        ((F.col("src_tokens") * _BUDGET) % F.col("total")).alias("remainder"),
    )
    # Non-foldable constant partition key (repo idiom, cf. vectors.py):
    # keeps the partition spec so the 10-row global window doesn't plan
    # as an unpartitioned WindowExec warning magnet.
    w_all = Window.partitionBy(F.col("src_tokens") * 0)
    ranked = quota.select(
        "source",
        "src_tokens",
        "base_alloc",
        (F.lit(_BUDGET) - F.sum("base_alloc").over(w_all)).alias("leftover"),
        F.row_number()
        .over(
            Window.partitionBy(F.col("src_tokens") * 0).orderBy(
                F.col("remainder").desc(), "source"
            )
        )
        .alias("rnk"),
    )
    return ranked.select(
        "source",
        "src_tokens",
        (
            F.col("base_alloc")
            + F.when(F.col("rnk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    )


@register(
    "ml_naive_bayes",
    oracle="""
WITH tok AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
  FROM documents
),
train AS (SELECT * FROM tok WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'),
test  AS (SELECT doc_id, token FROM tok
          WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) > 'b'),
classes AS (
  SELECT source AS cls, COUNT(*) AS n_docs FROM documents
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' GROUP BY 1
),
tot AS (SELECT SUM(n_docs) AS n FROM classes),
vocab AS (SELECT DISTINCT token FROM train),
v AS (SELECT COUNT(*) AS v FROM vocab),
tc AS (SELECT token, source AS cls, COUNT(*) AS c FROM train GROUP BY 1, 2),
class_tok AS (SELECT cls, SUM(c) AS tot_tok FROM tc GROUP BY 1),
model AS (
  SELECT vo.token, cl.cls,
         ln((COALESCE(tc.c, 0) + 1.0) / (ct.tot_tok + v.v)) AS loglik
  FROM vocab vo
  CROSS JOIN classes cl
  JOIN class_tok ct ON ct.cls = cl.cls
  CROSS JOIN v
  LEFT JOIN tc ON tc.token = vo.token AND tc.cls = cl.cls
),
priors AS (
  SELECT cls, ln(CAST(n_docs AS DOUBLE) / t.n) AS logprior FROM classes, tot t
),
scores AS (
  SELECT te.doc_id, m.cls, ROUND(p.logprior + SUM(m.loglik), 6) AS score
  FROM test te
  JOIN model m ON m.token = te.token
  JOIN priors p ON p.cls = m.cls
  GROUP BY te.doc_id, m.cls, p.logprior
)
SELECT s.doc_id, s.cls AS predicted, d.source AS actual, s.score
FROM (
  SELECT doc_id, cls, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
  FROM scores
) s
JOIN documents d ON d.doc_id = s.doc_id
WHERE s.rn = 1
""",
    tags=("ml", "classification", "pipeline"),
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes, trained AND applied in one declarative
    plan: a deterministic md5 hash split (~75/25, the same
    leakage-proof split discipline as text_train_test_split) trains a
    bag-of-words source classifier (Laplace add-one smoothing); holdout
    docs are scored and argmax-labeled — the
    relational formulation of the classic fast-text-classifier pass a
    corpus pipeline uses for cheap labeling (topic/source/quality tags)
    before anything GPU-shaped runs.

    The model IS a DataFrame: (token, class, log-likelihood) built from
    one token-count aggregate crossed with the class list — V x C rows,
    broadcastable at any corpus size once the vocab is capped. Scoring
    is a token->model equi-join + per-(doc, class) sum; scores round to
    1e-6 on both engines before the argmax window so reduction-order
    drift cannot flip a rank (min-class tie-break makes exact ties
    deterministic too).

    Unseen test tokens drop out of the inner join (standard OOV-drop
    convention), identically in both engines."""
    prep(spark)
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("token")
    )
    split = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    # Deliberately NOT persisted: the plan re-explodes the corpus per
    # aggregate, but caching the 25x token stream measured 5.9 -> 15.2 s
    # cold — serializing 35M exploded rows costs ~3x more than the
    # codegen'd re-scan+explode it saves. Cache plans, not cheap streams.
    train = tok.where(split <= "b")
    test = tok.where(split > "b").select("doc_id", "token")
    # Class priors come from the DOC grain (no token explode needed);
    # vocab and per-class token totals both derive from the one (token,
    # class) count aggregate — the corpus is exploded exactly twice in
    # the whole plan (model build + scoring join), down from four.
    classes = (
        docs.where(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) <= "b")
        .groupBy(F.col("source").alias("cls"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = classes.agg(F.sum("n_docs").alias("n"))
    tc = train.groupBy("token", F.col("source").alias("cls")).agg(
        F.count(F.lit(1)).alias("c")
    )
    vocab = tc.select("token").distinct()
    v = vocab.agg(F.count(F.lit(1)).alias("v"))
    class_tok = tc.groupBy("cls").agg(F.sum("c").alias("tot_tok"))
    model = (
        vocab.crossJoin(F.broadcast(classes.select("cls")))
        .join(F.broadcast(class_tok), "cls")
        .crossJoin(F.broadcast(v))
        .join(tc, ["token", "cls"], "left")
        .select(
            "token",
            "cls",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                / (F.col("tot_tok") + F.col("v"))
            ).alias("loglik"),
        )
    )
    priors = classes.crossJoin(F.broadcast(tot)).select(
        "cls", F.log(F.col("n_docs").cast("double") / F.col("n")).alias("logprior")
    )
    scores = (
        test.join(F.broadcast(model), "token")
        .join(F.broadcast(priors), "cls")
        .groupBy("doc_id", "cls", "logprior")
        .agg(F.round(F.col("logprior") + F.sum("loglik"), 6).alias("score"))
    )
    pick = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cls"))
    return (
        scores.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .join(docs.select("doc_id", F.col("source").alias("actual")), "doc_id")
        .select("doc_id", F.col("cls").alias("predicted"), "actual", "score")
    )


@register(
    "reco_item_cosine",
    oracle="""
WITH raw AS (
  SELECT o_custkey AS u, p_brand AS item, COUNT(*) AS n_ui
  FROM orders
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN part ON p_partkey = l_partkey
  WHERE o_custkey IS NOT NULL AND p_brand IS NOT NULL
  GROUP BY 1, 2
),
-- heavy-user cap: keep each user's top-20 items by interaction count
-- (deterministic item tie-break) before pair generation, bounding the
-- per-user fan-out at 20*19 pairs however hot the user.
prefs AS (
  SELECT u, item FROM (
    SELECT u, item,
           row_number() OVER (PARTITION BY u ORDER BY n_ui DESC, item) AS r
    FROM raw
  ) WHERE r <= 20
),
item_n AS (SELECT item, COUNT(*) AS n_u FROM prefs GROUP BY item),
pair_n AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_ab
  FROM prefs a JOIN prefs b ON a.u = b.u AND a.item <> b.item
  GROUP BY item_a, item_b
)
SELECT item_a, item_b, CAST(rnk AS INT) AS rnk, n_ab, cos_sim FROM (
  SELECT p.item_a, p.item_b, p.n_ab,
         ROUND(p.n_ab / SQRT(ia.n_u * ib.n_u), 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY p.item_a
           ORDER BY ROUND(p.n_ab / SQRT(ia.n_u * ib.n_u), 6) DESC, p.item_b
         ) AS rnk
  FROM pair_n p
  JOIN item_n ia ON ia.item = p.item_a
  JOIN item_n ib ON ib.item = p.item_b
) WHERE rnk <= 3
""",
    tags=("ml", "recommendation", "similarity", "pipeline"),
)
def reco_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative similarity (binary cosine over customer
    preference vectors, top-3 neighbors per brand): the memory-based
    recommender core — n_ab / sqrt(n_a * n_b) over the distinct
    (customer, brand) preference matrix, the same co-occurrence shape a
    'related items' or query-expansion stage runs over user-item logs.

    Shape: per-user interaction counts (one shuffle), then the
    heavy-user cap — each user keeps only their top-K=20 items by
    interaction count (row_number over the per-user counts,
    deterministic item tie-break) BEFORE pair generation, so one hot
    user contributes at most K*(K-1)/2 generated pairs instead of k² on
    their full item set. Pair counting is a BASKET expansion, not a
    self-join: the capped prefs group into one sorted item array per
    user (riding the cap window's existing hash(u) partitioning — no
    new exchange), i < j combinations expand row-locally and
    partial-aggregate map-side into the vocab²-bounded co-occurrence
    grid, and the (a, b)/(b, a) symmetry is restored by mirroring the
    tiny aggregate — the self-join spelling sorted and shuffled the
    corpus-sized prefs twice and ran the K² expansion through a join
    operator (2x slower at the 25x probe). This is the standard
    item-item discipline at 100 TB scale: the quadratic term is bounded
    by a constant and only the per-user reduction ever shuffles.
    Broadcast item norms, per-item top-k window. Similarities round to
    1e-6 before ranking; item tie-break."""
    prep(spark)
    K = 20  # per-user item cap — bounds pair fan-out at K*(K-1)/2
    raw = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "lineitem"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            table(spark, sf_dir, "part"), F.col("p_partkey") == F.col("l_partkey")
        )
        .where(F.col("o_custkey").isNotNull() & F.col("p_brand").isNotNull())
        .groupBy(F.col("o_custkey").alias("u"), F.col("p_brand").alias("item"))
        .agg(F.count(F.lit(1)).alias("n_ui"))
    )
    cap = Window.partitionBy("u").orderBy(F.desc("n_ui"), "item")
    prefs = (
        raw.withColumn("r", F.row_number().over(cap))
        .where(F.col("r") <= K)
        .select("u", "item")
    )
    # The expensive lineage (3-way join -> per-user counts -> cap window
    # -> basket build) has THREE consumers (item norms, the pair
    # expansion — and the window/agg chain has no exchange of its own,
    # since the groupBys reuse the window's hash(u) partitioning), so an
    # explicit tiny repartition of the per-user baskets creates the
    # exchange boundary every consumer reuses: the fact lineage executes
    # ONCE (measured 9.3 s -> ~5.5 s at native sf1 without it/with it).
    baskets = (
        prefs.groupBy("u")
        .agg(F.sort_array(F.collect_list("item")).alias("items"))
        .repartition("u")
    )
    # Item norms from the UNFILTERED baskets: single-item users still
    # count toward n_u even though they contribute no pairs.
    item_n = (
        baskets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_u"))
    )
    half = (
        baskets.where(F.size("items") >= 2)  # guards sequence(1, 0) descending
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(items) - 1), "
                    "i -> transform(slice(items, i + 1, size(items) - i), "
                    "b -> named_struct('item_a', element_at(items, i), "
                    "'item_b', b))))"
                )
            ).alias("p")
        )
        .groupBy("p.item_a", "p.item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    pair_n = (
        half.unionByName(
            half.select(
                F.col("item_b").alias("item_a"),
                F.col("item_a").alias("item_b"),
                "n_ab",
            )
        )
        .groupBy("item_a", "item_b")
        .agg(F.sum("n_ab").alias("n_ab"))
    )
    scored = (
        pair_n.join(
            F.broadcast(item_n.select(F.col("item").alias("item_a"), F.col("n_u").alias("na"))),
            "item_a",
        )
        .join(
            F.broadcast(item_n.select(F.col("item").alias("item_b"), F.col("n_u").alias("nb"))),
            "item_b",
        )
        .select(
            "item_a",
            "item_b",
            "n_ab",
            F.round(F.col("n_ab") / F.sqrt(F.col("na") * F.col("nb")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("item_a").orderBy(F.desc("cos_sim"), "item_b")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("item_a", "item_b", F.col("rnk").cast("int").alias("rnk"), "n_ab", "cos_sim")
    )


@register(
    "text_mixture_temperature",
    oracle="""
WITH src AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
tot AS (SELECT SUM(n_docs) AS td FROM src),
scaled AS (
  SELECT s.lang, s.n_docs,
         s.n_docs / CAST(t.td AS DOUBLE) AS share,
         CAST(FLOOR(SQRT(s.n_docs / CAST(t.td AS DOUBLE)) * 1000000000 + 0.5)
              AS BIGINT) AS w
  FROM src s CROSS JOIN tot t
),
wt AS (SELECT SUM(w) AS tw FROM scaled)
SELECT s.lang, CAST(s.n_docs AS BIGINT) AS n_docs,
       ROUND(s.share, 6) AS raw_share,
       ROUND(CAST(s.w AS DOUBLE) / CAST(t.tw AS DOUBLE), 6) AS temp_weight,
       CAST((s.w * 100000) // t.tw AS BIGINT) AS alloc_per_100k,
       ROUND((CAST(s.w AS DOUBLE) / CAST(t.tw AS DOUBLE)) / s.share, 6)
         AS boost
FROM scaled s CROSS JOIN wt t
""",
    tags=("text", "pipeline", "sampling", "temperature", "multilingual"),
)
def text_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language-mixture weights (alpha = 0.5): sample
    probability proportional to share^alpha, the standard multilingual
    rebalancing transform — it up-samples tail languages and down-samples
    the head so low-resource languages are seen more than their raw share
    without flattening the mix entirely (alpha 1 = proportional,
    alpha 0 = uniform; 0.5 is the square-root schedule).

    Cross-engine determinism without trusting float SUM order: sqrt of
    an identical double is one correctly-rounded IEEE op in both
    engines, the scaled weight floor(sqrt(share)*1e9 + 0.5) is exact
    int64, the normalizer is an exact INTEGER sum (order-free), and the
    final weight is a single double divide of two exact int64s — the
    same discipline as text_token_budget's largest-remainder arithmetic.
    alloc_per_100k is pure integer floor-division (w * 100000 fits
    int64: w <= 1e9, 5 langs).

    Scale: one scan to a |langs|-row grid; everything after is
    broadcast-sized arithmetic. The boost column is the per-language
    up/down-sampling factor a curation pipeline feeds into
    text_weighted_sample's acceptance threshold."""
    prep(spark)
    docs = table(spark, sf_dir, "documents")
    src = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = src.agg(F.sum("n_docs").alias("td"))
    share = F.col("n_docs") / F.col("td").cast("double")
    scaled = src.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        share.alias("share"),
        F.floor(F.sqrt(share) * 1_000_000_000 + F.lit(0.5))
        .cast("long")
        .alias("w"),
    )
    wt = scaled.agg(F.sum("w").alias("tw"))
    weight = F.col("w").cast("double") / F.col("tw").cast("double")
    return scaled.crossJoin(F.broadcast(wt)).select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round("share", 6).alias("raw_share"),
        F.round(weight, 6).alias("temp_weight"),
        F.expr("(w * 100000) DIV tw").cast("bigint").alias("alloc_per_100k"),
        F.round(weight / F.col("share"), 6).alias("boost"),
    )


# Linear score over the first 8 embedding dims, written as an EXPLICIT
# left-to-right chain on both engines so the float additions happen in
# the identical IEEE order (no list-reduce whose order an engine picks).
_SCORE_DIMS = 8


def _o_score() -> str:
    return " + ".join(
        f"CAST(embedding[{i}] AS DOUBLE)" for i in range(1, _SCORE_DIMS + 1)
    )


@register(
    "ml_eval_auc",
    oracle=f"""
WITH scored AS (
  SELECT vec_id,
         ROUND({_o_score()}, 9) AS s,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL
    AND isfinite(list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
),
ranked AS (
  SELECT y, s,
         RANK() OVER (ORDER BY s) AS r,
         COUNT(*) OVER (PARTITION BY s) AS tied
  FROM scored
),
agg AS (
  SELECT SUM(CASE WHEN y = 1 THEN r + (tied - 1) / 2.0 ELSE 0 END) AS r1,
         SUM(y) AS n_pos,
         SUM(1 - y) AS n_neg,
         SUM(CASE WHEN y = 1 AND s > 0 THEN 1
                  WHEN y = 0 AND s <= 0 THEN 1 ELSE 0 END) AS n_correct
  FROM ranked
)
SELECT CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       ROUND((r1 - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6) AS auc,
       ROUND(CAST(n_correct AS DOUBLE) / (n_pos + n_neg), 6) AS accuracy
FROM agg
WHERE n_pos > 0 AND n_neg > 0
""",
    tags=("ml", "evaluation", "auc", "ranking", "pipeline"),
)
def ml_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation metrics without MLlib: tie-aware ROC AUC (the
    rank-sum identity AUC = (R1 - n1(n1+1)/2) / (n1*n0), i.e. the
    Mann-Whitney U statistic normalized) plus threshold-0 accuracy, for
    a deterministic linear score over the embedding table against the
    binary task label<5.

    Exactness: the score is an EXPLICIT 8-term left-to-right float sum
    (identical IEEE order in both engines), rounded to 1e-9; ranks are
    integers and the tie adjustment (tied-1)/2 is a half-integer, so R1
    is an exactly-representable half-integer sum — order-independent —
    and AUC is one division at the edge.

    Scale: the rank-sum needs only PER-SCORE sufficient statistics, so
    the table first reduces to one row per distinct score (n, positives
    — map-side combinable), ranks come from a range-partitioned running
    sum over that reduction (operators/rank.py — never a bare
    ORDER-BY-window, which serializes into one task), and R1 assembles
    from min_rank + (n-1)/2 per score. Feature vectors never shuffle —
    only (score, label) pairs leave the scan.
    """
    from ..operators.rank import global_cumsum

    prep(spark)
    emb = table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    from ..operators.similarity import sq_norm
    from .vectors import to_double

    _n = sq_norm(to_double("embedding"))
    emb = emb.where((_n != F.lit(float("inf"))) & ~F.isnan(_n))
    score = F.round(
        sum(
            F.element_at("embedding", i).cast("double")
            for i in range(1, _SCORE_DIMS + 1)
        ),
        9,
    )
    scored = emb.select(
        score.alias("s"),
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
    )
    per_score = scored.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_s"),
        F.sum("y").alias("pos_s"),
    )
    cum = global_cumsum(per_score, ["s"], "n_s")
    # tie-aware average rank for every row sharing score s
    avg_rank = (
        (F.col("cum") - F.col("n_s") + 1) + (F.col("n_s") - 1) / F.lit(2.0)
    )
    agg = cum.agg(
        F.sum(F.col("pos_s") * avg_rank).alias("r1"),
        F.sum("pos_s").alias("n_pos"),
        F.sum(F.col("n_s") - F.col("pos_s")).alias("n_neg"),
        F.sum(
            F.when(F.col("s") > 0, F.col("pos_s")).otherwise(
                F.col("n_s") - F.col("pos_s")
            )
        ).alias("n_correct"),
    )
    np_, nn = F.col("n_pos"), F.col("n_neg")
    return agg.where((np_ > 0) & (nn > 0)).select(
        np_.cast("bigint").alias("n_pos"),
        nn.cast("bigint").alias("n_neg"),
        F.round(
            (F.col("r1") - np_ * (np_ + 1) / F.lit(2.0)) / (np_ * nn), 6
        ).alias("auc"),
        F.round(F.col("n_correct").cast("double") / (np_ + nn), 6).alias(
            "accuracy"
        ),
    )


@register(
    "sample_kfold_assign",
    oracle="""
WITH folds AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5('kf|' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 5 AS fold
  FROM documents
)
SELECT CAST(fold AS INT) AS fold,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT lang) AS n_langs,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM folds
GROUP BY fold
ORDER BY fold
""",
    tags=("sampling", "cross-validation", "pipeline", "deterministic"),
)
def sample_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment (k=5) for cross-validation: fold
    = md5('kf|' || doc_id) mod k — a pure function of the key, so the
    folds are reproducible across runs, engines, and cluster sizes with
    NO stored split table and no driver-side randomness (same contract
    as sample_train_test_split, which this generalizes from 2 to k
    partitions of the keyspace).

    Verified per fold: document count, language coverage, and the id
    range — the leakage check a pipeline runs before training k models.

    Scale: fold assignment is a map-only expression (zero shuffle); the
    per-fold audit is one small groupBy. Grouped variants (all of one
    author/source in the same fold to stop leakage) swap the hash input
    for the group key — same plan.
    """
    prep(spark)
    doc = table(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5(F.concat(F.lit("kf|"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("bigint")
        % 5
    )
    return (
        doc.select("doc_id", "lang", fold.alias("fold"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
        )
        .select(F.col("fold").cast("int").alias("fold"), "n_docs", "n_langs",
                "min_doc", "max_doc")
        .orderBy("fold")
    )


@register(
    "ml_eval_calibration",
    oracle=f"""
WITH scored AS (
  SELECT vec_id,
         ROUND({_o_score()}, 9) AS s,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL
    AND isfinite(list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
),
probs AS (
  SELECT vec_id, y,
         ROUND(0.5 * (1.0 + s / (1.0 + ABS(s))), 9) AS p
  FROM scored
),
binned AS (
  SELECT y, p, NTILE(10) OVER (ORDER BY p, vec_id) AS bin
  FROM probs
)
SELECT CAST(bin AS INT) AS bin,
       COUNT(*) AS n,
       ROUND(SUM(p) / COUNT(*), 6) AS mean_p,
       ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS frac_pos,
       ROUND(SUM(p) / COUNT(*) - CAST(SUM(y) AS DOUBLE) / COUNT(*), 6)
         AS gap
FROM binned
GROUP BY bin
ORDER BY bin
""",
    tags=("ml", "evaluation", "calibration", "pipeline"),
)
def ml_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability bins for the same deterministic linear
    score ml_eval_auc ranks: scores squash through the RATIONAL sigmoid
    surrogate p = (1 + s/(1+|s|))/2 (algebraic — no exp whose last-ulp
    behavior could differ between engines), probabilities split into
    NTILE(10) deciles with id tie-breaks, and each bin reports mean
    predicted probability vs realized positive rate — the
    miscalibration gap a training pipeline tracks per checkpoint
    alongside AUC.

    Exactness: p is rounded to 1e-9 per row before the per-bin sum
    (round-before-sum discipline); positives are exact integers; the
    three reported ratios divide once at the edge.

    Scale: deciles via operators/rank.py's two-pass range-partitioned
    global rank + the SQL NTILE remainder rule — NOT a bare
    ORDER-BY-window, which would serialize the table into one task.
    The NTILE denominator rides the rank's own offsets aggregate
    (total=...) instead of a crossJoin(count) branch, which would
    re-scan the embedding table for one scalar; per-bin reduction is
    map-side combinable. Feature vectors never shuffle — only (p, y)
    pairs leave the scan, exactly once.
    """
    from ..operators.rank import global_row_number, ntile_from_rank

    prep(spark)
    emb = table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    from ..operators.similarity import sq_norm
    from .vectors import to_double

    _n = sq_norm(to_double("embedding"))
    emb = emb.where((_n != F.lit(float("inf"))) & ~F.isnan(_n))
    s = F.round(
        sum(
            F.element_at("embedding", i).cast("double")
            for i in range(1, _SCORE_DIMS + 1)
        ),
        9,
    )
    probs = emb.select(
        "vec_id",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
        F.round(
            0.5 * (F.lit(1.0) + s / (F.lit(1.0) + F.abs(s))), 9
        ).alias("p"),
    )
    binned = global_row_number(
        probs, ["p", "vec_id"], total="n_total"
    ).select(
        "y",
        "p",
        ntile_from_rank(F.col("rn"), F.col("n_total"), 10).alias("bin"),
    )
    n = F.count(F.lit(1))
    return (
        binned.groupBy("bin")
        .agg(
            n.alias("n"),
            F.round(F.sum("p") / n, 6).alias("mean_p"),
            F.round(F.sum("y").cast("double") / n, 6).alias("frac_pos"),
            F.round(
                F.sum("p") / n - F.sum("y").cast("double") / n, 6
            ).alias("gap"),
        )
        .select(F.col("bin").cast("int").alias("bin"), "n", "mean_p",
                "frac_pos", "gap")
        .orderBy("bin")
    )


@register(
    "ml_nearest_centroid",
    oracle="""
WITH dims AS (
  SELECT vec_id, label,
         CAST(FLOOR(CAST(embedding[g.d] AS DOUBLE) * 10000 + 0.5)
              AS BIGINT) AS x4,
         g.d
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS g(d)
  WHERE embedding IS NOT NULL AND label IS NOT NULL
    AND isfinite(list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
),
cent AS (
  SELECT label AS c_label, d, SUM(x4) AS s, COUNT(*) AS n_l
  FROM dims GROUP BY label, d
),
-- n_l is per (label, dim) but constant across dims of one label
scores AS (
  SELECT v.vec_id, v.label AS actual, c.c_label,
         SUM((v.x4 * c.n_l - c.s) * (v.x4 * c.n_l - c.s)) AS dist2_scaled,
         MAX(c.n_l) AS n_l
  FROM dims v JOIN cent c ON c.d = v.d
  GROUP BY v.vec_id, v.label, c.c_label
),
ranked AS (
  SELECT vec_id, actual, c_label,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY CAST(dist2_scaled AS DOUBLE) / (n_l * n_l), c_label
         ) AS rk
  FROM scores
)
SELECT actual, c_label AS predicted, COUNT(*) AS n
FROM ranked WHERE rk = 1
GROUP BY actual, predicted
ORDER BY actual, predicted
""",
    tags=("ml", "classification", "centroid", "confusion-matrix"),
)
def ml_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classifier trained and scored in one plan: per-
    label centroids from the embedding table (exact scaled-integer dim
    sums), every vector assigned to the closest centroid by squared
    L2, reported as the confusion matrix (actual x predicted counts) —
    the train+score+eval loop beside ml_logistic_inference and
    ml_naive_bayes, and the label-supervised dual of the k-means row.

    Exactness: distance comparisons need sum_d (x_d - s_d/n)^2 across
    labels with different n. Vectors quantize to a DECLARED 1e-4 grid
    (x4) and each term is kept as the EXACT integer (x4*n - s)^2 —
    int64-safe while d*(n*max|x|*1e4)^2 < 2^63, i.e. per-label n up to
    ~7e4 at d=64, |x|<=0.6 (measured 25x probe headroom ~30x; past
    that, square through DECIMAL(38,0)/HUGEINT — same values, slower
    agg) — summed exactly per (vec, label), and divided by n^2 as ONE
    double op for the cross-label argmin with a label tie-break.

    Scale: centroids are a |labels|x|dims| table — broadcast; scoring
    explodes each vector once and reduces (vec,label) partial sums
    map-side. The resulting confusion matrix is |labels|^2 rows. No
    all-pairs anything.
    """
    prep(spark)
    from ..operators.similarity import sq_norm
    from .vectors import to_double

    _n = sq_norm(to_double("embedding"))
    dims = table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
        & (_n != F.lit(float("inf"))) & ~F.isnan(_n)
    ).select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("d0", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("d0") + 1).alias("d"),
        F.floor(F.col("x").cast("double") * 10_000 + F.lit(0.5))
        .cast("long")
        .alias("x4"),
    )
    cent = dims.groupBy(F.col("label").alias("c_label"), "d").agg(
        F.sum("x4").alias("s"), F.count(F.lit(1)).alias("n_l")
    )
    diff = F.col("x4") * F.col("n_l") - F.col("s")
    scores = (
        dims.join(F.broadcast(cent), "d")
        .groupBy("vec_id", F.col("label").alias("actual"), "c_label")
        .agg(
            F.sum(diff * diff).alias("dist2_scaled"),
            F.max("n_l").alias("n_l"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dist2_scaled").cast("double") / (F.col("n_l") * F.col("n_l")),
        "c_label",
    )
    return (
        scores.select(
            "actual", "c_label", F.row_number().over(w).alias("rk")
        )
        .where(F.col("rk") == 1)
        .groupBy("actual", F.col("c_label").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("actual", "predicted")
    )


@register(
    "ml_eval_prf",
    oracle=f"""
WITH dims AS (
  SELECT vec_id, label,
         CAST(FLOOR(CAST(embedding[g.d] AS DOUBLE) * 10000 + 0.5)
              AS BIGINT) AS x4,
         g.d
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS g(d)
  WHERE embedding IS NOT NULL AND label IS NOT NULL
    AND isfinite(list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
),
cent AS (
  SELECT label AS c_label, d, SUM(x4) AS s, COUNT(*) AS n_l
  FROM dims GROUP BY label, d
),
scores AS (
  SELECT v.vec_id, v.label AS actual, c.c_label,
         SUM((v.x4 * c.n_l - c.s) * (v.x4 * c.n_l - c.s)) AS dist2_scaled,
         MAX(c.n_l) AS n_l
  FROM dims v JOIN cent c ON c.d = v.d
  GROUP BY v.vec_id, v.label, c.c_label
),
pred AS (
  SELECT vec_id, actual, c_label AS predicted,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY CAST(dist2_scaled AS DOUBLE) / (n_l * n_l), c_label
         ) AS rk
  FROM scores
),
p1 AS (SELECT actual, predicted FROM pred WHERE rk = 1),
cls AS (SELECT DISTINCT actual AS cls FROM p1),
m AS (
  SELECT cls,
         (SELECT COUNT(*) FROM p1 WHERE actual = cls AND predicted = cls)
           AS tp,
         (SELECT COUNT(*) FROM p1 WHERE predicted = cls) AS pred_n,
         (SELECT COUNT(*) FROM p1 WHERE actual = cls) AS actual_n
  FROM cls
)
SELECT CAST(cls AS INT) AS cls,
       CAST(tp AS BIGINT) AS tp,
       CAST(actual_n AS BIGINT) AS support,
       ROUND(CAST(tp AS DOUBLE) / NULLIF(pred_n, 0), 6) AS precision_,
       ROUND(CAST(tp AS DOUBLE) / NULLIF(actual_n, 0), 6) AS recall_,
       ROUND(2.0 * tp / NULLIF(pred_n + actual_n, 0), 6) AS f1
FROM m
ORDER BY cls
""",
    tags=("ml", "evaluation", "precision-recall", "pipeline"),
)
def ml_eval_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 over the nearest-centroid
    classifier's predictions — the class-level report card that the
    confusion matrix (ml_nearest_centroid) rolls up to, using the
    ties-stable F1 = 2tp/(pred_n + actual_n) identity so no
    intermediate precision/recall float feeds another divide.

    All three ratios are integer-over-integer single divides; empty
    denominators (a class never predicted) yield NULL via NULLIF on
    both engines.

    Scale: same single-pass centroid scoring as ml_nearest_centroid
    (broadcast centroid table, map-side partial sums); the per-class
    rollup is |labels| rows wide.
    """
    prep(spark)
    pred = QUERIES["ml_nearest_centroid"].fn(spark, sf_dir)
    # pred = (actual, predicted, n) confusion cells
    tp = pred.where(F.col("actual") == F.col("predicted")).select(
        F.col("actual").alias("cls"), F.col("n").alias("tp")
    )
    pred_n = pred.groupBy(F.col("predicted").alias("cls")).agg(
        F.sum("n").alias("pred_n")
    )
    actual_n = pred.groupBy(F.col("actual").alias("cls")).agg(
        F.sum("n").alias("actual_n")
    )
    m = (
        actual_n.join(pred_n, "cls", "full")
        .join(tp, "cls", "left")
        .select(
            "cls",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("pred_n", F.lit(0)).alias("pred_n"),
            F.coalesce("actual_n", F.lit(0)).alias("actual_n"),
        )
    )
    return m.select(
        F.col("cls").cast("int").alias("cls"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("actual_n").cast("bigint").alias("support"),
        F.round(
            F.col("tp").cast("double") / F.nullif(F.col("pred_n"), F.lit(0)), 6
        ).alias("precision_"),
        F.round(
            F.col("tp").cast("double") / F.nullif(F.col("actual_n"), F.lit(0)),
            6,
        ).alias("recall_"),
        F.round(
            2.0 * F.col("tp") / F.nullif(F.col("pred_n") + F.col("actual_n"), F.lit(0)),
            6,
        ).alias("f1"),
    ).orderBy("cls")


@register(
    "ml_conformal_interval",
    oracle="""
WITH v AS (
  SELECT CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS x,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y,
         l_orderkey, l_linenumber
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
),
s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
  FROM v
),
fit AS (
  SELECT n,
         (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0) AS b,
         (sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0) * sx)
           / n AS a
  FROM s
),
res AS (
  -- r IS NOT NULL: a zero-variance x draw NULLs the fit, and NULL rank
  -- order differs across engines — drop before ranking on both
  SELECT CAST(ROUND(ABS(y - (a + b * x)), 0) AS BIGINT) AS r,
         l_orderkey, l_linenumber
  FROM v CROSS JOIN fit
  WHERE a + b * x IS NOT NULL
),
ranked AS (
  SELECT r,
         ROW_NUMBER() OVER (ORDER BY r, l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER () AS n
  FROM res
),
q AS (
  SELECT r AS q_cents, n
  FROM ranked
  WHERE rn = LEAST(CAST(CEIL((n + 1) * 0.9) AS BIGINT), n)
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(q_cents AS DOUBLE) / 100.0 AS q_hat,
       ROUND((SELECT CAST(SUM(CASE WHEN r <= q_cents THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*) FROM res), 6) AS coverage
FROM q
""",
    tags=("ml", "conformal", "uncertainty", "regression", "pipeline"),
    bench=True,
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the price~quantity
    regression: fit OLS from exact sufficient statistics, take the
    ceil((n+1)*0.9)-th order statistic of the absolute residuals as
    the 90% conformal radius q_hat, and report realized coverage —
    the distribution-free uncertainty wrapper modern ML eval puts
    around ANY point predictor (here the linear model doubles as the
    demo predictor).

    Exactness: the slope/intercept come from exact integer sums via
    identical expression text; residuals quantize back to an exact
    integer cents grid BEFORE ranking, so the conformal quantile is a
    PICKED integer (order statistic by pinned rank with id tie-breaks)
    and coverage is an integer ratio.

    Scale: one sufficient-statistics pass (scalar), one residual map
    checkpointed as a narrow long column, and the order statistic +
    realized coverage read off an exact two-level bucket selection over
    the residual VALUE RANGE (a few thousand 4096-cent buckets, then
    <= 4096 distinct values inside the target bucket — both bounded by
    the domain, not the corpus). Two fact passes total; nothing
    quadratic, nothing driver-side.
    """
    from ..functions.exact import scaled_long

    prep(spark)
    v = table(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    ).select(
        scaled_long("l_quantity").alias("x"),
        scaled_long("l_extendedprice").alias("y"),
        "l_orderkey",
        "l_linenumber",
    )
    s = v.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    b = (n * sxy - sx * sy) / F.nullif(n * sxx - sx * sx, F.lit(0.0))
    fit = s.select(n.alias("n"), b.alias("b"), ((sy - b * sx) / n).alias("a"))
    pred = F.col("a") + F.col("b") * F.col("x")
    # The residual column (one long per fact row, narrow blocks at scan
    # partitioning — no exchange) is read by both selection passes below.
    res = materialize_once(
        v.crossJoin(F.broadcast(fit))
        .where(pred.isNotNull())
        .select(F.round(F.abs(F.col("y") - pred), 0).cast("long").alias("r"))
    )
    # k-th order statistic by EXACT bucket selection (r9). The r7/r8
    # shape ranged-cumsum'd the per-distinct-residual counts
    # (operators/rank.py global_cumsum) on the theory that groupBy(r)
    # collapses the fact to its value domain — but the residual domain
    # here is nearly as large as the fact table (stage probe: ~4 MB of
    # distinct-r rows reshuffled 3x by the range sampler + range
    # exchange + offsets, ~4.4 s task time, MORE than both fact
    # passes). What IS bounded is the residual's VALUE RANGE: integer
    # cents, so 4096-cent buckets (shiftright 12) give a few thousand
    # bucket rows regardless of corpus size. Selection: (1) bucket
    # counts (map-side partial agg collapses hard), cumsum over the
    # REDUCED bucket table (single-partition window over thousands of
    # rows — the rank.py module policy: fine after reduction, never on
    # facts); (2) the target bucket's rows re-read from the checkpoint
    # blocks (<= 4096 distinct r by construction), in-bucket cumsum on
    # top of the bucket base locates q = the first r whose inclusive
    # count reaches k, and coverage IS that row's (base+cum)/n — the
    # same inclusive-count semantics as the old global_cumsum pick,
    # value-identical for any k.
    bkt = res.groupBy(F.shiftright("r", 12).alias("bk")).agg(
        F.count(F.lit(1)).alias("bc")
    )
    wb = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, 0)
    bcum = bkt.select("bk", "bc", F.sum("bc").over(wb).alias("bcum"))
    tot = bkt.agg(F.sum("bc").alias("n")).select(
        "n",
        F.least(
            F.ceil((F.col("n") + 1) * 0.9).cast("long"), F.col("n")
        ).alias("k"),
    )
    target = (
        bcum.crossJoin(F.broadcast(tot))
        .where(F.col("bcum") >= F.col("k"))
        .orderBy("bk")
        .limit(1)
        .select(
            F.col("bk").alias("tbk"),
            (F.col("bcum") - F.col("bc")).alias("base"),
            "n",
            "k",
        )
    )
    inb = (
        res.crossJoin(F.broadcast(target))
        .where(F.shiftright("r", 12) == F.col("tbk"))
        .groupBy("r", "base", "n", "k")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wq = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
    q = (
        inb.select(
            "r", "n", "k", (F.col("base") + F.sum("c").over(wq)).alias("cum")
        )
        .where(F.col("cum") >= F.col("k"))
        .orderBy("r")
        .limit(1)
    )
    return q.select(
        F.col("n").cast("bigint").alias("n"),
        (F.col("r").cast("double") / 100.0).alias("q_hat"),
        F.round(F.col("cum").cast("double") / F.col("n"), 6).alias(
            "coverage"
        ),
    )


_ER_SHIFT = 10_000_000


@register(
    "er_pipeline",
    oracle=f"""
WITH RECURSIVE corpus AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer
  UNION ALL
  SELECT c_custkey + {_ER_SHIFT},
         regexp_replace(c_name, '#0', '#O'),
         c_nationkey, c_mktsegment,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)
  FROM customer WHERE c_custkey % 11 = 0
),
pairs AS (
  SELECT a.c_custkey AS ka, b.c_custkey AS kb
  FROM corpus a JOIN corpus b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.c_custkey < b.c_custkey
  WHERE a.cents = b.cents
    AND levenshtein(a.c_name, b.c_name) <= 2
),
ee AS (SELECT ka AS s, kb AS d FROM pairs UNION SELECT kb, ka FROM pairs),
n AS (SELECT DISTINCT s AS node FROM ee),
reach(node, r) AS (
  SELECT node, node FROM n
  UNION
  SELECT ee.s, reach.r FROM ee JOIN reach ON ee.d = reach.node
),
lab AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id
)
SELECT CAST(cluster_id AS BIGINT) AS canonical_key,
       CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(ROW_NUMBER() OVER (ORDER BY cluster_size DESC, cluster_id)
            AS INT) AS rk
FROM sizes
QUALIFY rk <= 20
ORDER BY rk
""",
    tags=("pipeline", "entity-resolution", "blocking", "fuzzy",
          "iterative"),
    bench=True,
)
def er_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: a corpus with injected near-
    duplicate records (every 11th customer re-enters with a '#0'->'#O'
    name typo — anchored to the unique '#' so BOTH engines replace
    exactly one character; bare '0' would hit all digits on Spark and
    only the first on DuckDB) runs BLOCK -> SCORE -> CLUSTER -> CANONICALIZE in one
    plan — blocking on (nation, segment) bounds the quadratic term to
    block size, scoring is exact-balance equality + levenshtein <= 2 on
    candidates ONLY, matches close transitively through the min-label
    components loop (operators/components.py), and each cluster
    reports its canonical (min) key — the full dedup-merge pipeline a
    master-data system runs, composed from the engine's own operators
    (join_fuzzy_linkage's scoring, text_dedup_clusters' clustering).

    The oracle is an independent recursive-CTE transitive closure over
    the same blocked-scored pair set.

    Scale: never all-pairs — candidate generation is an equi-join on
    the block key (salt hot blocks like reco's cap if a block explodes);
    the propagation loop is Pregel-shaped with diameter-bounded rounds.
    """
    from ..functions.exact import scaled_long
    from ..operators.components import connected_components

    prep(spark)
    cust = table(spark, sf_dir, "customer")
    base = cust.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        scaled_long("c_acctbal").alias("cents"),
    )
    mutated = (
        cust.where(F.col("c_custkey") % 11 == 0)
        .select(
            (F.col("c_custkey") + _ER_SHIFT).alias("c_custkey"),
            F.regexp_replace("c_name", "#0", "#O").alias("c_name"),
            "c_nationkey",
            "c_mktsegment",
            scaled_long("c_acctbal").alias("cents"),
        )
    )
    corpus = base.unionByName(mutated)
    b = corpus.select(
        F.col("c_custkey").alias("kb"),
        F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.col("cents").alias("cents_b"),
    )
    pairs = (
        corpus.join(
            b,
            (F.col("c_nationkey") == F.col("nk"))
            & (F.col("c_mktsegment") == F.col("seg"))
            & (F.col("c_custkey") < F.col("kb")),
        )
        .where(
            (F.col("cents") == F.col("cents_b"))
            & (F.levenshtein("c_name", "name_b") <= 2)
        )
        .select(F.col("c_custkey").alias("ka"), "kb")
    )
    labels = connected_components(pairs, "ka", "kb")
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    w = Window.orderBy(F.desc("cluster_size"), "cluster_id")
    return (
        sizes.select(
            F.col("cluster_id").cast("bigint").alias("canonical_key"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .where(F.col("rk") <= 20)
        .orderBy("rk")
    )
