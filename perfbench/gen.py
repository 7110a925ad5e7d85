"""Seeded input generator for the benchmark.

Writes the ten tables the query registry reads (region nation customer
supplier part orders lineitem events documents embeddings), one landing
parquet file each, with the column names, types and categorical domains of
the TPC-H-ish test data (TESTDATA.md). The program never makes
these inputs, so a change to the program cannot change them.

A draw has three knobs besides the seed:

- ``scale``: rows of the base draw's relational and event tables, 1.0
  being the sf0.01 row counts (lineitem 60,000; orders 15,000).
- ``doc_scale``: the same for documents and embeddings (1.0 = 500 each).
- ``replicas``: the base draw is written ``replicas`` times. Every key
  column gets a per-replica offset, so joins stay key-correct and
  replicas never join one another. Every document word gets a
  per-replica tag (``r3join``), so a replica's near-duplicate structure
  is that of the base and no document of one replica resembles one of
  another. Region, nation and embeddings are written once: no workload
  reads embeddings, and the file is there for the DuckDB oracle's views.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDERSTATUS = ["F", "O", "P"]
RETURNFLAGS = ["A", "N", "R"]
LINESTATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.13, 0.14, 0.15]
P_TYPES = ["ECONOMY", "PROMO", "MEDIUM", "STANDARD", "LARGE", "SMALL"]
P_ADJ = ["small", "red", "blue", "hot", "cold", "green", "shiny", "dull"]
P_NOUN = ["ring", "widget", "bolt", "gear", "cog", "pin", "plate", "tube"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the and"
).split()
DIM = 64

# Per-replica key offsets: wide enough that replicas never collide.
KEY_STRIDE = {
    "o_orderkey": 1_000_000_000,
    "l_orderkey": 1_000_000_000,
    "o_custkey": 100_000_000,
    "c_custkey": 100_000_000,
    "l_suppkey": 10_000_000,
    "s_suppkey": 10_000_000,
    "l_partkey": 100_000_000,
    "p_partkey": 100_000_000,
    "event_id": 1_000_000_000,
    "user_id": 100_000_000,
    "doc_id": 10_000_000,
    "vec_id": 10_000_000,
}

SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "supplier": pa.schema(
        [
            ("s_suppkey", pa.int64()),
            ("s_name", pa.string()),
            ("s_nationkey", pa.int32()),
            ("s_acctbal", pa.float64()),
        ]
    ),
    "part": pa.schema(
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ]
    ),
    "orders": pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string()),
        ]
    ),
    "lineitem": pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us")),
        ]
    ),
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
    "embeddings": pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
    ),
}
TABLES = tuple(SCHEMAS)


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    lo64 = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - lo64) / np.timedelta64(1, "D"))
    return (lo64 + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Word salad over the test data's 31-word vocabulary, 8-100 words a
    document. About 5% of documents are an earlier document plus the word
    ``dup`` (near duplicates) and 0.2% are exact copies, as in the test
    data."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(8, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    for i in rng.choice(np.arange(n // 2, n), size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))] + " dup"
    for i in rng.choice(np.arange(n // 2, n), size=max(1, n // 500), replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))]
    return texts


def base_tables(seed: int, scale: float, doc_scale: float) -> dict[str, dict]:
    """One draw of every table as column dicts (numpy arrays or lists)."""
    rng = np.random.default_rng(seed)
    n_cust = int(1500 * scale)
    n_ord = int(15000 * scale)
    n_li = int(60000 * scale)
    n_part = int(2000 * scale)
    n_supp = max(int(100 * scale), 10)
    n_ev = int(10000 * scale)
    n_doc = max(int(500 * doc_scale), 100)
    n_users = max(int(150 * scale), 20)

    ok = np.sort(rng.integers(0, n_ord, n_li))
    _, first = np.unique(ok, return_index=True)
    starts = np.repeat(first, np.diff(np.append(first, n_li)))
    texts = _documents(rng, n_doc)
    emb = rng.normal(0.0, 1.0, (n_doc, DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    return {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(rng.choice(P_ADJ, n_part), " "), rng.choice(P_NOUN, n_part)
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": rng.choice(ORDERSTATUS, n_ord, p=[0.48, 0.48, 0.04]),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": ok.astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
            "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(RETURNFLAGS, n_li),
            "l_linestatus": rng.choice(LINESTATUS, n_li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts0 + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(np.clip(np.exp(rng.normal(3.5, 1.0, n_ev)), 0.01, 560.0), 2),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"
            ),
        },
        "documents": {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        "embeddings": {
            "vec_id": np.arange(n_doc, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n_doc, dtype=np.int32),
        },
    }


def _replica(name: str, cols: dict, r: int) -> pa.Table:
    out = {}
    for col, values in cols.items():
        if col in KEY_STRIDE:
            values = np.asarray(values) + r * KEY_STRIDE[col]
        elif col == "text":
            values = [f"r{r}" + t.replace(" ", f" r{r}") for t in values]
        elif col == "n_chars":
            values = np.array([len(t) for t in out["text"]], dtype=np.int64)
        out[col] = values
    return pa.Table.from_pydict(out, schema=SCHEMAS[name])


def generate(
    out: Path, seed: int, scale: float, doc_scale: float, replicas: int
) -> dict[str, int]:
    """Write every table under ``out``; returns row counts per table."""
    out.mkdir(parents=True, exist_ok=True)
    base = base_tables(seed, scale, doc_scale)
    rows = {}
    for name, cols in base.items():
        reps = 1 if name in ("region", "nation", "embeddings") else replicas
        table = pa.concat_tables(_replica(name, cols, r) for r in range(reps))
        pq.write_table(table, out / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows
