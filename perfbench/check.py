"""The result check: every query execution against DuckDB's result for
that query's oracle SQL on the same files, by the program's canonical
comparison (``oracle.compare``)."""

from __future__ import annotations

import hashlib
import pickle
import time
from pathlib import Path


def oracle_results(data_dir: Path, names: tuple[str, ...]) -> tuple[dict, dict]:
    """DuckDB's result per query and the seconds it took, computed once
    per input draw and stored beside the inputs (``oracle.pkl``) with a
    digest of the query's oracle SQL: a result whose SQL has changed since
    is made anew. Delete that file to make them all anew."""
    from vault_8_hive_spark.queries import all_queries

    registry = all_queries()
    sql = {n: registry[n].oracle for n in names}
    digest = {n: hashlib.sha256(q.encode()).hexdigest() for n, q in sql.items()}
    path = data_dir / "oracle.pkl"
    stored = {}
    if path.exists():
        with open(path, "rb") as fh:
            stored = pickle.load(fh)
    stale = [n for n in names if stored.get(n, {}).get("sql_sha256") != digest[n]]
    if stale:
        from vault_8_hive_spark.oracle import duckdb_conn

        conn = duckdb_conn(str(data_dir))
        try:
            for n in stale:
                t = time.perf_counter()
                result = conn.execute(sql[n]).df()
                stored[n] = {
                    "sql_sha256": digest[n],
                    "result": result,
                    "seconds": time.perf_counter() - t,
                }
        finally:
            conn.close()
        tmp = path.with_suffix(".tmp")
        with open(tmp, "wb") as fh:
            pickle.dump(stored, fh)
        tmp.replace(path)
    return {n: stored[n]["result"] for n in names}, {n: stored[n]["seconds"] for n in names}


def check(name: str, result, expected) -> str:
    """'' when ``result`` matches ``expected``, else what differs."""
    from vault_8_hive_spark.oracle import compare

    report = compare(name, result, expected)
    return "" if report.ok else report.detail or "mismatch"
