"""Test of the benchmark's result check.

    python3 -m pytest perfbench/test_check.py -q

A query's DuckDB result on a small generated draw stands in for an
execution's result: reordered, it must pass; with one row dropped or one
value changed, ``run.verify`` must count the execution as failed.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

QUERIES = ("pricing_summary", "text_minhash_lsh")


@pytest.fixture(scope="module")
def expected(tmp_path_factory):
    data = tmp_path_factory.mktemp("draw")
    gen.generate(data, seed=5, scale=0.2, doc_scale=0.4, replicas=2)
    return check.oracle_results(data, QUERIES)[0]


def _verify(name: str, result, expected) -> tuple[int, int, list[str]]:
    record = {"passes": [{"label": "p0", "queries": [{"query": name}]}]}
    return run.verify(record, [("p0", name, result)], expected)


@pytest.mark.parametrize("name", QUERIES)
def test_true_result_passes(name, expected):
    true = expected[name].sample(frac=1.0, random_state=1)  # another row order
    true = true[list(reversed(true.columns))]  # and column order
    assert len(true) > 1
    assert _verify(name, true, expected) == (1, 0, [])


@pytest.mark.parametrize("name", QUERIES)
def test_dropped_row_fails(name, expected):
    attempted, failed, problems = _verify(name, expected[name].iloc[1:], expected)
    assert (attempted, failed) == (1, 1)
    assert "wrong result" in problems[0]


@pytest.mark.parametrize("name", QUERIES)
def test_changed_value_fails(name, expected):
    wrong = expected[name].copy()
    col = wrong.columns[-1]
    value = wrong.at[wrong.index[0], col]
    wrong.at[wrong.index[0], col] = value + 1 if not isinstance(value, str) else value + "x"
    attempted, failed, problems = _verify(name, wrong, expected)
    assert (attempted, failed) == (1, 1)
    assert "wrong result" in problems[0]


def test_raised_execution_fails(expected):
    record = {"passes": [{"label": "p0", "queries": [{"query": "q", "error": "boom"}]}]}
    assert run.verify(record, [], expected)[:2] == (1, 1)
