"""The big gate: every oracle-checkable query in the catalog must
hash-match DuckDB on the same parquet — the local mirror of the
driver's CORRECTNESS check. Rows-only queries are smoke-checked
(runs + returns a stable schema)."""

from __future__ import annotations

import os

import pytest

from kafka_s3_etl_spark.plans.etl import REFERENCE_INPUTS
from kafka_s3_etl_spark.plans.registry import all_queries
from tests.oracle import compare

_QUERIES = all_queries()


def _params(names: list[str]) -> list:
    """Entry names as pytest params; an entry that reads a reference
    file skips, with the reason, where that file is absent."""
    return [
        pytest.param(
            n,
            marks=pytest.mark.skipif(
                not os.path.exists(REFERENCE_INPUTS[n]),
                reason=f"reference data not available: {REFERENCE_INPUTS[n]}",
            ),
        )
        if n in REFERENCE_INPUTS
        else n
        for n in names
    ]


_ORACLE = _params([n for n, q in _QUERIES.items() if q.oracle is not None])
_ROWS_ONLY = _params([n for n, q in _QUERIES.items() if q.oracle is None])


@pytest.mark.parametrize("name", _ORACLE)
def test_oracle_match(spark, sf_dir, name):
    q = _QUERIES[name]
    res = compare(name, q.fn(spark, sf_dir), q.oracle, sf_dir)
    assert res.ok, res.message()


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_runs(spark, sf_dir, name):
    q = _QUERIES[name]
    df = q.fn(spark, sf_dir)
    assert len(df.columns) > 0
    assert df.count() >= 0
