"""Shared fixtures: one SparkSession per test run + a DuckDB oracle rig.

Mirrors the driver's t2 check (SURVEY.md §5.2): for every registered op with
an oracle, run the Spark query and the DuckDB SQL on the same parquet and
compare row count, column names, and values (order-insensitive, float-
tolerant — the driver's hash compare is stricter, which is why every op
rounds its float aggregates on both sides).
"""

from __future__ import annotations

import math
import os
import sys
from datetime import date, datetime

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from connor_fun_streamproducer_spark.catalog import TABLES, table_path
from connor_fun_streamproducer_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TEST_CPUS = os.environ.get("SPARK_GRAFT_TEST_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cfsp-tests", cpus=TEST_CPUS)
    yield s
    s.stop()


def oracle_connection(sf_dir: str):
    """A DuckDB connection with a view over each fixture table in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


@pytest.fixture(scope="session")
def oracle():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for cross-engine comparison."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(_close(x, y) for x, y in zip(a, b))
    return a == b


def assert_df_matches_oracle(spark_df, oracle_con, sql: str, key: str = "?") -> int:
    """Row-count + column-name + order-insensitive value comparison;
    returns the row count."""
    spark_rows = spark_df.collect()
    spark_cols = sorted(spark_df.columns)

    res = oracle_con.sql(sql)
    duck_cols = sorted(res.columns)
    duck_rows = res.fetchall()

    assert spark_cols == duck_cols, f"[{key}] columns differ: spark={spark_cols} duck={duck_cols}"
    assert len(spark_rows) == len(duck_rows), (
        f"[{key}] row count differs: spark={len(spark_rows)} duck={len(duck_rows)}"
    )

    s_idx = [spark_df.columns.index(c) for c in spark_cols]
    d_idx = [res.columns.index(c) for c in duck_cols]
    s_sorted = sorted((tuple(_norm(r[i]) for i in s_idx) for r in spark_rows), key=repr)
    d_sorted = sorted((tuple(_norm(r[i]) for i in d_idx) for r in duck_rows), key=repr)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_sorted, d_sorted)) if not _close(a, b)
    ]
    assert not mismatches, f"[{key}] first value mismatches (spark vs duck): {mismatches[:5]}"
    return len(spark_rows)
