"""Result fingerprints and the DuckDB oracle side of the correctness check.

A fingerprint is (row count, sorted column names, order-insensitive hash
of the rows). Cells are normalised the way ``tests/conftest.py`` compares
them: floats rounded to 6 decimals (also inside arrays), timestamps as
naive UTC strings. Both engines' results are handed to DuckDB as Arrow
tables and normalised by the same SQL, so the check costs a vectorised
scan rather than a Python loop over rows.
"""

from __future__ import annotations

import os

_FLOAT = ("FLOAT", "DOUBLE", "REAL")


def _float_sql(x: str) -> str:
    return f"CASE WHEN isnan({x}::DOUBLE) THEN 'NaN' ELSE printf('%.6f', round({x}::DOUBLE, 6) + 0.0) END"


def _cell_sql(col: str, dtype: str) -> str:
    c = f'"{col}"'
    if dtype in _FLOAT or dtype.startswith("DECIMAL"):
        expr = _float_sql(c)
    elif dtype.startswith("TIMESTAMP"):
        expr = f"strftime({c}::TIMESTAMP, '%Y-%m-%dT%H:%M:%S.%f')"
    elif dtype.endswith("[]") and dtype[:-2] in _FLOAT:
        expr = f"list_transform({c}, x -> {_float_sql('x')})::VARCHAR"
    elif dtype == "BLOB":
        expr = f"hex({c})"
    else:
        expr = f"{c}::VARCHAR"
    return f"coalesce({expr}, '<null>')"


def fingerprint(con, arrow_table) -> tuple[int, tuple[str, ...], str]:
    """Fingerprint of an Arrow table, computed in DuckDB."""
    con.register("fp_input", arrow_table)
    try:
        cols = con.execute("DESCRIBE fp_input").fetchall()
        names = sorted(c[0] for c in cols)
        types = {c[0]: c[1] for c in cols}
        row = " || '|' || ".join(_cell_sql(n, types[n]) for n in names) or "''"
        n, h = con.execute(f"SELECT count(*), coalesce(sum(hash({row})), 0)::VARCHAR FROM fp_input").fetchone()
    finally:
        con.unregister("fp_input")
    return n, tuple(names), h


def connect(sf_dir: str, tables: tuple[str, ...] | None = None):
    """A DuckDB connection with one view per fixture table present in
    ``sf_dir``; a table stored as a directory of part files is read with
    a glob."""
    import duckdb
    from connor_fun_streamproducer_spark.catalog import TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET TimeZone = 'UTC'")
    for t in tables or TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_fingerprint(con, sql: str):
    return fingerprint(con, con.sql(sql).arrow())
