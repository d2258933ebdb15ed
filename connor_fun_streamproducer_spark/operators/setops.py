"""Set operations (UNION / INTERSECT / EXCEPT, with ALL variants).

Absent from the reference (SURVEY.md §2.1 — no set operations). All are
built-in Catalyst operators: UNION is a zero-shuffle concatenation (+ one
aggregate for DISTINCT); INTERSECT/EXCEPT compile to semi/anti joins on
all columns — one shuffle on the row value, so pre-projecting to the
minimal column set is the main optimization. Each op is one SQL text,
run on both engines through ``sql_front``: big spenders (an order over
150k) against urgent buyers (a 1-URGENT order), by custkey.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from connor_fun_streamproducer_spark.operators.sql_front import duckdb_sql, run_sql
from connor_fun_streamproducer_spark.registry import op


def _sets(setop: str) -> str:
    return f"""
SELECT o_custkey AS custkey FROM {{orders}} WHERE o_totalprice > 150000
{setop}
SELECT o_custkey AS custkey FROM {{orders}} WHERE o_orderpriority = '1-URGENT'
"""


_UNION_SQL = _sets("UNION")
_UNION_ALL_SQL = _sets("UNION ALL")
_INTERSECT_SQL = _sets("INTERSECT")
_INTERSECT_ALL_SQL = _sets("INTERSECT ALL")
_EXCEPT_SQL = _sets("EXCEPT")
_EXCEPT_ALL_SQL = _sets("EXCEPT ALL")


@op("set_union", oracle=duckdb_sql(_UNION_SQL), tags=("ext", "setop"))
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct): big spenders ∪ urgent buyers."""
    return run_sql(spark, sf_dir, _UNION_SQL)


@op("set_union_all", oracle=duckdb_sql(_UNION_ALL_SQL), tags=("ext", "setop"))
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL — pure concatenation, no shuffle at all."""
    return run_sql(spark, sf_dir, _UNION_ALL_SQL)


@op("set_intersect", oracle=duckdb_sql(_INTERSECT_SQL), tags=("ext", "setop"))
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) — compiles to a left-semi join + distinct."""
    return run_sql(spark, sf_dir, _INTERSECT_SQL)


@op("set_intersect_all", oracle=duckdb_sql(_INTERSECT_ALL_SQL), tags=("ext", "setop"))
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag semantics, min(multiplicity) per value."""
    return run_sql(spark, sf_dir, _INTERSECT_ALL_SQL)


@op("set_except", oracle=duckdb_sql(_EXCEPT_SQL), tags=("ext", "setop"))
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — compiles to a left-anti join + distinct."""
    return run_sql(spark, sf_dir, _EXCEPT_SQL)


@op("set_except_all", oracle=duckdb_sql(_EXCEPT_ALL_SQL), tags=("ext", "setop"))
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag semantics, multiplicity difference per value."""
    return run_sql(spark, sf_dir, _EXCEPT_ALL_SQL)
