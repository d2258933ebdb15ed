"""Projection, filtering, sorting, limiting — the relational bread-and-butter.

The reference has no in-process relational ops (SURVEY.md §2.1): its one
projection is whole-row JSON marshal (regionSpout.go:152) and its one
filter is pushed to the source (regionSpout.go:133-136). Here
projections and filters reach the parquet scan (column pruning and
predicate pushdown), sorts are range-partitioned exchanges, and top-k
compiles to TakeOrderedAndProject. Ops are one SQL text run on both
engines through ``sql_front``, except ``sort_within`` (Spark's ``SORT
BY`` has no DuckDB form) and the ``bench.py`` headline ``topk_per_group``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from connor_fun_streamproducer_spark.catalog import load
from connor_fun_streamproducer_spark.operators.sql_front import duckdb_sql, run_sql
from connor_fun_streamproducer_spark.registry import op


_PROJECT_SQL = """
SELECT l_orderkey,
       l_linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS net_price,
       upper(l_returnflag) AS flag
FROM {lineitem}
"""


@op("project_select", oracle=duckdb_sql(_PROJECT_SQL), tags=("ext", "project"))
def project_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column pruning + computed columns + aliasing.

    The scan should read only the 5 referenced columns (ReadSchema in the
    physical plan) no matter how wide lineitem gets.
    """
    return run_sql(spark, sf_dir, _PROJECT_SQL)


_FILTER_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM {orders}
WHERE o_orderstatus IN ('O', 'F')
  AND o_totalprice BETWEEN 1000 AND 200000
  AND o_orderpriority LIKE '%URGENT%'
  AND o_custkey IS NOT NULL
"""


@op("filter_pred", oracle=duckdb_sql(_FILTER_SQL), tags=("ext", "filter"))
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicates: IN / BETWEEN / LIKE / null test.

    All four predicates are Catalyst-pushable; the parquet scan should show
    them under PushedFilters (checked in tests/test_plans.py).
    """
    return run_sql(spark, sf_dir, _FILTER_SQL)


_SORT_GLOBAL_SQL = """
SELECT c_custkey, c_name, round(c_acctbal, 4) AS acctbal
FROM {customer}
ORDER BY acctbal DESC, c_custkey
"""


@op("sort_global", oracle=duckdb_sql(_SORT_GLOBAL_SQL), tags=("ext", "sort"))
def sort_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total order via range-partitioned sort (no single-node gather).

    Spark samples the sort key to build range boundaries, so the global
    sort scales horizontally; the oracle compare is order-insensitive but
    the op exists for its plan shape.
    """
    return run_sql(spark, sf_dir, _SORT_GLOBAL_SQL)


@op(
    "sort_within",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber
    FROM lineitem
    WHERE l_quantity > 45
    """,
    tags=("ext", "sort"),
)
def sort_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition order (sortWithinPartitions): no exchange at all.

    Same row set as the oracle — the point is the plan: SortExec with
    ``global=false`` and no shuffle, the cheap way to feed per-partition
    merge consumers at scale.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 45)
        .select("l_suppkey", "l_orderkey", "l_linenumber")
        .sortWithinPartitions("l_suppkey", "l_orderkey")
    )


_LIMIT_TOPK_SQL = """
SELECT o_orderkey, round(o_totalprice, 4) AS total
FROM {orders}
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
"""


@op("limit_topk", oracle=duckdb_sql(_LIMIT_TOPK_SQL), tags=("ext", "sort"))
def limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY … LIMIT k — compiles to TakeOrderedAndProject.

    Each task keeps a k-row heap; the driver merges k*numPartitions rows —
    no global sort. Composite key (price, orderkey) makes ties
    deterministic for the oracle hash.
    """
    return run_sql(spark, sf_dir, _LIMIT_TOPK_SQL)


@op(
    "topk_per_group",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS total,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
    tags=("ext", "window"),
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: row_number over a window + filter.

    One shuffle on the partition key; AQE handles skewed customers. The
    rank filter is pushed into the WindowExec via Spark's window-group
    limit optimization on recent Sparks.
    """
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 4).alias("total"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )
