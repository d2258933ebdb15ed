"""Subquery-shaped pipelines: grouped-HAVING membership, scalar
subqueries, and correlated (NOT) EXISTS with extra predicates — the
forms relational users write that are NOT plain join chains, extending
the EXT pipeline tier of operators/pipelines.py (the reference has no
query language, SURVEY.md §3).

Catalyst de-correlates each into one more hash join (semi/anti, or a
broadcast one-row aggregate); none re-evaluates its inner query per
row. Each op is one SQL text run on both engines through ``sql_front``;
where the rewrite would not give the pinned plan, the text spells the
de-correlated form out (a ``SEMI JOIN``, a broadcast one-row threshold,
a ``REPARTITION`` hint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from connor_fun_streamproducer_spark.operators.sql_front import duckdb_sql, run_sql
from connor_fun_streamproducer_spark.registry import op

_LARGE_VOLUME_SQL = """
SELECT c_name, o.o_orderkey, o.o_orderdate,
       round(o.o_totalprice, 4) AS o_totalprice,
       round(sum(l_quantity), 4) AS total_qty
FROM {orders} o
SEMI JOIN (
    SELECT l_orderkey AS big_key FROM {lineitem} GROUP BY l_orderkey
    HAVING sum(l_quantity) > 200
) big ON o.o_orderkey = big_key
JOIN {customer} ON o.o_custkey = c_custkey
JOIN {lineitem} ON o.o_orderkey = l_orderkey
GROUP BY c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


@op("pipeline_large_volume_orders", oracle=duckdb_sql(_LARGE_VOLUME_SQL),
    tags=("ext", "pipeline", "subquery"))
def pipeline_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind the largest-volume orders.

    The IN (GROUP BY … HAVING) membership is written as the left-semi
    join it decorrelates to: an IN on o_orderkey would be copied through
    the lineitem join's key equality onto the lineitem side, and its
    aggregate would run twice. The order-quantity aggregate runs ONCE,
    and the semi join prunes orders before the customer join —
    aggregate-driven selectivity, no correlated re-execution. The top 20
    order by the rounded total.
    """
    return run_sql(spark, sf_dir, _LARGE_VOLUME_SQL)


_DORMANT_SQL = """
WITH ab AS (SELECT avg(c_acctbal) AS a FROM {customer} WHERE c_acctbal > 0)
SELECT /*+ BROADCAST(ab) */ c_mktsegment,
       count(*) AS n_cust,
       round(sum(c_acctbal), 4) AS total_bal
FROM {customer} c CROSS JOIN ab
WHERE c_acctbal > ab.a
  AND NOT EXISTS (
      SELECT 1 FROM {orders} o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= '1998-01-01'
  )
GROUP BY c_mktsegment
"""


@op("pipeline_dormant_accounts", oracle=duckdb_sql(_DORMANT_SQL),
    tags=("ext", "pipeline", "subquery"))
def pipeline_dormant_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: high-balance customers with no recent orders.

    Two subquery forms in one query: a scalar subquery (global positive-
    balance average) as a 1-row broadcast cross join, and a correlated
    NOT EXISTS with an extra predicate that becomes a left-anti join
    against the date-filtered orders keys. The 100 TB plan is scan + two
    joins.
    """
    return run_sql(spark, sf_dir, _DORMANT_SQL)


_LATE_SHIPMENT_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM {orders} o
WHERE o_orderdate >= '1997-01-01'
  AND o_orderdate <  '1997-04-01'
  AND EXISTS (
      SELECT 1 FROM {lineitem} l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


@op("pipeline_late_shipment_priority", oracle=duckdb_sql(_LATE_SHIPMENT_SQL),
    tags=("ext", "pipeline", "subquery"))
def pipeline_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority counts for orders with a late line.

    Correlated EXISTS whose inner predicate references BOTH sides
    (l_shipdate > o_orderdate + 60 days): a left-semi join with the
    cross-side comparison in the join condition, so at most one match
    counts per order — no DISTINCT-after-join. The quarter's orders are
    filter-pruned at the scan before the shuffle.
    """
    return run_sql(spark, sf_dir, _LATE_SHIPMENT_SQL)


_MINCOST_SQL = """
WITH eu AS (
    SELECT /*+ BROADCAST(n, r) */ l_partkey,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(floor(l_extendedprice * 100 + 5e-1) AS BIGINT) AS cost_cents,
           s_name, s_acctbal, n_name
    FROM {lineitem}
    JOIN {supplier} ON l_suppkey = s_suppkey
    JOIN {nation} n ON s_nationkey = n_nationkey
    JOIN {region} r ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
), m AS (
    SELECT *, min(cost_cents) OVER (PARTITION BY l_partkey, l_year) AS min_cents
    FROM eu
)
SELECT /*+ BROADCAST(p) */ DISTINCT p_partkey, l_year,
       round(cost_cents / 1e2, 2) AS min_cost,
       s_name, round(s_acctbal, 4) AS s_acctbal, n_name
FROM m JOIN {part} p ON l_partkey = p_partkey
WHERE cost_cents = min_cents AND p_size = 15
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, l_year
LIMIT 100
"""


@op("pipeline_mincost_supplier", oracle=duckdb_sql(_MINCOST_SQL),
    tags=("ext", "pipeline", "subquery"))
def pipeline_mincost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the supplier(s) achieving the minimum cost per
    part, correlated on TWO keys (partkey, ship-year).

    The offers are European suppliers' shipped lines (the fixture has
    no partsupp), in exact integer cents so the min and the equality
    filter agree across engines. The correlated min is a ``min() OVER
    (PARTITION BY partkey, year)`` — ONE shuffle on the correlation keys,
    where the aggregate-plus-self-join form scans and shuffles the
    offers twice. DISTINCT collapses equal-cost duplicate offers.
    """
    return run_sql(spark, sf_dir, _MINCOST_SQL)


_IMPORTANT_PART_SQL = """
WITH v AS (
    SELECT /*+ BROADCAST(n) */ l_partkey,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 5e-1)
                    AS BIGINT)) AS cents
    FROM {lineitem}
    JOIN {supplier} ON l_suppkey = s_suppkey
    JOIN {nation} n ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
    GROUP BY l_partkey
)
SELECT /*+ BROADCAST(t) */ l_partkey AS partkey, round(cents / 1e2, 2) AS value
FROM v CROSS JOIN (SELECT sum(cents) * 1e-3 AS threshold FROM v) t
WHERE cents > threshold
ORDER BY value DESC, partkey
"""


@op("pipeline_important_part_share", oracle=duckdb_sql(_IMPORTANT_PART_SQL),
    tags=("ext", "pipeline", "subquery"))
def pipeline_important_part_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value exceeding a global-share threshold.

    The threshold is a scalar over the SAME aggregated frame, so the
    frame is computed once, reduced to one row, and applied as a 1-row
    broadcast cross join — no second scan of the fact. Value accumulates
    in exact integer cents; the 0.001 × total threshold is one IEEE
    multiply on both engines, so the comparison cannot drift.
    """
    return run_sql(spark, sf_dir, _IMPORTANT_PART_SQL)


_SUPPLIER_PART_COUNTS_SQL = """
SELECT /*+ BROADCAST(p) */ p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM {lineitem}
JOIN {part} p ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
  AND NOT EXISTS (SELECT 1 FROM {supplier}
                  WHERE s_suppkey = l_suppkey AND s_name LIKE '%7')
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@op("pipeline_supplier_part_counts", oracle=duckdb_sql(_SUPPLIER_PART_COUNTS_SQL),
    tags=("ext", "pipeline", "subquery"))
def pipeline_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute,
    excluding a supplier denylist (names ending in '7').

    The denylist is NOT EXISTS rather than Q16's NOT IN, so it plans as
    the plain broadcast left-anti join, not the null-aware one: zero
    extra shuffles, then one partial-aggregated exchange on the
    (brand, type, size) count-distinct key.
    """
    return run_sql(spark, sf_dir, _SUPPLIER_PART_COUNTS_SQL)


_SMALL_QTY_SQL = """
SELECT /*+ BROADCAST(p) */
       round(sum(CAST(floor(l.l_extendedprice * 100 + 5e-1) AS BIGINT)) / 7e2, 2)
           AS avg_yearly
FROM {lineitem} l
JOIN {part} p ON l.l_partkey = p_partkey
WHERE p_brand = 'Brand#3'
  AND p_type = 'ECONOMY'
  AND l.l_quantity < (SELECT avg(l2.l_quantity) * 2e-1 FROM {lineitem} l2
                      WHERE l2.l_partkey = l.l_partkey)
"""


@op("pipeline_small_qty_revenue", oracle=duckdb_sql(_SMALL_QTY_SQL),
    tags=("ext", "pipeline", "subquery"))
def pipeline_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders, gated by a
    per-part average computed over the whole fact.

    The correlated scalar (0.2 × this part's average quantity)
    decorrelates to a part-keyed aggregate joined back to the fact; it
    has part cardinality, so AQE broadcasts it and the fact is never
    shuffled for the correlation. Whole-number quantities keep the
    average exact on both engines; revenue accumulates in integer cents
    and divides by 7 once (Q17's averaging constant).
    """
    return run_sql(spark, sf_dir, _SMALL_QTY_SQL)


_PROMOTION_SQL = """
SELECT /*+ BROADCAST(n, r) */ s_name, n_name
FROM {supplier}
JOIN {nation} n ON s_nationkey = n_nationkey
JOIN {region} r ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND s_suppkey IN (
      SELECT l_suppkey
      FROM {lineitem}
      WHERE l_partkey IN (SELECT p_partkey FROM {part} WHERE p_name LIKE 'red%')
        AND l_shipdate >= '1997-01-01'
        AND l_shipdate <  '1998-01-01'
      GROUP BY l_suppkey, l_partkey
      HAVING sum(l_quantity) > 40
  )
ORDER BY s_name
"""


@op("pipeline_promotion_suppliers", oracle=duckdb_sql(_PROMOTION_SQL),
    tags=("ext", "pipeline", "subquery"))
def pipeline_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved real volume of a named part
    family — a nested semi-join chain.

    One year of lines of 'red%' parts (a semi join into the fact),
    aggregated per (supplier, part) with a HAVING volume floor (the
    fixture has no partsupp availqty), semi-joins into the European
    suppliers. Every membership test is a semi join — no
    DISTINCT-after-join — and the only fact shuffle is the (suppkey,
    partkey) aggregation.
    """
    return run_sql(spark, sf_dir, _PROMOTION_SQL)


_WAITING_SQL = """
WITH li AS (
    SELECT /*+ REPARTITION(l_orderkey) */ l_orderkey, l_suppkey,
           CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END
               AS late_raw
    FROM {lineitem}
    JOIN {orders} ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
), g AS (
    SELECT l_orderkey, l_suppkey, max(late_raw) AS late
    FROM li GROUP BY l_orderkey, l_suppkey
), w AS (
    SELECT l_suppkey, late,
           count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
           sum(late) OVER (PARTITION BY l_orderkey) AS n_late
    FROM g
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM w
JOIN {supplier} ON l_suppkey = s_suppkey
WHERE late = 1 AND n_supp >= 2 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@op("pipeline_waiting_suppliers", oracle=duckdb_sql(_WAITING_SQL),
    tags=("ext", "pipeline", "subquery"))
def pipeline_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the supplier who alone held up a multi-supplier
    order (late: shipped over 90 days after the order date).

    Q21's EXISTS (another supplier on the order) and NOT EXISTS (another
    LATE supplier) collapse into per-order stats: n_supp ≥ 2 and
    n_late = 1. The joined fact is repartitioned ONCE on l_orderkey (the
    ``REPARTITION`` hint); the (orderkey, suppkey) aggregate and the
    per-order windows reuse it, so the correlation costs one fact
    shuffle where the join-back form pays three exchanges.
    """
    return run_sql(spark, sf_dir, _WAITING_SQL)
