"""Multi-dimension join pipelines (TPC-H Q6–Q19 shapes), the
runtime-filtered selective join, and the warehouse rollups built on
them.

Round-3 widening of operators/pipelines.py: the reference computes one
fixed geo dataflow (regionSpout.go:57-124); a warehouse user also runs
the big snowflake joins — fact × fact × several dims with a group-by
over derived attributes. These pin the plans Spark should produce for
them: dims broadcast, facts shuffle on their join keys once, aggregation
partial-combines, and (at real scale) the optimizer's runtime filters
prune the probe side before the shuffle.

Every op here is one SQL text with ``sql_front`` placeholders: the text
is the DuckDB oracle and, through ``sql_front.run_sql``, the Spark plan.
The texts spell out the plan shape ``tests/test_plans.py`` pins: the
join order, ``/*+ BROADCAST(t) */`` on each broadcast dim, and a dim
subquery that renames its columns where a plan snapshot expects that
projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from connor_fun_streamproducer_spark.operators.sql_front import duckdb_sql, run_sql
from connor_fun_streamproducer_spark.registry import op

_NATION_VOLUME_SQL = """
SELECT /*+ BROADCAST(n1, n2) */ supp_nation, cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 5e-1)
                      AS BIGINT)) / 1e2, 2) AS revenue
FROM {lineitem}
JOIN {orders}   ON l_orderkey = o_orderkey
JOIN {supplier} ON l_suppkey = s_suppkey
JOIN {customer} ON o_custkey = c_custkey
JOIN (SELECT n_nationkey AS s_nk, n_name AS supp_nation FROM {nation}) n1
  ON s_nationkey = s_nk
JOIN (SELECT n_nationkey AS c_nk, n_name AS cust_nation FROM {nation}) n2
  ON c_nationkey = c_nk
WHERE s_nk <> c_nk
GROUP BY 1, 2, 3
"""


@op(
    "pipeline_nation_volume",
    oracle=duckdb_sql(_NATION_VOLUME_SQL),
    tags=("ext", "pipeline", "join"),
)
def pipeline_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation shipping volume by year.

    Five joins: lineitem×orders (fact×fact, shuffle on orderkey — AQE
    picks the strategy and handles skew), then supplier/customer key
    lookups, then the 25-row nation dim twice. Only the genuinely
    bounded dims carry broadcast hints (nation; supplier/customer stay
    un-hinted so AQE decides by measured size — the round-2 verdict's
    rule). The aggregate is (nation², year)-bounded, so partials
    combine map-side and the final exchange moves ~4 k rows at any
    input scale. Revenue is summed in integer cents (per-item round,
    then exact BIGINT sum) so the result is bit-identical across
    engines and run-to-run — double summation order would drift at the
    cent boundary on groups this large.
    """
    return run_sql(spark, sf_dir, _NATION_VOLUME_SQL)


_PROMO_SHARE_SQL = """
SELECT CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(count(*) AS BIGINT) AS n_items,
       round(1e2 * sum(CASE WHEN p_type = 'PROMO'
                            THEN l_extendedprice * (1 - l_discount) ELSE 0e0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
FROM {lineitem} JOIN {part} ON l_partkey = p_partkey
GROUP BY 1
"""


@op("pipeline_promo_share", oracle=duckdb_sql(_PROMO_SHARE_SQL), tags=("ext", "pipeline", "join"))
def pipeline_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotional revenue share per year.

    Fact × part-dim join feeding a conditional aggregate — the
    sum(CASE)/sum ratio pattern. The part side is un-hinted: at fixture
    scale AQE broadcasts it, at 100 TB part is itself a fact and the
    join degrades gracefully to shuffle with runtime filters pruning
    lineitem by the part keys actually present. The ratio of two sums
    of the same rows is insensitive to the join strategy, which is what
    the oracle pins.
    """
    return run_sql(spark, sf_dir, _PROMO_SHARE_SQL)


_RUNTIME_FILTER_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(l_extendedprice), 2) AS total
FROM {lineitem} JOIN {orders} ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
GROUP BY l_returnflag
"""


@op("join_runtime_filter", oracle=duckdb_sql(_RUNTIME_FILTER_SQL), tags=("ext", "join", "scale"))
def join_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective-dim fact join: the runtime-filter (bloom prefilter) shape.

    A highly selective predicate on orders drives a join against the
    much larger lineitem. At 100 TB the win is Spark's runtime filter
    injection (spark.sql.optimizer.runtime.bloomFilter.enabled, on by
    default): the filtered build side publishes a bloom filter of its
    join keys and the lineitem scan drops non-matching rows BEFORE the
    shuffle — the engine form of a semi-join prefilter. At fixture scale
    the 10 MB creation threshold keeps it off; tests/test_plans.py
    lowers the thresholds and asserts the bloom filter actually appears
    in this exact plan, so the scale path is proven, not assumed.
    """
    return run_sql(spark, sf_dir, _RUNTIME_FILTER_SQL)


_MARKET_SHARE_SQL = """
WITH vol AS (
    SELECT /*+ BROADCAST(n1, n2, r) */ CAST(year(o_orderdate) AS INT) AS o_year,
           supp_nation,
           CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 5e-1) AS BIGINT)
               AS v_cents
    FROM {lineitem}
    JOIN {orders}   ON l_orderkey = o_orderkey
    JOIN {supplier} ON l_suppkey = s_suppkey
    JOIN {customer} ON o_custkey = c_custkey
    JOIN (SELECT n_nationkey AS s_nk, n_name AS supp_nation FROM {nation}) n1
      ON s_nationkey = s_nk
    JOIN (SELECT n_nationkey AS c_nk, n_regionkey AS c_rk FROM {nation}) n2
      ON c_nationkey = c_nk
    JOIN {region} r ON c_rk = r_regionkey
    WHERE r_name = 'EUROPE'
)
SELECT o_year,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN v_cents ELSE 0 END)
             / sum(v_cents), 4) AS mkt_share
FROM vol
GROUP BY o_year
"""


@op("pipeline_market_share", oracle=duckdb_sql(_MARKET_SHARE_SQL), tags=("ext", "pipeline", "join"))
def pipeline_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's market share inside a region, by year.

    The deepest snowflake in the suite: lineitem×orders (fact×fact,
    one orderkey shuffle), supplier/customer key lookups, nation twice,
    region once. The region predicate prunes through two broadcast hops
    BEFORE the fact join — Catalyst pushes r_name='EUROPE' into the
    region scan, the filtered region broadcast shrinks n2, and the
    shrunken n2 set runtime-filters customers — so at 100 TB only the
    ~1/5 of customers in the region ever reach the orderkey exchange.
    Only nation/region carry hints. Numerator and denominator accumulate
    in exact integer cents (the Q9/Q15/Q19 convention) so the ratio is
    identical whatever order either engine sums in; the divide happens
    once, after both sums are exact.
    """
    return run_sql(spark, sf_dir, _MARKET_SHARE_SQL)


_PRODUCT_PROFIT_SQL = """
SELECT /*+ BROADCAST(n) */ nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       round(sum(CAST(floor((l_extendedprice * (1 - l_discount)
                             - 1e-1 * p_retailprice * l_quantity) * 100 + 5e-1)
                      AS BIGINT)) / 1e2, 2) AS profit
FROM {lineitem}
JOIN {orders}   ON l_orderkey = o_orderkey
JOIN {supplier} ON l_suppkey = s_suppkey
JOIN {part}     ON l_partkey = p_partkey
JOIN (SELECT n_nationkey, n_name AS nation FROM {nation}) n
  ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


@op(
    "pipeline_product_profit",
    oracle=duckdb_sql(_PRODUCT_PROFIT_SQL),
    tags=("ext", "pipeline", "join"),
)
def pipeline_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year.

    The fixture has no partsupp table, so supply cost is modeled as
    10% of p_retailprice × quantity — the JOIN GRAPH (two fact-scale
    joins: lineitem×orders on orderkey, lineitem×part on partkey, plus
    supplier and the nation dim) is the point, not the cost constant.
    Profit can be negative per item: summed in integer cents
    (round-half-up via floor(x·100+0.5), exact for negatives too) so
    the BIGINT sum is order-independent and bit-identical across
    engines. Output is (25 nations × years) — partial aggregation
    collapses the exchange to dim-scale at any input size.
    """
    return run_sql(spark, sf_dir, _PRODUCT_PROFIT_SQL)


_DISJUNCTIVE_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_items,
       round(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 5e-1)
                      AS BIGINT)) / 1e2, 2) AS revenue
FROM {lineitem} JOIN {part} ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50
       AND l_quantity BETWEEN 20 AND 30)
"""


@op(
    "pipeline_disjunctive_revenue",
    oracle=duckdb_sql(_DISJUNCTIVE_SQL),
    tags=("ext", "pipeline", "join"),
)
def pipeline_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs mixed predicate.

    The optimizer stress-test: the predicate mixes part attributes
    (brand, size) with lineitem attributes (quantity) under a
    disjunction, so it cannot fully push to either scan. What SHOULD
    happen (and what Catalyst does): the part-only weakening
    (brand ∈ {1,2,3} with its size ranges) pushes into the part scan,
    the lineitem-only weakening (quantity ∈ [1,30]) pushes into the
    lineitem scan, the join stays a partkey equi-join, and the full
    disjunction evaluates as the post-join residual. At 100 TB the
    brand-filtered part side is small enough that AQE broadcasts it
    and its keys runtime-filter the lineitem scan. Revenue in exact
    integer cents (Q7 convention).
    """
    return run_sql(spark, sf_dir, _DISJUNCTIVE_SQL)


_TOP_SUPPLIER_SQL = """
WITH rev AS (
    SELECT l_suppkey,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 5e-1)
                    AS BIGINT)) AS total_cents
    FROM {lineitem}
    WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
    GROUP BY l_suppkey
)
SELECT /*+ BROADCAST(m) */ s_suppkey, s_name,
       round(total_cents / 1e2, 2) AS total_revenue
FROM rev
JOIN (SELECT max(total_cents) AS max_cents FROM rev) m ON total_cents = max_cents
JOIN {supplier} ON l_suppkey = s_suppkey
"""


@op("pipeline_top_supplier", oracle=duckdb_sql(_TOP_SUPPLIER_SQL), tags=("ext", "pipeline", "subquery"))
def pipeline_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue.

    The view-plus-scalar-subquery pattern, decorrelated the way Catalyst
    should run it: the quarter's revenue aggregate builds ONCE (filter
    pushed to the lineitem scan, partial agg before the suppkey
    exchange), its 1-row max is broadcast back over the same frame as
    an equi-join on the max, and only the winners join the supplier
    dim. Revenue in exact integer cents so the equality predicate
    against the max is bit-stable — a double sum would make 'the' max
    supplier engine-dependent at the last ulp. Spark computes the rev
    frame once per branch here; at 100 TB you would .cache() it across
    the max/filter reuse (the plan is otherwise two scans) —
    localCheckpoint/cache is a no-op for correctness, so the oracle
    pins either physical choice.
    """
    return run_sql(spark, sf_dir, _TOP_SUPPLIER_SQL)


_CUSTOMER_DIST_SQL = """
WITH per_cust AS (
    SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
    FROM {customer}
    LEFT JOIN {orders} ON o_custkey = c_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY c_count
"""


@op(
    "pipeline_customer_distribution",
    oracle=duckdb_sql(_CUSTOMER_DIST_SQL),
    tags=("ext", "pipeline", "join"),
)
def pipeline_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count.

    The double-aggregation outer-join shape the suite otherwise lacks:
    customer LEFT JOIN orders (join-side predicate, NOT a where-filter —
    filtering after the join would silently drop zero-order customers,
    the classic outer-join bug this op's oracle would catch), then
    count(o_orderkey) per customer — counting the JOIN-SIDE key so
    unmatched customers count 0, not 1 — then a second aggregate over
    the per-customer counts. At 100 TB: the first aggregate shuffles on
    custkey (the outer join already produced that clustering, so
    Catalyst reuses it), and the second input is |customers| rows
    collapsing to ~|distinct counts| — dim-scale. AQE handles the skew
    of the zero/low-count head.
    """
    return run_sql(spark, sf_dir, _CUSTOMER_DIST_SQL)


_FORECAST_SQL = """
SELECT round(sum(CAST(floor(l_extendedprice * l_discount * 100 + 5e-1)
                      AS BIGINT)) / 1e2, 2) AS promo_revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM {lineitem}
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_discount BETWEEN 5e-2 AND 7e-2
  AND l_quantity < 24
"""


@op("pipeline_forecast_revenue", oracle=duckdb_sql(_FORECAST_SQL), tags=("ext", "pipeline"))
def pipeline_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure scan-filter-aggregate revenue forecast.

    The simplest classic warehouse query and the purest pushdown test:
    no join at all — a one-year ship window, a tight discount band, and
    a quantity cap, all three pushable to the parquet scan
    (PushedFilters asserted in tests/test_plans.py), then a single
    global aggregate of exact integer cents (Q7 convention). At 100 TB
    this is the query where scan-level filtering IS the whole cost
    model: with the predicates at the reader, only qualifying row
    groups are decoded and the aggregate sees a tiny fraction of the
    40 TB fact; map-side partial aggregation leaves one scalar per
    partition for the final exchange.
    """
    return run_sql(spark, sf_dir, _FORECAST_SQL)


_SHIPMODE_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM {lineitem} JOIN {orders} ON l_orderkey = o_orderkey
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@op("pipeline_shipmode_priority", oracle=duckdb_sql(_SHIPMODE_SQL), tags=("ext", "pipeline", "join"))
def pipeline_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional two-way counts per category after a
    fact-fact join.

    The fixtures carry no l_shipmode/l_commitdate (FIXTURES.md), so the
    shape maps onto available columns — category = l_returnflag, the
    urgency split = o_orderpriority ∈ {1-URGENT, 2-HIGH} — preserving
    exactly what Q12 exercises: a date-windowed lineitem scan joined to
    orders on orderkey, with the aggregate being two complementary
    conditional counts (sum-of-CASE) per category. At 100 TB: the ship
    window pushes to the lineitem scan, the orderkey equi-join is the
    one shuffle (AQE may broadcast the filtered side at low
    selectivity), and the tiny category group-by is map-side-partial
    first, so the final exchange moves ~categories × partitions rows.
    """
    return run_sql(spark, sf_dir, _SHIPMODE_SQL)


# ---------------------------------------------------------------------------
# Part revenue velocity (top movers, rank-exact)
# ---------------------------------------------------------------------------

_VELOCITY_SQL = """
WITH li AS (
    SELECT l_partkey AS p_partkey,
           CAST(floor(l_extendedprice * 100 + 5e-1) AS BIGINT)
               * (10000 - CAST(floor(l_discount * 10000 + 5e-1) AS BIGINT)) AS line_cbp,
           date_trunc('day', l_shipdate) AS ship_day
    FROM {lineitem}
), r AS (
    SELECT p_partkey,
           sum(CAST(line_cbp AS {wide})) AS rev_cbp,
           count(DISTINCT ship_day) AS active_days,
           count(*) AS n_lines
    FROM li GROUP BY p_partkey
)
SELECT /*+ BROADCAST(p) */ p_partkey, p_brand,
       CAST(rev_cbp AS BIGINT) AS revenue_cbp,
       CAST(active_days AS BIGINT) AS active_days,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(rev_cbp // active_days AS BIGINT) AS velocity_cbp
FROM r JOIN {part} p USING (p_partkey)
ORDER BY velocity_cbp DESC, p_partkey ASC
LIMIT 20
"""


@op("pipeline_part_velocity", oracle=duckdb_sql(_VELOCITY_SQL), tags=("ext", "pipeline"))
def pipeline_part_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by revenue VELOCITY — discounted revenue per active
    shipping day — the inventory-turns ranking a merchandiser reads
    instead of raw revenue: a part that sells its total in 3 days is a
    different stocking problem from one that dribbles the same total
    over a year (pipeline_product_profit ranks totals; ABC/Pareto ranks
    concentration; this ranks SPEED).

    Exact: revenue in centi-basis-points (cents × (10000 − discount
    bp) — two integer quantizations, zero float products), velocity an
    integral division by the distinct-day count, top-k on the
    (velocity, partkey) total order.

    Scale: one lineitem scan → per-part hash agg (map-side partials;
    the distinct-day count is a per-part re-agg, same key so no second
    exchange), broadcast part join for the brand, global top-k via
    TakeOrdered — the scan dominates, nothing else is corpus-sized.
    """
    return run_sql(spark, sf_dir, _VELOCITY_SQL)


# ---------------------------------------------------------------------------
# Open-order aging buckets (receivables-style aging by priority)
# ---------------------------------------------------------------------------

_AGING_SQL = """
WITH anchor AS (
    SELECT max({epoch[o_orderdate]} // 86400) AS mx FROM {orders}
), aged AS (
    SELECT /*+ BROADCAST(anchor) */ o_orderpriority, o_orderstatus,
           mx - {epoch[o_orderdate]} // 86400 AS age_d,
           CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT) AS cents
    FROM {orders} CROSS JOIN anchor
), b AS (
    SELECT o_orderpriority, o_orderstatus,
           CAST(CASE WHEN age_d <= 30 THEN 0 WHEN age_d <= 90 THEN 1
                     WHEN age_d <= 365 THEN 2 ELSE 3 END AS BIGINT) AS age_bucket,
           cents
    FROM aged
)
SELECT o_orderpriority, o_orderstatus, age_bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM b GROUP BY o_orderpriority, o_orderstatus, age_bucket
"""


@op("pipeline_order_aging", oracle=duckdb_sql(_AGING_SQL), tags=("ext", "pipeline"))
def pipeline_order_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Receivables-style order aging: count and value per (priority,
    status, age bucket) where age is days from the order date to the
    newest order in the table, bucketed 0-30 / 31-90 / 91-365 / 365+ —
    the working-capital table an operations review opens with ("what
    is still OPEN and how long has it sat, weighted by money, split by
    the priority we promised"). pipeline_order_lead_time profiles how
    long fulfilment TOOK; this profiles what is still AGING now.

    Exact: the anchor is the integer day of max(o_orderdate) (a 1-row
    broadcast, never a wall clock — reruns are reproducible); ages are
    integer day differences, buckets integer CASE, money integer cents.

    Scale: one scan → a 1-row anchor agg broadcast back → a
    |priorities|×|statuses|×4-key hash agg with map-side partials.
    """
    return run_sql(spark, sf_dir, _AGING_SQL)


# ---------------------------------------------------------------------------
# Discount-depth histogram by brand (pricing-policy audit)
# ---------------------------------------------------------------------------

_DISCOUNT_SQL = """
WITH li AS (
    SELECT l_partkey,
           CAST(floor(l_discount * 10000 + 5e-1) AS BIGINT) // 100 AS disc_pct,
           CAST(floor(l_extendedprice * 100 + 5e-1) AS BIGINT) AS cents
    FROM {lineitem}
)
SELECT /*+ BROADCAST(p) */ p_brand,
       CAST(disc_pct AS BIGINT) AS disc_pct,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(cents) AS BIGINT) AS gross_cents,
       CAST(sum(cents * disc_pct) // 100 AS BIGINT) AS given_away_cents
FROM li JOIN {part} p ON l_partkey = p_partkey
GROUP BY 1, 2
"""


@op("pipeline_discount_depth", oracle=duckdb_sql(_DISCOUNT_SQL), tags=("ext", "pipeline"))
def pipeline_discount_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-depth histogram per brand: line counts, gross revenue,
    and the money given away at each whole-percent discount level — the
    pricing-policy audit ("who discounts how deep, and what does it
    cost") that pipeline_promo_share's single promo/non-promo ratio
    can't see: two brands with equal promo share can have completely
    different depth profiles, and depth is where margin goes.

    Exact: the discount becomes integral whole percents (bp div 100),
    prices integer cents, and the given-away figure is an exact
    cross-multiplied integral division — no float money anywhere.

    Scale: one lineitem scan → broadcast part join (dim) →
    |brands|×|depths| hash agg with map-side partials.
    """
    return run_sql(spark, sf_dir, _DISCOUNT_SQL)


# ---------------------------------------------------------------------------
# Return-rate table by brand and month (quality drift signal)
# ---------------------------------------------------------------------------

_RETURNS_SQL = """
WITH li AS (
    SELECT l_partkey,
           CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
           CAST(floor(l_extendedprice * 100 + 5e-1) AS BIGINT) AS cents
    FROM {lineitem}
)
SELECT /*+ BROADCAST(p) */ p_brand, ship_month,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(ret) AS BIGINT) AS n_returned,
       CAST(sum(ret) * 10000 // count(*) AS BIGINT) AS return_rate_bp,
       CAST(sum(ret * cents) AS BIGINT) AS returned_cents
FROM li JOIN {part} p ON l_partkey = p_partkey
GROUP BY p_brand, ship_month
"""


@op("pipeline_returns_rate", oracle=duckdb_sql(_RETURNS_SQL), tags=("ext", "pipeline"))
def pipeline_returns_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate table per (brand, ship month): line counts, returned
    lines, the integral return rate in basis points, and the returned
    money — the quality-drift signal a supplier review runs monthly (a
    brand whose return rate climbs is a quality or mis-listing problem
    long before revenue shows it). The month axis is what makes it a
    DRIFT table rather than pipeline_product_profit's static rollup.

    Exact: the flag is an integer indicator, money integer cents, the
    rate an integral division — all order-free.

    Scale: one lineitem scan → broadcast part join →
    |brands|×|months| hash agg with map-side partials.
    """
    return run_sql(spark, sf_dir, _RETURNS_SQL)


# ---------------------------------------------------------------------------
# Part-level repeat-buyer rate (retention at the product grain)
# ---------------------------------------------------------------------------

_REPEAT_SQL = """
WITH bo AS (
    SELECT l_partkey AS partkey, o_custkey AS custkey,
           count(DISTINCT l_orderkey) AS n_orders
    FROM {lineitem} JOIN {orders} ON l_orderkey = o_orderkey
    GROUP BY l_partkey, o_custkey
)
SELECT partkey,
       CAST(count(*) AS BIGINT) AS n_buyers,
       CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_repeat_buyers,
       CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) * 10000
            // count(*) AS BIGINT) AS repeat_bp
FROM bo GROUP BY partkey
HAVING n_buyers >= 3
"""


@op("pipeline_repeat_buyers", oracle=duckdb_sql(_REPEAT_SQL), tags=("ext", "pipeline"))
def pipeline_repeat_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase rate at the PRODUCT grain: per part, how many
    distinct customers bought it at all and how many came back for it
    in a second distinct order — product-level retention, the signal
    behind reorder forecasting and assortment decisions. The user-grain
    retention ops (pipeline_retention_cohort, pipeline_interpurchase_
    time) answer "do customers come back"; this answers "which PRODUCTS
    bring them back", which is a different ranking entirely. Parts with
    fewer than 3 buyers are suppressed (rate noise floor, stated).

    Exact: distinct-order counts and the 2-order repeat predicate are
    pure integers; the rate is integral basis points (10000·k div n).

    Scale: the orderkey equi-join is the one fact-fact shuffle; the
    (partkey, custkey) distinct-count agg runs as standard two-phase
    partial/final; the part-level rollup reuses the partkey
    partitioning. Output is bounded by |part|.
    """
    return run_sql(spark, sf_dir, _REPEAT_SQL)


# ---------------------------------------------------------------------------
# Price/volume bridge per brand between shipping-year eras
# ---------------------------------------------------------------------------

_BRIDGE_SQL = """
WITH b AS (
    SELECT CAST(year(l_shipdate) AS INT) AS yr,
           l_partkey,
           CAST(floor(l_quantity + 5e-1) AS BIGINT) AS qty,
           CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 5e-1) AS BIGINT)
               AS cents
    FROM {lineitem}
), e AS (
    SELECT /*+ BROADCAST(p) */ p_brand,
           CASE WHEN yr <= (SELECT (min(yr) + max(yr)) // 2 FROM b) THEN 0 ELSE 1 END
               AS era,
           qty, cents
    FROM b JOIN {part} p ON l_partkey = p_partkey
), m AS (
    SELECT p_brand, era, sum(qty) AS q, sum(cents) AS r
    FROM e GROUP BY p_brand, era
), pv AS (
    SELECT p_brand,
           max(CASE WHEN era = 0 THEN q END) AS qa,
           max(CASE WHEN era = 0 THEN r END) AS ra,
           max(CASE WHEN era = 1 THEN q END) AS qb,
           max(CASE WHEN era = 1 THEN r END) AS rb
    FROM m GROUP BY p_brand
)
SELECT p_brand,
       CAST(qa AS BIGINT) AS qty_a, CAST(qb AS BIGINT) AS qty_b,
       CAST(ra AS BIGINT) AS rev_cents_a, CAST(rb AS BIGINT) AS rev_cents_b,
       round(CAST(ra AS DOUBLE) * (qb - qa) / qa / 1e2, 2) + 0e0 AS volume_effect,
       round((CAST(rb AS DOUBLE) - CAST(ra AS DOUBLE) * qb / qa) / 1e2, 2) + 0e0
           AS price_effect
FROM pv
WHERE qa > 0 AND qb > 0
"""


@op("pipeline_price_volume_bridge", oracle=duckdb_sql(_BRIDGE_SQL), tags=("ext", "pipeline"))
def pipeline_price_volume_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume bridge per brand between the first and second half
    of the shipping-year span: the revenue delta decomposed into "we
    sold MORE units" (volume effect, old unit price × quantity change)
    and "we sold at DIFFERENT unit prices" (price effect, the rest) —
    the first chart in any revenue review, because "revenue is up 8%"
    means opposite things when units are up 12% with prices eroding vs
    units flat with prices raised. Decomposition convention (stated,
    since three exist): volume at era-A price, price at era-B volume —
    volume_effect = P_a·ΔQ, price_effect = Q_b·(P_b − P_a), which sum
    to ΔR exactly in the unrounded algebra.

    Exact: per-(brand, era) quantity and revenue-cents sums are integer
    aggregates; the era boundary is the integer midpoint of the year
    span (a scalar subquery); the two effects are fixed-shape rationals
    of those integers, rounded to dollars on both engines. rev/qty
    columns stay exact integers so the rounding never touches the
    reconciliation inputs.

    Scale: one fact scan → broadcast part join (brand is a part
    attribute) → (brand, era) hash agg with map-side partials → |brands|
    pivot. Nothing bigger than |brands|·2 crosses the second exchange.
    The era boundary's subquery reads lineitem a second time, when the
    query runs: building the op submits no job.
    """
    return run_sql(spark, sf_dir, _BRIDGE_SQL)


# ---------------------------------------------------------------------------
# Discount elasticity of demand per brand (OLS slope, exact integer moments)
# ---------------------------------------------------------------------------

_ELASTICITY_SQL = """
WITH li AS (
    SELECT l_partkey,
           CAST(floor(l_discount * 10000 + 5e-1) AS BIGINT) AS disc_bp,
           CAST(floor(l_quantity + 5e-1) AS BIGINT) AS qty
    FROM {lineitem}
), g AS (
    SELECT /*+ BROADCAST(p) */ p_brand,
           count(*) AS n,
           sum(disc_bp) AS sx, sum(qty) AS sy,
           sum(disc_bp * qty) AS sxy, sum(disc_bp * disc_bp) AS sxx
    FROM li JOIN {part} p ON l_partkey = p_partkey
    GROUP BY p_brand
), s AS (
    SELECT p_brand, n, sy,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / nullif(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx, 0e0)
                 * 100, 6) AS rs
    FROM g WHERE n >= 2
)
SELECT p_brand,
       CAST(n AS BIGINT) AS n_lines,
       round(CAST(sy AS DOUBLE) / n, 4) + 0e0 AS mean_qty,
       rs + 0e0 AS slope_qty_per_pct,
       rs > 0 AS demand_responds
FROM s
"""


@op("pipeline_discount_elasticity", oracle=duckdb_sql(_ELASTICITY_SQL), tags=("ext", "pipeline"))
def pipeline_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount elasticity per brand: the OLS slope of line quantity on
    discount — does a deeper discount actually MOVE more units for this
    brand, and by how many units per discount point?
    pipeline_discount_depth shows how much margin each discount band
    gives away; this is the other half of that pricing review (spend
    without volume response = pure margin leak). Positive slope =
    demand responds; the magnitude ranks brands by promotional
    efficiency.

    Exact: discount in integer basis points and integral quantity make
    all five regression moments (n, Σx, Σy, Σxy, Σx²) exact integer
    aggregates (the agg_linreg_trend discipline on a money axis); the
    slope is one fixed-shape float expression over them, reported per
    PERCENTAGE point (×100), rounded before the sign verdict.

    Scale: one fact scan → broadcast part join → |brands| hash agg with
    map-side partials. The slope needs no second pass — sufficient
    statistics only.
    """
    return run_sql(spark, sf_dir, _ELASTICITY_SQL)


# ---------------------------------------------------------------------------
# Weekly order backlog burndown (opened vs fully-shipped, cumulative)
# ---------------------------------------------------------------------------

_BACKLOG_SQL = """
WITH o AS (
    SELECT o_orderkey, {epoch[o_orderdate]} // 604800 AS owk,
           CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT) AS cents
    FROM {orders}
), opened AS (
    SELECT owk AS wk, count(*) AS n_opened, sum(cents) AS opened_cents
    FROM o GROUP BY owk
), li AS (
    SELECT l_orderkey, {epoch[l_shipdate]} // 604800 AS swk FROM {lineitem}
), closed AS (
    SELECT wk, count(*) AS n_closed, sum(cents) AS closed_cents
    FROM (
        SELECT l_orderkey, max(swk) AS wk, max(cents) AS cents
        FROM li JOIN o ON l_orderkey = o_orderkey
        GROUP BY l_orderkey
    ) per_order
    GROUP BY wk
), wks AS (
    SELECT coalesce(opened.wk, closed.wk) AS wk,
           coalesce(n_opened, 0) AS n_opened,
           coalesce(n_closed, 0) AS n_closed,
           coalesce(opened_cents, 0) AS opened_cents,
           coalesce(closed_cents, 0) AS closed_cents
    FROM opened FULL JOIN closed ON opened.wk = closed.wk
)
SELECT CAST(wk AS BIGINT) AS week,
       CAST(n_opened AS BIGINT) AS n_opened,
       CAST(n_closed AS BIGINT) AS n_closed,
       CAST(sum(n_opened - n_closed) OVER w AS BIGINT) AS backlog_orders,
       CAST(sum(opened_cents - closed_cents) OVER w AS BIGINT) AS backlog_cents
FROM wks
-- dim_window: |weeks| rows (calendar-bounded)
WINDOW w AS (ORDER BY wk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@op("pipeline_backlog_burndown", oracle=duckdb_sql(_BACKLOG_SQL), tags=("ext", "pipeline"))
def pipeline_backlog_burndown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly order-backlog burndown: per week, orders OPENED (by order
    date) vs orders FULLY SHIPPED (the week of the order's LAST line
    shipment), and the running backlog in both order count and cents —
    the operations view that order_lead_time's latency percentiles
    summarize away: lead time says "how slow", the backlog curve says
    "how far behind, trending which way", which is what capacity
    planning actually consumes. An order closes in its max-shipdate
    week; orders with no lines never close, stated.

    Exact: week = epoch div 604800 (the integer-div bucketing
    discipline); counts and cents (order totalprice at open AND close —
    the same order contributes equal and opposite cents, so the
    cumulative nets to the open-value backlog) are exact integer
    aggregates; the running sums are integer window folds. No floats
    anywhere.

    Scale: orders scan → |weeks| agg; lineitem⋈orders shuffle on
    orderkey (fact×fact, AQE) → per-order max agg → |weeks| agg; the
    cumulative window runs on the |weeks|-bounded union frame.
    """
    return run_sql(spark, sf_dir, _BACKLOG_SQL)


# ---------------------------------------------------------------------------
# Nation trade balance (export vs import revenue per nation)
# ---------------------------------------------------------------------------

# Each line unpivots into an export row (supplier nation) and an import
# row (customer nation), so ONE pass over the joined fact feeds one hash
# agg — two separate rollups would plan (and scan) the join twice.
_TRADE_SQL = """
WITH r AS (
    SELECT s_nationkey AS exp_nk, c_nationkey AS imp_nk,
           CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 5e-1) AS BIGINT)
               AS cents
    FROM {lineitem}
    JOIN {orders}   ON l_orderkey = o_orderkey
    JOIN {supplier} ON l_suppkey = s_suppkey
    JOIN {customer} ON o_custkey = c_custkey
), flows AS (
    SELECT nk,
           sum(CASE WHEN role = 'exp_nk' THEN cents END) AS export_cents,
           sum(CASE WHEN role = 'exp_nk' THEN 1 ELSE 0 END) AS n_export_items,
           sum(CASE WHEN role = 'imp_nk' THEN cents END) AS import_cents,
           sum(CASE WHEN role = 'imp_nk' THEN 1 ELSE 0 END) AS n_import_items
    FROM r UNPIVOT INCLUDE NULLS (nk FOR role IN (exp_nk, imp_nk))
    GROUP BY nk
)
SELECT n_name,
       CAST(coalesce(n_export_items, 0) AS BIGINT) AS n_export_items,
       CAST(coalesce(n_import_items, 0) AS BIGINT) AS n_import_items,
       CAST(coalesce(export_cents, 0) AS BIGINT) AS export_cents,
       CAST(coalesce(import_cents, 0) AS BIGINT) AS import_cents,
       CAST(coalesce(export_cents, 0) - coalesce(import_cents, 0) AS BIGINT)
           AS balance_cents
FROM {nation} LEFT JOIN flows ON n_nationkey = nk
"""


@op(
    "pipeline_nation_trade_balance",
    oracle=duckdb_sql(_TRADE_SQL),
    tags=("ext", "pipeline", "join"),
)
def pipeline_nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation trade balance over the supplier→customer flow: a
    nation EXPORTS a line's revenue when its supplier ships it and
    IMPORTS when its customer buys it; the balance nets the two. The
    symmetric rollup of pipeline_nation_volume's (supplier, customer)
    matrix — Q7 tells you which corridors are big, this tells you who
    runs a surplus, including nations with zero flow (LEFT join from
    the nation dim keeps them at 0, stated).

    Exact: revenue in integer cents (per-line round then exact BIGINT
    sums); one shared fact-join subtree feeds BOTH rollups (export by
    supplier nation, import by customer nation) through one UNPIVOT,
    so the corpus-scale joins run once.

    Scale: lineitem⋈orders shuffle (fact×fact, AQE) + two key lookups;
    both rollups are one 25-row agg with map-side partials, joined
    back to the nation dim.
    """
    return run_sql(spark, sf_dir, _TRADE_SQL)


# ---------------------------------------------------------------------------
# Monthly fill rate (service level: quantity shipped within 30 days)
# ---------------------------------------------------------------------------

_FILL_SQL = """
WITH o AS (
    SELECT o_orderkey,
           {epoch[o_orderdate]} // 86400 AS oday,
           {epoch[o_orderdate]} // 86400 // 30 AS m30
    FROM {orders}
), li AS (
    SELECT l_orderkey,
           {epoch[l_shipdate]} // 86400 AS sday,
           CAST(floor(l_quantity + 5e-1) AS BIGINT) AS qty
    FROM {lineitem}
), g AS (
    SELECT m30,
           count(*) AS n_lines,
           sum(qty) AS total_qty,
           -- the service-level promise window: shipped within 30 days
           sum(CASE WHEN sday - oday <= 30 THEN 1 ELSE 0 END * qty) AS on_time_qty
    FROM li JOIN o ON l_orderkey = o_orderkey
    GROUP BY m30
)
SELECT CAST(m30 AS BIGINT) AS month_bucket,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(total_qty AS BIGINT) AS total_qty,
       CAST(on_time_qty AS BIGINT) AS on_time_qty,
       CAST(on_time_qty * 10000 // total_qty AS BIGINT) AS fill_rate_bp
FROM g
WHERE total_qty > 0
"""


@op("pipeline_fill_rate", oracle=duckdb_sql(_FILL_SQL), tags=("ext", "pipeline"))
def pipeline_fill_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly fill rate: the share of ordered QUANTITY shipped within
    the 30-day service window, per 30-day order-date bucket — the
    service-level number an ops review tracks, where
    pipeline_order_lead_time reports the latency distribution and
    pipeline_late_shipment_priority the worst offenders: lead time says
    how slow shipments are, fill rate says how much PROMISED VOLUME the
    promise actually covered. Quantity weighting is the difference —
    one late bulk line hurts more than ten late samples.

    Exact: day arithmetic is integer epoch div; the on-time indicator
    is an integer day-difference compare; quantities and the rate are
    exact integer sums with integral basis-point division.

    Scale: one fact×fact shuffle on orderkey (AQE), then a
    |month-buckets| hash agg with map-side partials.
    """
    return run_sql(spark, sf_dir, _FILL_SQL)


# ---------------------------------------------------------------------------
# Supplier concentration per brand (sourcing-risk HHI)
# ---------------------------------------------------------------------------

_BRAND_HHI_SQL = """
WITH li AS (
    SELECT l_partkey, l_suppkey,
           CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 5e-1) AS BIGINT)
               AS cents
    FROM {lineitem}
), r AS (
    SELECT /*+ BROADCAST(p) */ p_brand, l_suppkey, sum(cents) AS cents
    FROM li JOIN {part} p ON l_partkey = p_partkey
    GROUP BY p_brand, l_suppkey
), t AS (
    SELECT p_brand, sum(cents) AS total, count(*) AS n_suppliers,
           max(cents) AS top_cents
    FROM r GROUP BY p_brand
    HAVING sum(cents) > 0
), h AS (
    SELECT /*+ BROADCAST(t) */ p_brand, n_suppliers, total, top_cents,
           sum((cents * 10000 // total) * (cents * 10000 // total)) AS hhi_bp2
    FROM r JOIN t USING (p_brand)
    GROUP BY p_brand, n_suppliers, total, top_cents
)
SELECT p_brand,
       CAST(n_suppliers AS BIGINT) AS n_suppliers,
       CAST(total AS BIGINT) AS total_cents,
       CAST(top_cents * 10000 // total AS BIGINT) AS top_share_bp,
       CAST(hhi_bp2 AS BIGINT) AS hhi_bp2
FROM h
"""


@op("pipeline_brand_supplier_hhi", oracle=duckdb_sql(_BRAND_HHI_SQL), tags=("ext", "pipeline"))
def pipeline_brand_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration HHI per brand: Herfindahl over each
    supplier's revenue share of the brand (integral bp, squared and
    summed) plus the top supplier's share — the SOURCING-RISK axis of
    the concentration family: pipeline_revenue_hhi asks "do few
    customers dominate revenue", this asks "does one supplier own a
    brand's supply" — the number that decides dual-sourcing. 10000²
    means single-sourced; ~10000²/k means k balanced suppliers.

    Exact: per-(brand, supplier) cents are exact integer sums; shares
    are integral basis points (div — floor shares, stated: HHI from
    floored shares is deterministic and engine-identical, the
    pipeline_revenue_hhi convention); the square-sum stays in BIGINT
    (≤ 10⁸ per term, ≤|suppliers|·10⁸ per brand).

    Scale: fact scan → broadcast part join → (brand, supplier) hash
    agg → |brands| rollup; the share join is against the |brands|-row
    totals frame, broadcast.
    """
    return run_sql(spark, sf_dir, _BRAND_HHI_SQL)


# ---------------------------------------------------------------------------
# Per-(part, supplier) average unit prices, shared by the next two ops
# ---------------------------------------------------------------------------

# Unit prices are integral milli-cents (cents·1000 div qty).
_UNIT_PRICES = """
WITH ps AS (
    SELECT l_partkey, l_suppkey,
           sum(CAST(floor(l_extendedprice * 100 + 5e-1) AS BIGINT)) AS cents,
           sum(CAST(l_quantity AS BIGINT)) AS qty
    FROM {lineitem}
    GROUP BY l_partkey, l_suppkey
), u AS (
    SELECT l_partkey, cents, qty, cents * 1000 // qty AS unit_mil
    FROM ps WHERE qty > 0
)"""

_PRICE_DISPERSION_SQL = _UNIT_PRICES + """, d AS (
    SELECT l_partkey,
           count(*) AS n_suppliers,
           min(unit_mil) AS min_unit_mil,
           max(unit_mil) AS max_unit_mil,
           sum(unit_mil) AS sum_unit_mil
    FROM u GROUP BY l_partkey
    -- a spread needs at least 3 suppliers of the part
    HAVING count(*) >= 3
)
SELECT CAST(l_partkey AS BIGINT) AS partkey,
       CAST(n_suppliers AS BIGINT) AS n_suppliers,
       CAST(min_unit_mil AS BIGINT) AS min_unit_mil,
       CAST(max_unit_mil AS BIGINT) AS max_unit_mil,
       CAST((max_unit_mil - min_unit_mil) * 10000
            // nullif(sum_unit_mil // n_suppliers, 0) AS BIGINT) AS spread_bp
FROM d
-- the top 20 spreads
ORDER BY spread_bp DESC, partkey
LIMIT 20
"""


@op(
    "pipeline_price_dispersion",
    oracle=duckdb_sql(_PRICE_DISPERSION_SQL),
    tags=("ext", "pipeline", "global"),
)
def pipeline_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-supplier unit-price dispersion: for every part sold by ≥3
    suppliers, the spread between the cheapest and dearest average
    unit price as basis points of the mean — the procurement
    arbitrage screen ("which parts are we buying at wildly different
    prices depending on supplier?"), ranked by spread, top-20. The
    per-part sibling of pipeline_brand_supplier_hhi (which grades
    CONCENTRATION; this grades PRICE disagreement).

    Exact: unit prices are integral milli-cents (cents·1000 div qty —
    integral division, no floats anywhere); the spread share is one
    more integral division against the integral mean. Total-order
    ranked (spread, partkey).

    Scale: one (part, supplier) hash agg with map-side partials — the
    natural pre-aggregation that keeps the per-part fan-in at
    |suppliers-per-part|, then a |parts|-bounded agg and a top-k. No
    joins at all.
    """
    return run_sql(spark, sf_dir, _PRICE_DISPERSION_SQL)


# ---------------------------------------------------------------------------
# New-vs-repeat revenue split per order year (round 13)
# ---------------------------------------------------------------------------

_NEW_REPEAT_SQL = """
WITH o AS (
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT) AS cents,
           CASE WHEN o_orderdate = min(o_orderdate) OVER (PARTITION BY o_custkey)
                THEN 1 ELSE 0 END AS is_first
    FROM {orders}
)
SELECT yr,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(is_first) AS BIGINT) AS n_first_orders,
       CAST(sum(CASE WHEN is_first = 1 THEN cents ELSE 0 END) AS BIGINT)
           AS first_order_cents,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(sum(CASE WHEN is_first = 1 THEN cents ELSE 0 END) * 10000
            // nullif(sum(cents), 0) AS BIGINT) AS new_revenue_bp
FROM o GROUP BY yr
"""


@op(
    "pipeline_new_vs_repeat_revenue",
    oracle=duckdb_sql(_NEW_REPEAT_SQL),
    tags=("ext", "pipeline", "global"),
)
def pipeline_new_vs_repeat_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue split between customers' FIRST-ever orders and repeat
    orders, per order year — the acquisition-vs-retention mix that
    pipeline_new_returning_users counts in heads, here weighted in
    money: a falling new_revenue_bp with flat totals means the
    business is compounding on its installed base. First order = the
    customer's minimum order DATE (all same-day orders count as first
    — the standard day-grain acquisition definition, identical on
    both engines).

    Exact: integer cents, integral basis-point division.

    Scale: the first-date tag is a per-customer window (one keyed
    exchange on the entity key — bounded per-customer order counts),
    then one |years| hash agg. At 100 TB this is the canonical
    "enrich facts with an entity-level min" shape; no joins.
    """
    return run_sql(spark, sf_dir, _NEW_REPEAT_SQL)


# ---------------------------------------------------------------------------
# Vendor-consolidation what-if savings (round 13, wave 2)
# ---------------------------------------------------------------------------

_CONSOLIDATION_SQL = _UNIT_PRICES + """, d AS (
    SELECT l_partkey,
           count(*) AS n_suppliers,
           sum(cents) AS actual_cents,
           sum(qty) AS total_qty,
           min(unit_mil) AS best_unit_mil
    FROM u GROUP BY l_partkey
)
SELECT CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(CASE WHEN n_suppliers > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_multi_supplier_parts,
       CAST(sum(actual_cents) AS BIGINT) AS actual_cents,
       CAST(sum(total_qty * best_unit_mil) // 1000 AS BIGINT) AS consolidated_cents,
       CAST((sum(actual_cents) - sum(total_qty * best_unit_mil) // 1000)
            * 10000 // sum(actual_cents) AS BIGINT) AS savings_bp
FROM d
"""


@op(
    "pipeline_vendor_consolidation_savings",
    oracle=duckdb_sql(_CONSOLIDATION_SQL),
    tags=("ext", "pipeline", "global"),
)
def pipeline_vendor_consolidation_savings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vendor-consolidation what-if: if every part's volume were routed
    to its CHEAPEST observed supplier (by average unit price), how much
    of the actual spend disappears? One row: part counts, actual vs
    consolidated cents, savings in basis points — the action number
    pipeline_price_dispersion's spread table motivates (dispersion says
    where prices disagree; this prices the disagreement). The classic
    caveat — best-supplier capacity is assumed elastic — is the
    standard reading of the upper-bound form.

    Exact: integral milli-cent unit prices (the dispersion op's
    discipline); the counterfactual spend is qty·best_unit integral
    arithmetic with one final ``div 1000`` descale and one integral bp
    division.

    Scale: one (part, supplier) hash agg → one |parts| agg → one row.
    No joins.
    """
    return run_sql(spark, sf_dir, _CONSOLIDATION_SQL)
