"""Aggregation operators.

The reference's single aggregation is a per-region tumbling count held in
an atomic array (/root/reference/regionSpout.go:77,154,109-111) — i.e. a
hand-rolled partial aggregate merged by one reader. Spark's HashAggregate
generalizes exactly that: partial (map-side) aggregation per task, one
shuffle on the group key, final merge — which is why every op here scales:
the shuffle carries one row per (task × group), not per input row.

Float discipline: every floating aggregate is rounded to 4 decimals here
AND in the oracle SQL — cross-engine (and cross-run) summation order makes
raw doubles differ in the last ulps (registry.py conventions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from connor_fun_streamproducer_spark.catalog import (
    bounded_series,
    epoch_div,
    literal_frame,
    load,
)
from connor_fun_streamproducer_spark.operators.sql_front import duckdb_sql, run_sql
from connor_fun_streamproducer_spark.registry import op


@op(
    "agg_hash",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                                        AS sum_qty,
           round(sum(l_extendedprice), 4)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("ext", "agg"),
)
def agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical multi-aggregate group-by.

    Eight aggregates over two low-cardinality keys — the partial/final
    HashAggregate pair reduces 100 TB of lineitem to a handful of rows
    before the only exchange.
    """
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
        F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@op(
    "agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey)            AS n_customers,
           round(sum(DISTINCT o_totalprice), 4) AS sum_distinct_price,
           count(*)                             AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("ext", "agg"),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregation (expand-based rewrite under the hood).

    Each DISTINCT spec multiplies the shuffled data (Expand operator) —
    the 100 TB guidance is to prefer approx_count_distinct unless exact
    cardinality is contractual; both forms are provided (see agg_approx).
    """
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.round(F.sum_distinct(F.col("o_totalprice")), 4).alias("sum_distinct_price"),
        F.count("*").alias("n_orders"),
    )


# approx_count_distinct rsd + percentile_approx accuracy used by agg_approx,
# shared with the band constants below so the verification bands state the
# SAME contract the production call makes.
_HLL_RSD = 0.01
_PA_ACCURACY = 10000
# Verification bands (with_exact=True): HLL estimate within 3·rsd of exact
# (observed ≤0.67·rsd at every fixture scale); each percentile_approx value
# inside the exact q±0.0005 rank band (5× the 1/accuracy rank guarantee).
_HLL_BAND = 3 * _HLL_RSD
_PA_RANK_BAND = 0.0005

_APPROX_ORACLE = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS ndv_in_band,
       round(quantile_cont(l_extendedprice, 0.5), 4)  AS p50,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
       TRUE AS p50_in_band, TRUE AS p95_in_band, TRUE AS p99_in_band
FROM lineitem
GROUP BY l_returnflag
"""


@op("agg_approx", oracle=_APPROX_ORACLE, tags=("ext", "agg", "approx"))
def agg_approx(
    spark: SparkSession, sf_dir: str, with_exact: bool = True
) -> DataFrame:
    """Approximate distinct + quantiles — the 100 TB cardinality tools.

    HyperLogLog++ (`approx_count_distinct`) and KLL-style quantile sketches
    (`percentile_approx`) are mergeable, so they aggregate in one pass with
    bounded memory; the exact counterparts are oracle-checked in
    agg_distinct/agg_percentile.

    Verification shape (``with_exact=True``, the registry binding; the
    agg_kll_quantile discipline, VERDICT r6 #4): sketch internals are
    engine-specific so raw estimates can't hash-match DuckDB — instead the
    output carries the EXACT companions (count(DISTINCT), type-7
    percentiles — both hash-compared) plus law booleans pinning each
    estimate: the HLL count within 3·rsd of exact, each percentile_approx
    value inside the exact q±0.0005 rank band (the sketch's 1/accuracy
    rank guarantee with 5× headroom). The exact companions cost a
    distinct shuffle + per-group sorts, so a 100 TB caller wanting the
    one-pass sketch frame passes ``with_exact=False`` and gets the
    original estimates-only shape (quantiles as scalar columns, not one
    ARRAY, so per-column row canonicalizers can hash the result).
    """
    li = load(spark, sf_dir, "lineitem")
    q = F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], _PA_ACCURACY)
    if not with_exact:
        return li.groupBy("l_returnflag").agg(
            F.approx_count_distinct("l_partkey", rsd=_HLL_RSD).alias("approx_parts"),
            F.round(F.element_at(q, 1), 4).alias("p50_approx"),
            F.round(F.element_at(q, 2), 4).alias("p95_approx"),
            F.round(F.element_at(q, 3), 4).alias("p99_approx"),
        )
    bands = []
    for lo, hi in [(0.5 - _PA_RANK_BAND, 0.5 + _PA_RANK_BAND),
                   (0.95 - _PA_RANK_BAND, 0.95 + _PA_RANK_BAND),
                   (0.99 - _PA_RANK_BAND, 0.99 + _PA_RANK_BAND)]:
        bands.extend([F.lit(lo), F.lit(hi)])
    g = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=_HLL_RSD).alias("ac"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        q.alias("qa"),
        F.percentile("l_extendedprice", F.array(*bands)).alias("qb"),
        F.percentile(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))
        ).alias("qe"),
    )
    in_band = lambda i: (
        (F.col("qb")[2 * i] <= F.col("qa")[i])
        & (F.col("qa")[i] <= F.col("qb")[2 * i + 1])
    )
    return g.select(
        "l_returnflag",
        F.col("exact_parts").cast("bigint").alias("exact_parts"),
        (
            F.abs(F.col("ac") - F.col("exact_parts"))
            <= _HLL_BAND * F.col("exact_parts")
        ).alias("ndv_in_band"),
        F.round(F.col("qe")[0], 4).alias("p50"),
        F.round(F.col("qe")[1], 4).alias("p95"),
        F.round(F.col("qe")[2], 4).alias("p99"),
        in_band(0).alias("p50_in_band"),
        in_band(1).alias("p95_in_band"),
        in_band(2).alias("p99_in_band"),
    )


@op(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4)  AS p50,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("ext", "agg"),
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (sorts per group — the non-scalable
    exact twin of percentile_approx, kept for oracle-checked correctness)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95"),
    )


_GROUPING_SETS_SQL = """
SELECT coalesce(o_orderstatus, '(all)')   AS status,
       coalesce(o_orderpriority, '(all)') AS priority,
       count(*)                           AS n,
       round(sum(o_totalprice), 4)        AS total
FROM {orders}
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@op("agg_grouping_sets", oracle=duckdb_sql(_GROUPING_SETS_SQL), tags=("ext", "agg"))
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS: by-status, by-priority, and grand total in one pass.

    Catalyst's Expand replicates each input row once per grouping set
    before a single HashAggregate — one shuffle for all three aggregation
    levels. Group keys are coalesced to '(all)' on both sides (no real
    NULLs in these columns) so the subtotal marker hashes identically.
    """
    return run_sql(spark, sf_dir, _GROUPING_SETS_SQL)


@op(
    "agg_rollup",
    oracle="""
    SELECT coalesce(r_name, '(all)') AS region_name,
           coalesce(n_name, '(all)') AS nation_name,
           count(*)                  AS n_customers,
           round(sum(c_acctbal), 4)  AS total_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("ext", "agg"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the region→nation hierarchy (nation, region, grand)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), F.round(F.sum("c_acctbal"), 4).alias("total_balance"))
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("region_name"),
            F.coalesce("n_name", F.lit("(all)")).alias("nation_name"),
            "n_customers",
            "total_balance",
        )
    )


@op(
    "agg_cube",
    oracle="""
    SELECT coalesce(o_orderstatus, '(all)')   AS status,
           coalesce(o_orderpriority, '(all)') AS priority,
           count(*)                           AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("ext", "agg"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all four grouping combinations of (status, priority)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "n",
        )
    )


@op(
    "agg_collect",
    oracle="""
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
           count(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("ext", "agg"),
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-building aggregate: collect_set → sorted → joined to a string.

    The string form keeps the oracle hash representation-independent
    (array formatting differs across engines). collect_* aggregates are
    unbounded-state per group — at 100 TB, bound group cardinality first.
    """
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("o_orderpriority"))).alias("priorities"),
        F.count("*").alias("n"),
    )


@op(
    "agg_pivot",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("ext", "agg"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts by priority × status (explicit value list).

    Passing the pivot values explicitly skips the extra distinct-values
    job — mandatory at 100 TB (implicit pivot scans the data twice and
    caps at spark.sql.pivotMaxValues).
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["O", "F", "P"])
    )


@op(
    "agg_unpivot",
    oracle="""
    SELECT o_orderpriority AS priority, o_orderstatus AS status, count(*) AS n
    FROM orders
    WHERE o_orderstatus IN ('O', 'F', 'P')
    GROUP BY 1, 2
    """,
    tags=("ext", "agg"),
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide pivot back to (priority, status, n) rows —
    the pivot↔unpivot round-trip proves both directions lossless (zero
    rows survive only when a (priority,status) pair never occurs; those
    are refiltered out to match the direct group-by)."""
    wide = agg_pivot(spark, sf_dir)
    return (
        wide.unpivot("priority", ["O", "F", "P"], "status", "n")
        .filter(F.col("n") > 0)
    )


@op(
    "agg_stats_moments",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4)              AS price_stddev,
           round(var_samp(l_discount), 6)                      AS discount_var,
           round(corr(l_extendedprice, l_quantity), 6)         AS price_qty_corr,
           round(covar_samp(l_extendedprice, l_discount), 4)   AS price_disc_covar
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("ext", "agg"),
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics: stddev / variance / correlation / covariance.

    All four are single-pass mergeable aggregates (sum, sum-of-squares,
    cross-sum carried as partial state), so they partial-aggregate
    map-side exactly like count/sum — one dim-bounded exchange at any
    input scale, the same profile as agg_hash. Results round to fixed
    decimals on both sides: the merge tree's summation order differs
    between engines, and second moments amplify last-ulp drift more than
    plain sums (this is the documented reason the looser 4-decimal
    rounding is used for the large-magnitude columns)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
        F.round(F.var_samp("l_discount"), 6).alias("discount_var"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("price_qty_corr"),
        F.round(F.covar_samp("l_extendedprice", "l_discount"), 4).alias("price_disc_covar"),
    )


@op(
    "agg_mode_per_key",
    oracle="""
    SELECT user_id, event_type AS mode_type, n
    FROM (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY count(*) DESC, event_type) AS rk
        FROM events
        GROUP BY user_id, event_type
    ) WHERE rk = 1
    """,
    tags=("ext", "agg"),
)
def agg_mode_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key mode: each user's most frequent event type.

    Built as count + rank rather than the native mode() aggregate
    because mode's tie-break is implementation-defined — the (count
    DESC, value ASC) rank makes the answer identical on every engine
    and every run, which is what lets the oracle hash it. Two stages
    on ONE (user_id)-compatible partitioning: the (user_id, type)
    count partial-aggregates map-side, and the rank window runs on the
    user_id clustering the count exchange already produced — at 100 TB
    the heavy stage is the count, bounded by |users × types| output.
    """
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
    )


_WMEDIAN_ORACLE = """
WITH d AS (
    SELECT l_returnflag,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
           CAST(l_quantity AS BIGINT) AS w,
           l_orderkey, l_linenumber
    FROM lineitem
), r AS (
    SELECT l_returnflag, cents, w,
           sum(w) OVER (PARTITION BY l_returnflag
                        ORDER BY cents, l_orderkey, l_linenumber
                        ROWS UNBOUNDED PRECEDING) AS cw,
           sum(w) OVER (PARTITION BY l_returnflag) AS tw
    FROM d
)
SELECT l_returnflag,
       CAST(min(cents) AS BIGINT) AS wmedian_cents,
       CAST(min(tw) AS BIGINT)    AS total_weight
FROM r WHERE 2 * cw >= tw
GROUP BY l_returnflag
"""


@op("agg_weighted_percentile", oracle=_WMEDIAN_ORACLE, tags=("ext", "agg", "stats"))
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median per group (price weighted by quantity): the
    50th weighted percentile, where each row counts with its weight —
    the statistic behind "half the shipped VOLUME was priced at or
    below X" (plain median answers the much weaker per-line question).
    Spark has percentile/approx_percentile but no weighted form; the
    composition is a running weight sum over the value order plus the
    threshold rule 2·cumw ≥ totw, taking the smallest qualifying value
    (lower weighted median — deterministic under the total (value, key)
    order, exact integer cents and weights end to end).

    One (group) exchange carries both window passes AND the final
    aggregate (all cluster on the group key); the sort within each
    group partition is the honest cost of any exact rank statistic —
    the sort-free approximation belongs to the KLL sketch tier, same
    division of labor as agg_gini_concentration.
    """
    li = load(spark, sf_dir, "lineitem")
    d = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    wo = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("l_returnflag")
    r = d.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(wo).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    return (
        r.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("cents").cast("bigint").alias("wmedian_cents"),
            F.min("tw").cast("bigint").alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Arg-extremal aggregation (max_by / min_by with total-order tie-breaks)
# ---------------------------------------------------------------------------

# Deterministic scalar ordering keys: cents packs with the row key so ties
# on the measure break on the LOWEST o_orderkey in both directions. The
# packing bound (cents < ~9.2e8 at any TPC-H sf, orderkey < 1e10) keeps
# cents * 1e10 + orderkey inside int64; ANSI mode would THROW (not wrap)
# if a deployment ever exceeded it — the loud failure is the contract.
_ARG_PACK = 10_000_000_000

_EXTREMAL_ORACLE = f"""
WITH o AS (
    SELECT o_orderpriority, o_orderkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(arg_max(o_orderkey,
                    cents * {_ARG_PACK} + ({_ARG_PACK} - 1 - o_orderkey))
            AS BIGINT) AS best_orderkey,
       CAST(max(cents) AS BIGINT) AS best_cents,
       CAST(arg_min(o_orderkey, cents * {_ARG_PACK} + o_orderkey)
            AS BIGINT) AS worst_orderkey,
       CAST(min(cents) AS BIGINT) AS worst_cents
FROM o GROUP BY 1
"""


@op("agg_extremal_by", oracle=_EXTREMAL_ORACLE, tags=("ext", "agg"))
def agg_extremal_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-extremal aggregation: per order priority, WHICH order carries
    the highest (and lowest) total price — ``max_by``/``min_by``, the
    aggregate form of "top-1 per group" that costs ONE hash aggregate
    instead of topk_per_group's window sort (the right tool when only
    the argmax row id is needed, not a ranking).

    Determinism: max_by's documented behavior on ties is arbitrary, so
    the ordering key packs the measure with the row key (cents·1e10 ±
    orderkey) into one scalar — ties on cents break on the lowest
    orderkey in BOTH directions, making the result hash-stable
    cross-engine (DuckDB arg_max/arg_min take scalar keys only, so the
    packed key doubles as the oracle-compatible form).

    Scale: one partial-combined hash agg — max_by merges map-side like
    any algebraic aggregate; the exchange carries one (value, key) pair
    per (task × group).
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    best_key = F.col("cents") * _ARG_PACK + (_ARG_PACK - 1 - F.col("o_orderkey"))
    worst_key = F.col("cents") * _ARG_PACK + F.col("o_orderkey")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.max_by("o_orderkey", best_key).cast("bigint").alias("best_orderkey"),
        F.max("cents").cast("bigint").alias("best_cents"),
        F.min_by("o_orderkey", worst_key).cast("bigint").alias("worst_orderkey"),
        F.min("cents").cast("bigint").alias("worst_cents"),
    )


# ---------------------------------------------------------------------------
# Geometric mean of daily revenue per type (the growth-friendly center)
# ---------------------------------------------------------------------------

_GEO_ORACLE = """
WITH d AS (
    SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
    FROM events GROUP BY 1, 2
), l AS (
    SELECT event_type,
           list(x ORDER BY x, day) AS xs,
           count(*) AS n, sum(x) AS s
    FROM d WHERE x > 0
    GROUP BY 1 HAVING count(*) >= 1
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days_pos,
       round(CAST(s AS DOUBLE) / n, 4) + 0.0 AS arith_mean_cents,
       round(exp(list_reduce(list_transform(xs,
                 x -> ln(CAST(x AS DOUBLE))), (a, b) -> a + b) / n), 4) + 0.0
           AS geo_mean_cents
FROM l
"""


@op("agg_geometric_mean", oracle=_GEO_ORACLE, tags=("ext", "agg", "stats"))
def agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean of POSITIVE daily revenue per type, next to the
    arithmetic mean — the multiplicative center SQL has no aggregate
    for: when a series compounds (daily revenue under growth, latency
    under multiplicative noise), the geometric mean is the
    representative day and the arithmetic mean overstates it by
    exactly the inequality AM ≥ GM that the output exposes per type
    (their ratio is a one-number skew gauge). Zero/negative days are
    excluded, stated — ln is the mechanism, and a single zero day
    would collapse the product to zero anyway.

    Exact where it matters: daily cents are exact integer aggregates;
    Σ ln(x) is a LEFT FOLD over the per-type daily values sorted by
    (value, day) — identical float summation order on both engines
    over a calendar-bounded array (the bounded-series contract,
    enforced); exp and round(4) finish fixed-shape.

    Scale: one scan → (type, day) hash agg → |types| bounded-array
    folds. The fold never sees row scale.
    """
    d = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            epoch_div("ts", 86400).alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("x"))
        .filter(F.col("x") > 0)
    )
    l = d.groupBy("event_type").agg(
        bounded_series(
            F.array_sort(F.collect_list(F.array("x", "day"))),
            what="agg_geometric_mean daily values",
        ).alias("xs"),
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
    )
    lnsum = F.expr(
        "aggregate(xs, CAST(0.0 AS DOUBLE),"
        " (a, p) -> a + ln(CAST(p[0] AS DOUBLE)))"
    )
    n = F.col("n")
    return l.select(
        "event_type",
        n.cast("bigint").alias("n_days_pos"),
        (F.round(F.col("s").cast("double") / n, 4) + F.lit(0.0)).alias(
            "arith_mean_cents"
        ),
        (F.round(F.exp(lnsum / n), 4) + F.lit(0.0)).alias("geo_mean_cents"),
    )


# ---------------------------------------------------------------------------
# Exact global median via the distributed rank (round 13)
# ---------------------------------------------------------------------------

_MEDIAN_ORACLE = """
WITH c AS (
    SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders
), r AS (
    SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) AS rk,
           count(*) OVER () AS n
    FROM c
), mid AS (
    SELECT n, cents, rk FROM r
    WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2
)
SELECT CAST(max(n) AS BIGINT) AS n_orders,
       CAST(CASE WHEN count(*) = 1 THEN sum(cents) * 2 ELSE sum(cents) END
            AS BIGINT) AS median_doubled_cents
FROM mid
"""


@op("agg_median_distributed", oracle=_MEDIAN_ORACLE, tags=("ext", "agg", "scale"))
def agg_median_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median of order value — as the doubled integer
    (lower + upper middle cents, so odd/even corpora share one integer
    contract) — computed with scale_patterns.distributed_rank instead
    of a global sort: quantile-literal shards, rank within shard,
    broadcast prefix offsets, then ONE filter keeps the two middle
    ranks. agg_percentile is the exact PER-GROUP twin (sorts each
    group) and agg_kll_quantile the sketched approximation; this is
    the exact GLOBAL form that still runs when the column no longer
    fits one partition — the canonical "exact median at scale"
    building block (selection by rank, not sort).

    Exact: integer cents, integer ranks; no floats anywhere.

    Scale: two linear shuffles (the rank), then a filter to ≤2 rows.
    """
    from connor_fun_streamproducer_spark.operators.scale_patterns import (
        distributed_rank,
        rank_cuts_key,
    )

    c = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias(
            "cents"
        ),
    )
    ranked = distributed_rank(
        c,
        "cents",
        ["o_orderkey"],
        cuts_key=rank_cuts_key(sf_dir, "orders", "pricecents"),
    )
    n = ranked.agg(F.count("*").alias("n"))
    mid = ranked.crossJoin(F.broadcast(n)).filter(
        (F.col("rk") == F.expr("(n + 1) div 2"))
        | (F.col("rk") == F.expr("(n + 2) div 2"))
    )
    return mid.agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.when(
            F.count("*") == 1, (F.sum("cents") * 2)
        )
        .otherwise(F.sum("cents"))
        .cast("bigint")
        .alias("median_doubled_cents"),
    )


# ---------------------------------------------------------------------------
# Exact distributed quantile vector by rank selection (round 13, wave 2)
# ---------------------------------------------------------------------------

_QDIST_PCTS = (25, 50, 75, 90, 99)

_QDIST_ORACLE = f"""
WITH c AS (
    SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders
), r AS (
    SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) AS rk,
           count(*) OVER () AS n
    FROM c
), p AS (
    SELECT unnest([{', '.join(map(str, _QDIST_PCTS))}]) AS pct
)
SELECT CAST(p.pct AS BIGINT) AS pct,
       CAST(max(r.n) AS BIGINT) AS n_orders,
       CAST((p.pct * max(r.n) + 99) // 100 AS BIGINT) AS sel_rank,
       CAST(sum(CASE WHEN r.rk = (p.pct * r.n + 99) // 100
                     THEN r.cents ELSE 0 END) AS BIGINT) AS value_cents
FROM r CROSS JOIN p
GROUP BY p.pct
"""


@op("agg_quantiles_distributed", oracle=_QDIST_ORACLE, tags=("ext", "agg", "scale"))
def agg_quantiles_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p25/p50/p75/p90/p99 of order value by nearest-rank
    SELECTION on the distributed rank (ceil(p·n) — the type-1 quantile
    definition both engines share as pure integer arithmetic): one rank
    pass, then one filter keeps the five selected rows. The quantile
    VECTOR companion of agg_median_distributed, and the exact
    ground-truth tier the KLL sketch (agg_kll_quantile) is graded
    against — at 100 TB you run the sketch daily and this selection
    weekly to pin its drift.

    Exact: integer cents, integer ranks, integral rank arithmetic — no
    interpolation, no floats.

    Scale: two linear shuffles (the rank), a broadcast 5-row percentile
    frame, a filter to 5 rows. Selection by rank replaces the global
    sort exactly as in the median op.
    """
    from connor_fun_streamproducer_spark.operators.scale_patterns import (
        distributed_rank,
        rank_cuts_key,
    )

    c = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias(
            "cents"
        ),
    )
    ranked = distributed_rank(
        c,
        "cents",
        ["o_orderkey"],
        cuts_key=rank_cuts_key(sf_dir, "orders", "pricecents"),
    )
    n = ranked.agg(F.count("*").alias("n"))
    pcts = literal_frame(
        c.sparkSession, [(p,) for p in _QDIST_PCTS], "pct int"
    )
    sel = (
        ranked.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(pcts))
        .filter(F.col("rk") == F.expr("(pct * n + 99) div 100"))
    )
    return sel.groupBy("pct").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.expr("(pct * max(n) + 99) div 100").cast("bigint").alias("sel_rank"),
        F.sum("cents").cast("bigint").alias("value_cents"),
    ).select(
        F.col("pct").cast("bigint").alias("pct"),
        "n_orders",
        "sel_rank",
        "value_cents",
    )
