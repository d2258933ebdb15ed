"""Window extensions: event-time RANGE frames, distributions, rolling
and running statistics, and sequence patterns.

operators/windows.py covers rank/analytic/ROWS-frame windows. Every op
here but ``win_median_rolling`` is one SQL text run on both engines
through ``sql_front``; that one indexes a sorted frame array, and the
engines share no array element accessor (unpivoting the frame to rows
instead costs an exchange: an Expand keeps no partitioning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from connor_fun_streamproducer_spark.catalog import epoch_seconds, load
from connor_fun_streamproducer_spark.operators.sql_front import duckdb_sql, run_sql
from connor_fun_streamproducer_spark.registry import op

# the frame reaches 30 days (2,592,000 s) back
_RANGE_INTERVAL_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(count(*) OVER w AS BIGINT) AS n_orders_30d,
       round(sum(o_totalprice) OVER w, 2) AS total_30d
FROM (SELECT o_orderkey, o_custkey, o_totalprice, {epoch[o_orderdate]} AS sec
      FROM {orders}) o
WINDOW w AS (PARTITION BY o_custkey ORDER BY sec
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
"""


@op("win_range_interval", oracle=duckdb_sql(_RANGE_INTERVAL_SQL),
    tags=("ext", "window", "temporal"))
def win_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day per-customer totals via an event-time RANGE frame.

    The frame is value-based (orderdate seconds − lookback), not
    row-based, so days with many orders widen it correctly — the
    "rolling spend" feature of fraud/abuse pipelines. Both engines run
    the same numeric RANGE spec over epoch seconds. A RANGE frame takes
    every peer of equal sec, so ties need no tie-break and each row's
    result is order-independent. One (o_custkey) exchange serves the
    sort and the sliding aggregation.
    """
    return run_sql(spark, sf_dir, _RANGE_INTERVAL_SQL)


_DISTRIBUTION_SQL = """
SELECT o_orderkey, o_orderstatus,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM {orders}
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY round(o_totalprice, 4), o_orderkey)
"""


@op("win_distribution", oracle=duckdb_sql(_DISTRIBUTION_SQL), tags=("ext", "window"))
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / percent_rank / cume_dist.

    The trio behind quantile bucketing ("what spend quartile is this
    order in"). ntile and percent_rank are POSITION functions, so ties
    break on (rounded price, o_orderkey) and both engines assign the
    same positions despite last-ulp double drift. One (o_orderstatus)
    exchange serves all three over the shared sort; skew is bounded by
    the largest status (agg_skew_salted's pattern would sub-bucket it).
    """
    return run_sql(spark, sf_dir, _DISTRIBUTION_SQL)


_FILL_FORWARD_SQL = """
WITH e AS (
    SELECT event_id, user_id, {te} AS sec,
           CASE WHEN event_type = 'click' THEN value END AS v
    FROM {events}
), g AS (
    SELECT event_id, user_id, v,
           count(v) OVER (PARTITION BY user_id ORDER BY sec, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen
    FROM e
)
SELECT event_id, user_id,
       round(max(v) OVER (PARTITION BY user_id, seen), 6) AS filled_value
FROM g
"""


@op("win_fill_forward", oracle=duckdb_sql(_FILL_FORWARD_SQL), tags=("ext", "window", "temporal"))
def win_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill (LOCF): carry each user's last 'click'
    reading forward over the rows that lack one, null until the first.

    The engines spell ``last_value(v IGNORE NULLS)`` differently, so the
    text numbers the readings: the running count of readings, ``seen``,
    is shared by a reading and every row up to the next one, and that
    reading is the one non-null ``v`` among them. (sec, event_id)
    ordering keeps the carry identical under timestamp ties. One
    (user_id) exchange serves both windows: hash(user_id) satisfies the
    (user_id, seen) partitioning.
    """
    return run_sql(spark, sf_dir, _FILL_FORWARD_SQL)


# the frame holds the current order and the 3 before it
_ROLLING_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(count(*) OVER w AS BIGINT) AS roll_n,
       round(sum(cents) OVER w / (1e2 * count(*) OVER w), 4) AS roll_avg,
       round(max(cents) OVER w / 1e2, 2) AS roll_max,
       round(min(cents) OVER w / 1e2, 2) AS roll_min
FROM (SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT) AS cents,
             {epoch[o_orderdate]} AS sec
      FROM {orders}) o
WINDOW w AS (PARTITION BY o_custkey ORDER BY sec, o_orderkey
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""


@op("win_rolling_stats", oracle=duckdb_sql(_ROLLING_SQL), tags=("ext", "window"))
def win_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-rows rolling statistics per customer: count / mean /
    max / min of order value over the last 4 orders, ordered by (order
    epoch-sec, orderkey) — a total order, so frame membership is
    deterministic under ties.

    ROWS frame, not RANGE: "last N orders" counts rows. One exchange on
    o_custkey; the four aggregates share one WindowExec frame pass.
    Money stays in integer cents inside the frame; the mean divides once,
    rounded to 4dp on both engines.
    """
    return run_sql(spark, sf_dir, _ROLLING_SQL)


_CUMDIST_SQL = """
WITH e AS (
    SELECT /*+ REPARTITION(user_id) */ user_id, event_id, event_type, {te} AS sec
    FROM {events}
), flagged AS (
    SELECT user_id, event_id, sec,
           CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY sec, event_id) = 1
                THEN 1 ELSE 0 END AS first_seen
    FROM e
)
SELECT user_id, event_id,
       CAST(sum(first_seen) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS distinct_types_so_far
FROM flagged
"""


@op("win_cumulative_distinct", oracle=duckdb_sql(_CUMDIST_SQL), tags=("ext", "window", "scale"))
def win_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count of DISTINCT event types each user has shown, as
    of each event.

    count(DISTINCT) over a running frame is no window function anywhere;
    the O(n) form flags each (user, type)'s first occurrence, then
    running-sums the flags per user. The ``REPARTITION`` hint (a comment
    to DuckDB) hashes by user_id, which satisfies both windows'
    partitionings: ONE exchange, then two in-partition sorts.
    """
    return run_sql(spark, sf_dir, _CUMDIST_SQL)


_ISLANDS_SQL = """
WITH days AS (
    SELECT DISTINCT user_id, {te} // 86400 AS d FROM {events}
), grp AS (
    SELECT user_id, d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS island
    FROM days
), runs AS (
    SELECT user_id, island, count(*) AS run_len
    FROM grp GROUP BY user_id, island
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(max(run_len) AS BIGINT) AS max_run,
       CAST(sum(run_len) AS BIGINT) AS active_days
FROM runs GROUP BY user_id
"""


@op("win_islands_consecutive", oracle=duckdb_sql(_ISLANDS_SQL), tags=("ext", "window"))
def win_islands_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per user
    (number of streaks, longest streak, total active days).

    Within a user's sorted distinct days, consecutive days share one
    day − row_number() difference, which is the island id: one window
    pass, no self-join or iteration. The (user, day) distinct collapses
    the events first; the window and both aggregates then share the
    user_id partitioning.
    """
    return run_sql(spark, sf_dir, _ISLANDS_SQL)


MEDIAN_FRAME = 5  # trailing orders per rolling-median evaluation


@op(
    "win_median_rolling",
    oracle=f"""
    WITH o AS (
        SELECT o_custkey, o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(floor(epoch(o_orderdate)) AS BIGINT) AS sec
        FROM orders
    )
    SELECT o_custkey, o_orderkey,
           lst[CAST((len(lst) + 1) // 2 AS INTEGER)] AS med_cents,
           CAST(len(lst) AS BIGINT)                  AS n_in_frame
    FROM (
        SELECT o_custkey, o_orderkey,
               list_sort(list(cents) OVER (
                   PARTITION BY o_custkey ORDER BY sec, o_orderkey
                   ROWS BETWEEN {MEDIAN_FRAME - 1} PRECEDING AND CURRENT ROW
               )) AS lst
        FROM o
    )
    """,
    tags=("ext", "window"),
)
def win_median_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median of the customer's last 5 order totals — the
    robust-statistics window no engine offers natively (median is not
    rank-translatable and not mergeable).

    The median is the LOWER middle of the sorted frame (``sorted[(n+1)
    div 2]``, 1-indexed), so it stays in exact integer cents. The frame
    is a bounded 5 rows, so collecting it costs O(frame) per row over
    one (custkey) exchange and sort; the unbounded form is what the KLL
    sketch tier (operators/sketches.py) approximates.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        epoch_seconds("o_orderdate").alias("sec"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("sec", "o_orderkey")
        .rowsBetween(-(MEDIAN_FRAME - 1), Window.currentRow)
    )
    lst = F.array_sort(F.collect_list("cents").over(w))
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.element_at(lst, ((F.size(lst) + 1) / 2).cast("int")).alias("med_cents"),
        F.size(lst).cast("bigint").alias("n_in_frame"),
    )


_RISES_SQL = """
WITH l AS (
    SELECT o_custkey, cents,
           lag(cents, 1) OVER w AS p1,
           lag(cents, 2) OVER w AS p2
    FROM (SELECT o_custkey, o_orderdate, o_orderkey,
                 CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT) AS cents
          FROM {orders}) o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_rise3
FROM l WHERE p2 IS NOT NULL AND p2 < p1 AND p1 < cents
GROUP BY o_custkey
"""


@op("win_pattern_rises", oracle=duckdb_sql(_RISES_SQL), tags=("ext", "window", "pattern"))
def win_pattern_rises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern detection: per customer, how many times three
    CONSECUTIVE orders (by date, key-tiebroken) carried strictly rising
    spend — MATCH_RECOGNIZE's "N rising events in a row" as plain lags.

    Two lags over ONE window spec, no self-joins (the 3-way adjacency
    join is quadratic under ties and shuffles three times); the count
    reuses the window's partitioning, so the scan is one exchange + one
    sort. Spend compares in exact integer cents.
    """
    return run_sql(spark, sf_dir, _RISES_SQL)


_CLAMP_SQL = """
WITH d AS (
    SELECT user_id, event_id, {te} AS sec,
           CASE WHEN event_type = 'purchase'
                THEN CAST(floor(value * 100 + 5e-1) AS BIGINT)
                ELSE -CAST(floor(value * 25 + 5e-1) AS BIGINT) END AS delta
    FROM {events}
), s AS (
    SELECT user_id, event_id, sec,
           sum(delta) OVER (PARTITION BY user_id ORDER BY sec, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
    FROM d
)
SELECT user_id, event_id,
       CAST(cs - least(min(cs) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       0) AS BIGINT) AS balance
FROM s
"""


@op("win_clamped_cumsum", oracle=duckdb_sql(_CLAMP_SQL), tags=("ext", "window", "scale"))
def win_clamped_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-at-zero running balance per user (credits from purchases,
    debits from every other event): ``bal_i = max(0, bal_{i-1} + Δ_i)``.

    By the Skorokhod-reflection identity the clamped walk is
    ``cs_i − min(0, min_{j≤i} cs_j)`` (Δ = +5, −10, +3 → cs 5, −5, −2 →
    bal 5, 0, 3), so no per-key sequential scan (mapInPandas) is needed:
    two stacked window aggregates on ONE (user) exchange and sort, no
    Python, exact integer cents.
    """
    return run_sql(spark, sf_dir, _CLAMP_SQL)


_DRAWDOWN_SQL = """
WITH r AS (
    SELECT user_id, cents,
           max(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
    FROM (SELECT user_id, ts, event_id,
                 CAST(floor(value * 100 + 5e-1) AS BIGINT) AS cents
          FROM {events}) b
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(peak) AS BIGINT) AS peak_cents,
       CAST(max(peak - cents) AS BIGINT) AS max_drawdown_cents,
       CAST(max((peak - cents) * 10000 // peak) AS BIGINT) AS max_dd_bp
FROM r GROUP BY user_id
"""


@op("win_drawdown", oracle=duckdb_sql(_DRAWDOWN_SQL), tags=("ext", "window", "timeseries"))
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user maximum drawdown of the event-value series: how far (in
    cents and in basis points of the peak) each user's value fell below
    its running maximum — a RUNNING extremum consumed by a downstream
    expression.

    Exact integers end to end (half-up cents, a running max, one
    integral division per row). ONE exchange on user_id: the window sort
    feeds the per-user aggregate. Values are positive cents, so the
    peak is never 0.
    """
    return run_sql(spark, sf_dir, _DRAWDOWN_SQL)


# `+ 0e0` normalizes IEEE -0.0: DuckDB's round keeps the sign, Spark's
# drops it. Frame f is the current shipment and the 6 before it.
_ROLLCORR_SQL = """
WITH li AS (
    SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
           CAST(l_quantity AS BIGINT) AS q,
           CAST(floor(l_extendedprice * 100 + 5e-1) AS BIGINT) AS cents
    FROM {lineitem}
), s AS (
    SELECT l_suppkey,
           row_number() OVER w AS rid,
           count(*) OVER f AS n_frame,
           sum(q) OVER f AS sx,
           sum(cents) OVER f AS sy,
           sum(q * cents) OVER f AS sxy,
           sum(q * q) OVER f AS sx2,
           sum(cents * cents) OVER f AS sy2
    FROM li
    WINDOW w AS (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber, q, cents),
           f AS (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber, q, cents
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT l_suppkey, CAST(rid AS BIGINT) AS rid,
       CAST(n_frame AS BIGINT) AS n_frame,
       CAST(n_frame * sxy - sx * sy AS BIGINT) AS num,
       CAST(n_frame * sx2 - sx * sx AS BIGINT) AS denx,
       CAST(n_frame * sy2 - sy * sy AS BIGINT) AS deny,
       round(CAST(n_frame * sxy - sx * sy AS DOUBLE)
             / sqrt(nullif(CAST(n_frame * sx2 - sx * sx AS DOUBLE)
                           * CAST(n_frame * sy2 - sy * sy AS DOUBLE), 0e0)), 4)
           + 0e0 AS corr4
FROM s
"""


@op("win_rolling_corr", oracle=duckdb_sql(_ROLLCORR_SQL), tags=("ext", "window", "scale"))
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Pearson correlation between quantity and line revenue
    over each supplier's last 7 shipments.

    The five frame moments are exact bigints in cents, and ``num``,
    ``denx``, ``deny`` the exact integer decomposition (n·Σxy − Σx·Σy
    etc.); the only float work is one division and sqrt, rounded to 4,
    over moments under 2⁵³ (7 rows × cents ≤ 10⁷). The order is
    tie-broken down to the value columns, so the fixture's duplicate
    (orderkey, linenumber) rows can only swap identical rows. One
    (suppkey) exchange and sort feed all six sums in one WindowExec.
    """
    return run_sql(spark, sf_dir, _ROLLCORR_SQL)


_TWAP_SQL = """
WITH e AS (
    SELECT user_id, {te} AS sec,
           CAST(floor(value * 10000 + 5e-1) AS BIGINT) AS v_bp,
           event_id
    FROM {events} WHERE event_type = 'click'
), seg AS (
    SELECT user_id, v_bp,
           lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) - sec AS dur
    FROM e
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(v_bp * dur) AS BIGINT) AS weighted_bp_sec,
       CAST(sum(dur) AS BIGINT) AS total_sec,
       round(CAST(sum(v_bp * dur) AS DOUBLE)
             / nullif(CAST(sum(dur) AS DOUBLE) * 10000, 0e0), 6) + 0e0 AS twap
FROM seg WHERE dur IS NOT NULL AND dur > 0
GROUP BY user_id
"""


@op("win_time_weighted_avg", oracle=duckdb_sql(_TWAP_SQL), tags=("ext", "window", "temporal"))
def win_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) of each user's click metric, the
    right mean for irregular samples: each reading holds until the next
    one, so its weight is its holding time (lead(ts) − ts).

    Readings in basis points and whole-second durations make Σ v·dur
    and Σ dur exact bigints; one float division per user (round 6,
    −0.0 normalized). Same-second readings get no measure on either
    engine. One (user) exchange and sort for the lead; the aggregate
    reuses the partitioning.
    """
    return run_sql(spark, sf_dir, _TWAP_SQL)


_RTR_SQL = """
WITH daily AS (
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(date_trunc('month', ts) AS DATE) AS month,
           sum(CAST(floor(value * 100 + 5e-1) AS BIGINT)) AS cents
    FROM {events} GROUP BY 1, 2, 3
)
SELECT event_type, day,
       CAST(cents AS BIGINT) AS cents,
       CAST(sum(cents) OVER (PARTITION BY event_type, month) AS BIGINT) AS month_cents,
       CAST(cents * 10000 // sum(cents) OVER (PARTITION BY event_type, month)
            AS BIGINT) AS share_bp
FROM daily
"""


@op("win_ratio_to_report", oracle=duckdb_sql(_RTR_SQL), tags=("ext", "window"))
def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATIO_TO_REPORT: each day's revenue as basis points of its
    month's total, per event type — the whole-partition-denominator
    window (an unbounded frame feeding a division), which win_frame's
    running sums do not cover.

    Exact: integer daily cents, an integral division by the exact month
    sum. The event-sized work stops at the (type, day) aggregate; the
    month window runs over the daily rows on the event_type exchange.
    """
    return run_sql(spark, sf_dir, _RTR_SQL)


_STREAK_SQL = """
WITH d AS (
    SELECT DISTINCT user_id, {te} // 86400 AS day FROM {events}
), v AS (
    SELECT user_id, day,
           day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
    FROM d
), g AS (
    SELECT user_id, count(*) AS streak_days, max(day) AS last_day
    FROM v GROUP BY user_id, grp
), r AS (
    SELECT user_id, streak_days, last_day,
           row_number() OVER (PARTITION BY user_id ORDER BY last_day DESC) AS rk
    FROM g
)
SELECT user_id, CAST(last_day AS BIGINT) AS last_day,
       CAST(streak_days AS BIGINT) AS streak_days
FROM r WHERE rk = 1
"""


@op("win_active_streak_latest", oracle=duckdb_sql(_STREAK_SQL), tags=("ext", "window"))
def win_active_streak_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: the length of the TRAILING run of consecutive active
    days ending at their most recent active day — the live streak as of
    the user's own last activity, so reruns are reproducible.
    win_islands_consecutive lists every run; this keeps the latest.

    Epoch-day buckets by integer div, the day − row_number island key,
    and a rank pick on max(day) (islands cannot share one). One distinct
    on (user, day), one rank window and one aggregate, all on the
    user_id partitioning.
    """
    return run_sql(spark, sf_dir, _STREAK_SQL)
