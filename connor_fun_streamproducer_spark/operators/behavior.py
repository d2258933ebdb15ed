"""Behavioral event analytics: cohorts, funnels, paths and segments.

The reference ships a raw per-region event stream whose only analytic
is a 30-second message count. This module holds the behavioral rollups
a consumer of that stream asks for first: retention and LTV cohorts,
funnels, baskets, RFM and ABC scoring, transition paths, stickiness,
attribution, overlap, skylines, segment migration and lead times.

Every op here but ``pipeline_retention_cohort`` is one SQL text run on
both engines through ``sql_front``; ``pipeline_basket_affinity`` runs
its distinct-basket frame as a checkpointed stage. The retention
triangle keeps its DataFrame body: it builds each user's week set with
``collect_set``/``array_min``/``explode``, which have no form both
engines share, and a window form would add an exchange.

Week arithmetic is integer epoch-week (``epoch_sec div 604800``) on
both engines — pure int64 math, bit-identical between Spark and DuckDB,
immune to the date_trunc('week') locale/start-of-week divergence class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connor_fun_streamproducer_spark.catalog import epoch_div, load
from connor_fun_streamproducer_spark.operators.sql_front import duckdb_sql, run_sql
from connor_fun_streamproducer_spark.registry import op

_RETENTION_ORACLE = """
WITH uw AS (
    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week
    FROM events GROUP BY 1, 2
), anchored AS (
    SELECT user_id, week, min(week) OVER (PARTITION BY user_id) AS cohort_week
    FROM uw
)
SELECT cohort_week, week - cohort_week AS week_offset, count(*) AS users
FROM anchored GROUP BY 1, 2
"""


@op(
    "pipeline_retention_cohort",
    oracle=_RETENTION_ORACLE,
    tags=("ext", "pipeline", "behavior"),
)
def pipeline_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: (cohort_week, week_offset, users).

    100 TB design — ONE exchange on user_id, then one bounded agg:

    - the per-user distinct week set is built with ``collect_set`` in a
      single groupBy(user_id) — partial (map-side) merge applies, and
      the per-user state is bounded by the calendar (≤52 entries per
      user-year), not by event volume, so the only full-volume shuffle
      carries pre-deduplicated partial sets;
    - cohort anchor = ``array_min`` over that set (per-row expression,
      no second exchange — where a window-function formulation would
      re-shuffle on user_id after a (user, week) distinct);
    - the final (cohort_week, week_offset) aggregate is over
      |users| × |active weeks| rows — already the answer's own scale.

    ``users`` is count(*): after the per-user week dedup a user
    contributes at most one row per (cohort, offset), so count(*) ==
    count(distinct user) without the distinct-agg expansion.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        epoch_div("ts", 604_800).alias("week"),
    )
    per_user = ev.groupBy("user_id").agg(F.collect_set("week").alias("weeks"))
    exploded = per_user.select(
        F.array_min("weeks").alias("cohort_week"),
        F.explode("weeks").alias("week"),
    )
    return exploded.groupBy(
        "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
    ).agg(F.count("*").alias("users"))


_FUNNEL_SQL = """
WITH ev AS (
    SELECT user_id, event_type, {te} AS sec FROM {events}
), s AS (
    SELECT user_id, min(sec) AS s_sec
    FROM ev WHERE event_type = 'signup' GROUP BY user_id
), c AS (
    SELECT e.user_id, min(e.sec) AS c_sec
    FROM ev e JOIN s ON e.user_id = s.user_id
    WHERE e.event_type = 'click'
      AND e.sec > s.s_sec AND e.sec <= s.s_sec + 604800
    GROUP BY e.user_id
), p AS (
    SELECT e.user_id, min(e.sec) AS p_sec
    FROM ev e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase'
      AND e.sec > c.c_sec AND e.sec <= c.c_sec + 604800
    GROUP BY e.user_id
), reached AS (
    SELECT '1_signup' AS stage, user_id FROM s
    UNION ALL SELECT '2_click', user_id FROM c
    UNION ALL SELECT '3_purchase', user_id FROM p
)
SELECT stage, count(*) AS users FROM reached GROUP BY stage
"""


@op(
    "pipeline_funnel_conversion",
    oracle=duckdb_sql(_FUNNEL_SQL),
    tags=("ext", "pipeline", "behavior"),
)
def pipeline_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-stage funnel signup → click → purchase, each stage
    within 7 days of the previous; (stage, users) with users reaching
    each stage (monotone non-increasing down the funnel).

    The dependency chain (first qualifying click is defined relative to
    the FIRST signup, first purchase relative to that click) cannot be
    one conditional aggregate — it is the classic iterated
    filter-join-agg ladder:

    100 TB design:

    - every join and aggregate in the ladder keys on user_id, so the
      joins between rungs add no re-shuffle of their own;
    - Spark inlines each rung CTE into every reader, so the signup rung
      is derived three times and the click rung twice: the plan has 6
      exchanges and 6 parquet scans of ``events`` (pinned in
      ``test_plans._SQL_FRONT_PLAN_SHAPE``); a stage would read
      ``events`` once at the cost of a checkpoint job at build time;
    - each rung's frame only SHRINKS (stage-k users ⊆ stage-k-1
      users), so join inputs decay down the funnel and AQE picks
      broadcast for the deep rungs at real-world conversion rates;
    - the final count is one union of (stage, user) markers + a
      6-ish-row aggregate, instead of three scalar count jobs.
    """
    return run_sql(spark, sf_dir, _FUNNEL_SQL)


# The distinct (basket, item) frame feeds four readers (the item counts,
# both pair sides and the basket total): a checkpointed stage, so the
# lineitem scan and the distinct run once.
_BASKETS = "SELECT DISTINCT l_orderkey AS bid, l_partkey AS item FROM {lineitem}"

# the top 20 pairs; the apriori prune keeps items in >= 2 baskets, which
# drops nothing a pair of support >= 2 needs
_BASKET_SQL = """
WITH item_n AS (
    SELECT item, count(*) AS na FROM {baskets} GROUP BY item HAVING count(*) >= 2
), kept AS (
    SELECT b.bid, b.item, i.na FROM {baskets} b JOIN item_n i ON b.item = i.item
), pairs AS (
    SELECT a.item AS item_a, c.item AS item_b,
           max(a.na) AS na, max(c.na) AS nb, count(*) AS nab
    FROM kept a JOIN kept c ON a.bid = c.bid AND a.item < c.item
    GROUP BY a.item, c.item
), total AS (
    SELECT count(DISTINCT bid) AS n_baskets FROM {baskets}
)
SELECT /*+ BROADCAST(total) */ item_a, item_b, nab AS support,
       round(CAST(nab AS DOUBLE) * n_baskets / (na * nb), 4) AS lift
FROM pairs CROSS JOIN total
ORDER BY support DESC, item_a, item_b
LIMIT 20
"""


@op(
    "pipeline_basket_affinity",
    oracle=duckdb_sql(_BASKET_SQL, stages={"baskets": _BASKETS}),
    tags=("ext", "pipeline", "behavior"),
)
def pipeline_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: top co-ordered part pairs with support and
    lift — (item_a, item_b, support, lift), total-order ranked.

    The association-rules shape every retail/recommendation warehouse
    runs; the reference's event stream has no such second-order
    analytics at all.

    100 TB design:

    - baskets dedupe on (order, part) first — one keyed exchange with
      map-side partials;
    - APRIORI PRUNE before pairing: items below pair-qualifying support
      are dropped by a pre-aggregate, provably lossless for pair
      support >= 2 (a pair needs both items in >= that
      many baskets) — this is what keeps the self-join's fan-out from
      exploding on the long tail of one-off items;
    - the pair generator is a self-equi-join ON THE BASKET KEY with
      ``item_a < item_b`` — per-basket fan-out is quadratic in basket
      WIDTH (bounded, ~single digits for order lines), never in corpus
      size, and AQE handles any hot mega-basket via skew split;
    - item frequencies ride along via max(na)/max(nb) instead of two
      extra joins; lift's scalar total is a 1-row broadcast (the
      decorrelated-scalar-subquery pattern, operators/subqueries.py);
    - integer counts divide in double at the end, so both engines do
      the identical arithmetic — hash-exact despite the ratio.
    """
    return run_sql(spark, sf_dir, _BASKET_SQL, stages={"baskets": _BASKETS})


_RFM_SQL = """
WITH rfm AS (
    SELECT o.c_custkey, c.c_mktsegment AS segment,
           o.recency_sec, o.frequency, o.monetary_cents
    FROM (SELECT o_custkey AS c_custkey,
                 max({epoch[o_orderdate]}) AS recency_sec,
                 CAST(count(*) AS BIGINT) AS frequency,
                 sum(CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT)) AS monetary_cents
          FROM {orders} GROUP BY o_custkey) o
    JOIN {customer} c ON o.c_custkey = c.c_custkey
)
SELECT c_custkey, segment,
       CAST(ntile(5) OVER (PARTITION BY segment
                           ORDER BY recency_sec, c_custkey) AS BIGINT) AS r_score,
       CAST(ntile(5) OVER (PARTITION BY segment
                           ORDER BY frequency, c_custkey) AS BIGINT) AS f_score,
       CAST(ntile(5) OVER (PARTITION BY segment
                           ORDER BY monetary_cents, c_custkey) AS BIGINT) AS m_score
FROM rfm
"""


@op(
    "pipeline_rfm_segments",
    oracle=duckdb_sql(_RFM_SQL),
    tags=("ext", "pipeline", "behavior"),
)
def pipeline_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring: quintile ranks of Recency / Frequency /
    Monetary value per market segment — (c_custkey, segment, r_score,
    f_score, m_score), each score in 1..5.

    The marketing-analytics workhorse over exactly the data the
    reference's stream feeds (who did something, when, worth how
    much). Shape:

    - ONE pass over the fact table builds all three metrics in a
      single groupBy(custkey) (recency = max epoch-sec, frequency =
      count, monetary = exact integer cents);
    - the customer dim joins AFTER aggregation — the join input is
      |customers|, not |orders|;
    - quintiles are ntile(5) windows PARTITIONED BY segment: the
      window input is the already-reduced per-customer table, and the
      partition key distributes it. Scores for all three metrics are
      computed in the same stage (three sorts, one exchange on
      hash(segment), since all windows share the partition key).

    At 100 TB the per-partition sort is over customers-per-segment; if
    one tenant/segment is pathologically hot the production variant
    swaps exact ntile for boundaries from approx_percentile broadcast
    back as a range lookup — exact ntile is kept here because its tie
    behavior (ORDER BY metric, custkey — a total order) is identical
    in DuckDB, making the scores hash-checkable.
    """
    return run_sql(spark, sf_dir, _RFM_SQL)


_ABC_SQL = """
WITH pr AS (
    SELECT l.l_partkey AS p_partkey, p.p_brand,
           sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 5e-1)
                    AS BIGINT)) AS cents
    FROM {lineitem} l JOIN {part} p ON l.l_partkey = p.p_partkey
    GROUP BY l.l_partkey, p.p_brand
), ranked AS (
    SELECT p_brand, p_partkey, cents,
           sum(cents) OVER (PARTITION BY p_brand ORDER BY cents DESC, p_partkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(cents) OVER (PARTITION BY p_brand) AS tot
    FROM pr
)
SELECT p_brand, p_partkey,
       round(cents / 1e2, 2) AS revenue,
       CAST(cum * 10000 // tot AS BIGINT) AS cum_bp,
       CASE WHEN cum * 100 <= tot * 80 THEN 'A'
            WHEN cum * 100 <= tot * 95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
"""


@op(
    "pipeline_abc_pareto",
    oracle=duckdb_sql(_ABC_SQL),
    tags=("ext", "pipeline", "behavior"),
)
def pipeline_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification per brand: parts ranked by
    discounted revenue, running share of brand revenue, class A within
    the top 80%, B to 95%, C after — (brand, part, revenue, cum_bp,
    abc_class).

    The 80/20 analysis every inventory/catalog owner runs. The
    classification is ENTIRELY in exact integers: revenue accumulates
    in cents (repo-wide convention), and class boundaries compare
    cum*100 <= tot*80 — integer cross-multiplication instead of a
    cumulative-share double, so no summation-order or division ulp can
    flip a boundary row between engines. (At 100 TB-scale totals the
    cross products approach int64 range; the production variant lifts
    the comparison to decimal(38,0) — same plan.)

    Shape: one (partkey, brand) aggregate over the fact table, then
    running-sum and total windows PARTITIONED BY brand sharing one
    hash(brand) exchange of the already part-level-reduced frame. The
    part dim joins pre-aggregation to carry the brand key into the
    grouping — fact×dim equi-join, AQE picks broadcast.
    """
    return run_sql(spark, sf_dir, _ABC_SQL)


# ---------------------------------------------------------------------------
# Year-over-year growth (lag-window comparative analytics)

_YOY_SQL = """
WITH rev AS (
    SELECT /*+ BROADCAST(c, n) */ n.n_name, o.yr,
           CAST(sum(o.cents) AS BIGINT) AS rev_cents
    FROM (SELECT o_custkey, year(o_orderdate) AS yr,
                 CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT) AS cents
          FROM {orders}) o
    JOIN {customer} c ON o.o_custkey = c.c_custkey
    JOIN {nation} n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, o.yr
), prev AS (
    SELECT n_name, yr, rev_cents,
           CASE WHEN lag(yr) OVER w = yr - 1 THEN lag(rev_cents) OVER w END AS prev_cents
    FROM rev WINDOW w AS (PARTITION BY n_name ORDER BY yr)
)
SELECT n_name, yr, rev_cents, prev_cents, rev_cents - prev_cents AS delta_cents
FROM prev
"""


@op("pipeline_yoy_growth", oracle=duckdb_sql(_YOY_SQL), tags=("ext", "pipeline", "window"))
def pipeline_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue per nation — the lag-window comparative
    report every warehouse runs.

    Revenue aggregates in exact integer cents per (nation, year), then a
    lag window fetches the prior YEAR's figure — guarded by
    ``prev.yr == yr - 1`` so a nation with a gap year compares against
    null, not against whatever year happened to precede it in the sort
    (the classic YoY bug). Delta stays in integer cents; no
    float division anywhere, so summation order can't move the result.

    Scale: dims broadcast (nation always, customer while it fits; at
    true scale customer⋈orders is the one sort-merge), the (nation,
    year) aggregate partial-combines map-side to ~nations × years rows,
    and the lag window runs on that tiny rollup — cost lives entirely
    in the first join, exactly where it should.
    """
    return run_sql(spark, sf_dir, _YOY_SQL)


# ---------------------------------------------------------------------------
# Marketing-touch attribution (first/last touch in a bounded lookback)

# a 2-day (172,800 s) lookback over click, view and signup touches
_ATTR_SQL = """
WITH p AS (
    SELECT event_id AS purchase_id, user_id, {te} AS psec
    FROM {events} WHERE event_type = 'purchase'
), probes AS (
    SELECT purchase_id, user_id, psec, pbin
    FROM (SELECT purchase_id, user_id, psec,
                 psec // 172800 - 1 AS before, psec // 172800 AS own
          FROM p) b
    UNPIVOT INCLUDE NULLS (pbin FOR probe IN (before, own))
), t AS (
    SELECT user_id AS t_user, {te} AS tsec, event_id AS tid, event_type AS ttype
    FROM {events} WHERE event_type IN ('click', 'view', 'signup')
), cand AS (
    SELECT pr.purchase_id, pr.user_id, pr.psec,
           CASE WHEN t.tsec <= pr.psec AND t.tsec >= pr.psec - 172800
                THEN t.tsec END AS tsec,
           CASE WHEN t.tsec <= pr.psec AND t.tsec >= pr.psec - 172800
                THEN t.ttype END AS ttype,
           -- (tsec, tid) as one exact number: tid is a BIGINT, so
           -- tsec * 2^64 + tid orders as the pair does
           CASE WHEN t.tsec <= pr.psec AND t.tsec >= pr.psec - 172800
                THEN CAST(t.tsec AS {wide}) * 4294967296 * 4294967296 + t.tid END AS touch
    FROM probes pr LEFT JOIN t ON t.t_user = pr.user_id AND t.tsec // 172800 = pr.pbin
)
SELECT purchase_id, user_id,
       min_by(ttype, touch) AS first_type,
       psec - min(tsec) AS first_gap_sec,
       max_by(ttype, touch) AS last_type,
       psec - max(tsec) AS last_gap_sec
FROM cand GROUP BY purchase_id, user_id, psec
"""


@op("pipeline_attribution_touch", oracle=duckdb_sql(_ATTR_SQL), tags=("ext", "pipeline", "scale"))
def pipeline_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch attribution: every purchase credited to
    the user's earliest and latest marketing touch (click/view/signup)
    inside a 2-day lookback; purchases with no touch stay, unattributed.

    The range predicate (0 <= psec − tsec <= W) is turned into an
    EQUI-join by time binning at exactly the lookback width: a touch
    lives in bin tsec div W, a purchase probes its own bin and the one
    before (an unpivot of the two bin columns) — any in-window touch is
    in one of those two, and each touch matches at most one probe (the
    probes differ), so candidates need no dedup. First/last selection
    is min_by/max_by over one exact key, tsec * 2^64 + tid, which
    orders as the pair (tsec, tid) does — the tie-break (same-second
    touches → lowest/highest event id) is deterministic AND
    partial-aggregatable, so each task collapses its local candidates
    before the one purchase-keyed exchange. The same shape as
    join_range_bucketed, pointed at the attribution question; never a
    theta join, never a window over raw events.
    """
    return run_sql(spark, sf_dir, _ATTR_SQL)


# ---------------------------------------------------------------------------
# Event-transition (clickstream path) analysis

_TRANSITION_SQL = """
WITH seq AS (
    SELECT event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY {te}, event_id) AS prev_type
    FROM {events}
), counts AS (
    SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
)
SELECT prev_type, next_type, n,
       CAST(n * 10000 // sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS share_bp
FROM counts
"""


@op(
    "pipeline_event_transitions",
    oracle=duckdb_sql(_TRANSITION_SQL),
    tags=("ext", "pipeline", "window"),
)
def pipeline_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix (clickstream path analysis):
    for each (previous type → next type) pair, its count and its share
    of all transitions out of the previous type, in integer basis
    points — the Markov-chain summary behind "what do users do after a
    signup?" and the input to next-event prediction baselines.

    One lag window builds the transition pairs on a (user) exchange
    bounded by each user's own history; the count aggregate then
    reduces to |types|² rows, and the row-share normalization runs as a
    window over THAT tiny matrix — so the only corpus-sized stage is
    the first exchange, shared with every other per-user window op.
    Shares use floor division over exact counts (no float ratio to
    drift); each row of the matrix sums to ≤ 10000 with the remainder
    being truncation, which downstream consumers re-derive from n.
    """
    return run_sql(spark, sf_dir, _TRANSITION_SQL)


# ---------------------------------------------------------------------------
# DAU/MAU stickiness

_STICKINESS_SQL = """
WITH d AS (
    SELECT DISTINCT {te} // 86400 AS day, user_id FROM {events}
), daily AS (
    SELECT day, CAST(count(*) AS BIGINT) AS dau FROM d GROUP BY day
), monthly AS (
    SELECT (day * 86400) // 2592000 AS mkey,
           CAST(count(DISTINCT user_id) AS BIGINT) AS mau
    FROM d GROUP BY (day * 86400) // 2592000
)
SELECT /*+ BROADCAST(monthly) */ daily.day, daily.dau, monthly.mau,
       CAST(daily.dau * 10000 // monthly.mau AS BIGINT) AS stickiness_bp
FROM daily JOIN monthly ON (daily.day * 86400) // 2592000 = monthly.mkey
"""


@op(
    "pipeline_dau_mau_stickiness",
    oracle=duckdb_sql(_STICKINESS_SQL),
    tags=("ext", "pipeline", "behavior"),
)
def pipeline_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / MAU stickiness per day — the product-engagement headline
    metric: what fraction of the 30-day active base showed up today,
    in integer basis points.

    Both granularities roll up from ONE distinct (day, user) frame —
    the same collapse the retention triangle rides — so the corpus is
    deduplicated once and every later stage runs on ≤ users×days rows:
    a per-day count, a per-30-day-bucket distinct count, and a
    broadcast-scale join between the two rollups. The 30-day window is
    a fixed epoch bucket (epoch_sec div 2592000) rather than a
    calendar month: identical integer arithmetic on both engines, and
    at 100 TB it keeps MAU a plain mergeable distinct-count per bucket
    instead of a 30-day sliding distinct (which is what the HLL sketch
    tier is for when the product wants the sliding form).
    """
    return run_sql(spark, sf_dir, _STICKINESS_SQL)


# ---------------------------------------------------------------------------
# Cohort LTV curves

_LTV_SQL = """
WITH e AS (
    SELECT user_id, {te} // 604800 AS week,
           CASE WHEN event_type = 'purchase'
                THEN CAST(floor(value * 100 + 5e-1) AS BIGINT) ELSE 0 END AS cents
    FROM {events}
), anchored AS (
    SELECT week, cents, min(week) OVER (PARTITION BY user_id) AS cohort_week
    FROM e
), cw AS (
    SELECT cohort_week, week - cohort_week AS week_offset,
           CAST(sum(cents) AS BIGINT) AS rev_cents
    FROM anchored GROUP BY cohort_week, week - cohort_week
)
SELECT cohort_week, week_offset, rev_cents,
       CAST(sum(rev_cents) OVER (PARTITION BY cohort_week ORDER BY week_offset
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_rev_cents
FROM cw
"""


@op("pipeline_cohort_ltv", oracle=duckdb_sql(_LTV_SQL), tags=("ext", "pipeline", "behavior"))
def pipeline_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: per signup-week cohort, revenue in
    each week-offset and its running cumulative — the money companion
    to the retention triangle (retention counts who came back; LTV
    counts what they spent, and the cumulative column IS the payback
    curve marketing reads break-even from).

    Same skeleton as pipeline_retention_cohort — cohort anchor from a
    per-user min-week window on the one user-keyed exchange, then a
    (cohort, offset) aggregate — plus one more window: the cumulative
    sum runs over the ~cohorts×offsets rollup, not the corpus, so it
    costs nothing at any scale. Revenue stays in exact integer cents
    end to end; non-purchase events contribute zero rather than being
    filtered, so the cohort anchor still sees every user's true first
    week (filtering first would wrongly anchor purchase-less users'
    cohorts — the subtle bug this formulation avoids).
    """
    return run_sql(spark, sf_dir, _LTV_SQL)


# ---------------------------------------------------------------------------
# Inter-purchase intervals

_INTERPURCHASE_SQL = """
WITH g AS (
    SELECT user_id,
           sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS gap
    FROM (SELECT user_id, event_id, {te} AS sec
          FROM {events} WHERE event_type = 'purchase') p
)
SELECT user_id,
       CAST(count(*) + 1 AS BIGINT) AS n_purchases,
       CAST(sum(gap) // count(*) AS BIGINT) AS avg_gap_sec,
       CAST(max(gap) AS BIGINT) AS max_gap_sec
FROM g WHERE gap IS NOT NULL
GROUP BY user_id
"""


@op(
    "pipeline_interpurchase_time",
    oracle=duckdb_sql(_INTERPURCHASE_SQL),
    tags=("ext", "behavior", "window"),
)
def pipeline_interpurchase_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase time per user: count of purchases plus the mean and
    max gap in seconds between consecutive purchases — the cadence
    feature behind replenishment reminders and churn-risk scoring (a
    user whose current silence far exceeds their own max historical gap
    has likely churned).

    One lag window per user over the purchase-filtered stream (filter
    pushes to the scan; the window sort runs per user partition), then a
    per-user aggregate that reuses the window's hash(user_id)
    partitioning — one exchange total. Gaps stay exact integer seconds;
    the mean uses integral division so the row hash-matches at any
    scale (the engine-wide `div`-not-floor(double) discipline).
    """
    return run_sql(spark, sf_dir, _INTERPURCHASE_SQL)


# ---------------------------------------------------------------------------
# Session-scoped navigation paths

# a 30-min (1,800 s) inactivity gap ends a session: tighter than
# win_sessionize's 6 h batch sessions, at the scale of one visit
_SESSION_PATHS_SQL = """
WITH flagged AS (
    SELECT user_id, event_id, event_type, sec,
           CASE WHEN lag(sec) OVER wu IS NULL OR sec - lag(sec) OVER wu > 1800
                THEN 1 ELSE 0 END AS new_sess
    FROM (SELECT user_id, event_id, event_type, {te} AS sec FROM {events}) e
    WINDOW wu AS (PARTITION BY user_id ORDER BY sec, event_id)
), sess AS (
    SELECT user_id, event_id, event_type, sec,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY sec, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_seq
    FROM flagged
), hops AS (
    SELECT event_type AS next_type,
           lag(event_type) OVER (PARTITION BY user_id, session_seq
                                 ORDER BY sec, event_id) AS prev_type
    FROM sess
), counts AS (
    SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
    FROM hops WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n,
       -- dim_window: at most |event_types|^2 hop cells
       CAST(n * 10000 // sum(n) OVER () AS BIGINT) AS share_bp
FROM counts
"""


@op(
    "pipeline_session_paths",
    oracle=duckdb_sql(_SESSION_PATHS_SQL),
    tags=("ext", "behavior", "window"),
)
def pipeline_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped navigation transitions: (prev → next) event-type
    hop counts WITHIN 30-minute-gap sessions, plus each hop's share of
    all in-session navigation — the "where do users actually go next"
    table. pipeline_event_transitions counts the same hops over a user's
    whole history; scoping to sessions removes the overnight
    false-transitions (last event yesterday → first event today is not
    navigation), which is the version product analytics wants.

    Three window passes — session flags, session ids, in-session lag —
    all partitioned by user (the lag adds session_seq to the partition
    key, a strict refinement hash(user) already satisfies), so the whole
    ladder rides ONE user exchange; the hop aggregate is its own small
    exchange and the global total is a window over the at most
    |types|² hop cells (a scalar subquery would plan the hop ladder
    twice). Integral-div share in basis points, the engine-wide
    discipline.
    """
    return run_sql(spark, sf_dir, _SESSION_PATHS_SQL)


# ---------------------------------------------------------------------------
# Frequent 3-event sequences (sequence mining, funnels beyond pairs)
# ---------------------------------------------------------------------------

_TRIGRAM_SQL = """
WITH seq AS (
    SELECT event_type,
           lag(event_type, 1) OVER w AS p1,
           lag(event_type, 2) OVER w AS p2
    FROM {events}
    WINDOW w AS (PARTITION BY user_id ORDER BY {te}, event_id)
), tri AS (
    SELECT p2 AS e1, p1 AS e2, event_type AS e3, count(*) AS n
    FROM seq WHERE p2 IS NOT NULL GROUP BY p2, p1, event_type
), ranked AS (
    SELECT e1, e2, e3, n,
           -- dim_window: at most |event_types|^3 trigram cells
           row_number() OVER (ORDER BY n DESC, e1, e2, e3) AS rk
    FROM tri
)
SELECT e1, e2, e3, CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 10
"""


@op("pipeline_event_trigrams", oracle=duckdb_sql(_TRIGRAM_SQL), tags=("ext", "behavior"))
def pipeline_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most frequent 3-event sequences across all users — the
    sequence-mining step past pipeline_event_transitions' pair matrix:
    pairs say what follows what, trigrams expose the actual journeys
    (view→click→purchase vs view→click→error) that funnel design and
    anomaly triage read.

    Two lags over one per-user window produce every consecutive triple
    in a single pass (no self-joins — the naive sequence join is
    events³); the count agg is |types|³-bounded and the global top-10
    is a WindowGroupLimit over that bounded frame with a total-order
    tie-break (count DESC, then lexicographic triple).

    Scale: one (user) exchange for the lag scan — the same exchange
    every sessionization op here shares — then dimension-bounded
    aggregation; nothing downstream scales with rows.
    """
    return run_sql(spark, sf_dir, _TRIGRAM_SQL)


# ---------------------------------------------------------------------------
# Audience overlap matrix (distinct-user intersection per event-type pair)
# ---------------------------------------------------------------------------

_OVERLAP_SQL = """
WITH au AS (
    SELECT DISTINCT event_type, user_id FROM {events}
), deg AS (
    SELECT event_type, count(*) AS n FROM au GROUP BY event_type
), pair AS (
    SELECT x.event_type AS type_a, y.event_type AS type_b, count(*) AS n_both
    FROM au x JOIN au y ON x.user_id = y.user_id AND x.event_type < y.event_type
    GROUP BY x.event_type, y.event_type
)
SELECT /*+ BROADCAST(da, db) */ p.type_a, p.type_b,
       CAST(da.n AS BIGINT) AS n_a,
       CAST(db.n AS BIGINT) AS n_b,
       CAST(p.n_both AS BIGINT) AS n_both,
       CAST(p.n_both * 10000 // (da.n + db.n - p.n_both) AS BIGINT) AS jaccard_bp
FROM pair p
JOIN deg da ON da.event_type = p.type_a
JOIN deg db ON db.event_type = p.type_b
"""


@op("pipeline_audience_overlap", oracle=duckdb_sql(_OVERLAP_SQL), tags=("ext", "behavior"))
def pipeline_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap matrix: for every pair of event types, how many
    distinct users did BOTH, with the Jaccard share in basis points —
    the segment-overlap table that targeting, dedup-of-audiences, and
    cross-sell analyses read first ("are purchasers a subset of
    clickers, or a disjoint tribe?").

    The intersection is a MIDDLE-VERTEX equi-join on user (the
    graph_jaccard wedge decomposition applied to the bipartite
    user×type incidence): one distinct pass, then pairs form per user
    — a user in k types contributes C(k,2) wedges, bounded by
    |types|=5, so the join output is ≤10·|users| rows into a
    |types|²-bounded agg. Unions come from degrees, never materialized.
    Exact integers end to end.

    Scale: distinct (type,user) is the one corpus-sized exchange; the
    wedge join reuses the user partitioning; at 100 TB with a large
    type vocabulary you band the per-user type-set (the _pair_edges
    cap) — with 5 types the fanout bound is constant.
    """
    return run_sql(spark, sf_dir, _OVERLAP_SQL)


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier) of suppliers on (cost, volume)
# ---------------------------------------------------------------------------

_SKYLINE_SQL = """
WITH s AS (
    SELECT l_suppkey,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 5e-1) AS BIGINT)) AS BIGINT)
               AS cost_cents,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM {lineitem} GROUP BY l_suppkey
), marked AS (
    SELECT cost_cents, total_qty,
           -- dim_window: at most |suppliers| distinct (cost, qty) points
           max(total_qty) OVER (ORDER BY cost_cents, total_qty DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
    FROM (SELECT DISTINCT cost_cents, total_qty FROM s) pairs
), frontier AS (
    SELECT cost_cents, total_qty FROM marked
    WHERE prev_max IS NULL OR total_qty > prev_max
)
SELECT /*+ BROADCAST(f) */ s.l_suppkey, s.cost_cents, s.total_qty
FROM s JOIN frontier f ON s.cost_cents = f.cost_cents AND s.total_qty = f.total_qty
"""


@op("pipeline_skyline_frontier", oracle=duckdb_sql(_SKYLINE_SQL), tags=("ext", "behavior", "scale"))
def pipeline_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of suppliers on (total cost MIN, total
    volume MAX): a supplier survives iff no other is at-most-as-costly
    AND at-least-as-voluminous with one strict — the multi-objective
    shortlist query (Börzsönyi'01's SKYLINE OF) that "ORDER BY one
    column" cannot express and engines do not ship natively.

    The 2-D skyline needs NO pairwise dominance join: over DISTINCT
    (cost, qty) pairs sorted by (cost asc, qty desc), every preceding
    row is weakly better on cost (or equal-cost with strictly more
    volume), so a pair is dominated iff the running max of preceding
    volume reaches it — one window with an UNBOUNDED..1 PRECEDING
    frame replaces the O(n²) NOT EXISTS, and equal pairs (mutually
    non-dominating by the strict-somewhere rule) are collapsed before
    the window so the tie case cannot misfire. Exact integer cents and
    quantities; frontier membership joins back to supplier keys.

    Scale: one supplier aggregation (the corpus-sized exchange), then
    the window runs on distinct metric pairs — ≤ |suppliers| rows,
    single sort. A d>2 skyline needs the block-nested-loop or
    divide-and-conquer forms; the sort-window identity is exactly the
    2-D specialization worth hard-coding.
    """
    return run_sql(spark, sf_dir, _SKYLINE_SQL)


# ---------------------------------------------------------------------------
# Customer segment migration matrix between eras
# ---------------------------------------------------------------------------

# eras split at 1998-01-01; spend tiers: low < $200k, mid < $500k, high
_MIGRATION_SQL = """
WITH seg AS (
    SELECT o_custkey, era,
           CASE WHEN cents < 20000000 THEN 'low'
                WHEN cents < 50000000 THEN 'mid'
                ELSE 'high' END AS seg
    FROM (SELECT o_custkey,
                 CASE WHEN o_orderdate < '1998-01-01' THEN 'a' ELSE 'b' END AS era,
                 sum(CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT)) AS cents
          FROM {orders} GROUP BY 1, 2) spend
)
SELECT coalesce(a.seg, 'none') AS seg_a, coalesce(b.seg, 'none') AS seg_b,
       CAST(count(*) AS BIGINT) AS n_customers
FROM (SELECT o_custkey, seg FROM seg WHERE era = 'a') a
FULL OUTER JOIN (SELECT o_custkey, seg FROM seg WHERE era = 'b') b
  ON a.o_custkey = b.o_custkey
GROUP BY 1, 2
"""


@op("pipeline_segment_migration", oracle=duckdb_sql(_MIGRATION_SQL), tags=("ext", "behavior"))
def pipeline_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segment-migration matrix between two eras: each
    customer's spend tier (low/mid/high on fixed cent thresholds)
    before and after the cut, counted per (from, to) cell — with
    'none' rows capturing churn (active→absent) and acquisition
    (absent→active). The lifecycle flow table every retention team
    reads before intervening: upgrades, downgrades, and silent churn in
    one dimension-bounded matrix.

    Fixed VALUE thresholds, not quantiles, keep the segmentation exact
    integer comparisons (quantile tiers at scale are the KLL sketch
    tier's job); the era pivot is a full outer join on customer —
    both sides are per-customer aggregates, so the join input is
    |customers|, not orders, and the output is a ≤4×4 matrix.

    Scale: two-branch single scan (era is a projected CASE, one
    groupBy(cust, era) exchange), self-pivot via full outer join on
    the customer partitioning, then a 16-cell count. Nothing after the
    first aggregation scales with row count.
    """
    return run_sql(spark, sf_dir, _MIGRATION_SQL)


# ---------------------------------------------------------------------------
# New vs returning users per day (first-seen attribution)
# ---------------------------------------------------------------------------

_NEW_RET_SQL = """
WITH daily AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM {events}
), first_seen AS (
    SELECT user_id, min(day) AS first_day FROM daily GROUP BY user_id
)
SELECT d.day,
       CAST(count(*) AS BIGINT) AS dau,
       CAST(sum(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
       CAST(sum(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END) AS BIGINT)
           AS returning_users,
       CAST(sum(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END) * 10000 // count(*)
            AS BIGINT) AS new_share_bp
FROM daily d JOIN first_seen f ON d.user_id = f.user_id
GROUP BY d.day
"""


@op(
    "pipeline_new_returning_users",
    oracle=duckdb_sql(_NEW_RET_SQL),
    tags=("ext", "pipeline", "behavior"),
)
def pipeline_new_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into NEW (first-ever activity today) vs
    RETURNING — the growth-accounting decomposition every product
    dashboard leads with (DAU alone conflates acquisition with
    retention; pipeline_dau_mau_stickiness measures the ratio, this
    attributes each day's count to its driver). First-seen is
    min(activity day) per user — exact, no sessionization heuristics.

    Scale: one scan → distinct (user, day) pairs; first-seen is one
    (user)-keyed min agg joined back on the same user key (the
    text_ngram_novelty first-seen shape on the events axis); the daily
    rollup is |days|-bounded. All integers, integral share.
    """
    return run_sql(spark, sf_dir, _NEW_RET_SQL)


# ---------------------------------------------------------------------------
# Order-to-ship lead time (exact rank percentiles per order priority)
# ---------------------------------------------------------------------------

# a 90-day order-to-ship SLA for the miss-rate column
_LEAD_TIME_SQL = """
WITH d AS (
    SELECT o_orderpriority, lead_days,
           CASE WHEN lead_days > 90 THEN 1 ELSE 0 END AS late,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY lead_days, l_orderkey, l_linenumber,
                                       l_partkey, l_suppkey) AS rk,
           count(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM (SELECT o.o_orderpriority, l.l_orderkey, l.l_linenumber, l.l_partkey,
                 l.l_suppkey,
                 {epoch[l_shipdate]} // 86400 - {epoch[o_orderdate]} // 86400
                     AS lead_days
          FROM {lineitem} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey) j
), cuts AS (
    SELECT o_orderpriority, max(n) AS n, sum(late) AS n_late,
           min(CASE WHEN rk = (n + 1) // 2 THEN lead_days END) AS p50_days,
           min(CASE WHEN rk = (n * 9 + 9) // 10 THEN lead_days END) AS p90_days,
           min(CASE WHEN rk = (n * 99 + 99) // 100 THEN lead_days END) AS p99_days
    FROM d GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       CAST(n AS BIGINT) AS n,
       CAST(p50_days AS BIGINT) AS p50_days,
       CAST(p90_days AS BIGINT) AS p90_days,
       CAST(p99_days AS BIGINT) AS p99_days,
       CAST(n_late * 10000 // n AS BIGINT) AS late_bp
FROM cuts
"""


@op(
    "pipeline_order_lead_time",
    oracle=duckdb_sql(_LEAD_TIME_SQL),
    tags=("ext", "pipeline", "stats"),
)
def pipeline_order_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead-time SLA profile per order priority: exact
    p50/p90/p99 of orderdate→shipdate days plus the 90-day SLA-miss
    rate in basis points — the fulfillment-latency distribution behind
    every delivery promise. pipeline_late_shipment_priority finds WHICH
    late orders hurt; this is the latency DISTRIBUTION per priority
    class, tails included — means hide exactly the p99 an SLA is
    written against. (Fixtures carry no l_receiptdate/l_shipmode —
    FIXTURES.md — so the latency is the order→ship leg per priority,
    the same rank-percentile machinery either way.)

    Exact: lead days are integer date arithmetic; percentiles are
    rank-indexed picks on the (days, orderkey, linenumber, partkey,
    suppkey) total order (duplicate (orderkey, linenumber) rows exist
    in the fixture — the extra key columns keep the order total);
    ceil(q·n) ranks, no interpolation, no floats; the miss rate is
    integral basis points.

    Scale: the orderkey equi-join is the one fact-fact shuffle; the
    rank window exchanges on the 5-value priority key (coarse — the
    same rank-pick form runs per (priority, week) when finer
    partitioning is needed), then a dim-bounded agg.
    """
    return run_sql(spark, sf_dir, _LEAD_TIME_SQL)
