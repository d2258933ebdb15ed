"""Time-series operators: dense resampling, linear interpolation, EWMA.

The reference emits a raw event stream (regionSpout.go:151-163 ships each
tweet as-is); any time-series consumer downstream of it immediately needs
the three canonical gap-handling primitives this module provides:

- ``ts_resample``        — regularize an irregular event stream onto a
                           fixed per-key grid, zero-filling empty buckets
                           (the step every dashboard/forecast job does
                           first).
- ``ts_interpolate_linear`` — fill interior gaps by linear interpolation
                           between the neighboring observations
                           (LOCF's smoother sibling; LOCF itself is
                           ``win_fill_forward`` in windows_ext.py).
- ``win_ewma``           — exponentially-weighted moving average per key,
                           the standard smoothed "current level" signal.

Scale notes (100 TB):
- All three ops shuffle ON THE SERIES KEY exactly once and stay there:
  the span aggregate, the grid explode, the bucket aggregate, the
  gap-fill windows, and the final aggregate all share
  HashPartitioning(user_id), so Catalyst inserts one exchange and reuses
  it (plan-asserted in tests/test_plans.py).
- Grid densification multiplies rows by (span / step) per key — bounded
  by construction (a 30-day fixture → ≤720 hourly or 30 daily buckets
  per key), and the explode happens AFTER the per-key span aggregate, so
  it scales with |keys| × buckets, never with |events|.
- EWMA uses the order-anchored closed form
  y_n = (1-α)^(n-1)·x_1 + α·Σ_{i≥2} (1-α)^(n-i)·x_i
  with every weight ≤ 1 (numerically safe for unbounded series, unlike
  the (1-α)^(-i) prefix-scan trick which overflows past ~700 rows), so
  it needs only row_number + one weighted sum — no recursion, no UDF,
  whole-stage codegen end to end.

Seventeen ops of the statistics battery below (the ACF family
ts_autocorr / stats_ljung_box / ts_pacf and the gap, trend, tail,
seasonality, concurrency and burstiness tests that ``sql_front``'s
docstring lists) are written as one SQL text each, with ``sql_front``
placeholders: the text is the DuckDB oracle and, through
``sql_front.run_sql``, the Spark plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from connor_fun_streamproducer_spark.catalog import (
    bounded_series,
    epoch_div,
    epoch_seconds,
    events_epoch_span,
    load,
)
from connor_fun_streamproducer_spark.operators.sql_front import duckdb_sql, run_sql
from connor_fun_streamproducer_spark.registry import op

_EWMA_ALPHA = 0.2


def _dense_grid(events: DataFrame, unit: str, step_interval: str) -> DataFrame:
    """Per-key dense timestamp grid from min to max observed bucket.

    One shuffle (groupBy user_id); the explode is per-key and bounded by
    the series span / step.
    """
    spans = events.groupBy("user_id").agg(
        F.date_trunc(unit, F.min("ts")).alias("mn"),
        F.date_trunc(unit, F.max("ts")).alias("mx"),
    )
    return spans.select(
        "user_id",
        F.explode(F.expr(f"sequence(mn, mx, interval {step_interval})")).alias("bucket"),
    )


@op(
    "ts_resample",
    oracle="""
    WITH spans AS (
      SELECT user_id,
             date_trunc('day', min(ts)) AS mn,
             date_trunc('day', max(ts)) AS mx
      FROM events GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(mn, mx, INTERVAL '1 day')) AS bucket
      FROM spans
    ),
    obs AS (
      SELECT user_id, date_trunc('day', ts) AS bucket,
             sum(value) AS sv, count(*) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT g.user_id, g.bucket,
           round(coalesce(o.sv, 0), 4) AS total_value,
           CAST(coalesce(o.c, 0) AS BIGINT) AS n_events
    FROM grid g
    LEFT JOIN obs o ON g.user_id = o.user_id AND g.bucket = o.bucket
    """,
    tags=("ext", "timeseries"),
)
def ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the irregular event stream onto a dense per-user daily
    grid, zero-filling days with no events.

    The left join against the generated grid is what distinguishes this
    from a plain date-bucket group-by (fn_date_bucket): buckets with NO
    observations appear with total_value=0 / n_events=0, which is the
    contract every windowed model/chart needs. Both sides of the join
    are already partitioned by user_id from their common upstream
    shuffle.
    """
    ev = load(spark, sf_dir, "events")
    grid = _dense_grid(ev, "day", "1 day")
    obs = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("bucket")
    ).agg(F.sum("value").alias("sv"), F.count("*").alias("c"))
    return (
        grid.join(obs, ["user_id", "bucket"], "left")
        .select(
            "user_id",
            "bucket",
            F.round(F.coalesce(F.col("sv"), F.lit(0.0)), 4).alias("total_value"),
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


@op(
    "ts_interpolate_linear",
    oracle="""
    WITH ev AS (SELECT * FROM events WHERE user_id % 37 = 0),
    spans AS (
      SELECT user_id,
             date_trunc('hour', min(ts)) AS mn,
             date_trunc('hour', max(ts)) AS mx
      FROM ev GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS h
      FROM spans
    ),
    obs AS (
      -- avg quantized to 4 decimals BEFORE interpolating: the engines'
      -- summation orders differ in the last ulp, and interpolation would
      -- amplify that across the 4th-decimal rounding boundary of the
      -- final value. On identical quantized anchors the interpolation
      -- arithmetic is bit-identical in both engines.
      SELECT user_id, date_trunc('hour', ts) AS h,
             floor(avg(value) * 10000 + 0.5) / 10000 AS v
      FROM ev GROUP BY 1, 2
    ),
    dense AS (
      SELECT g.user_id, g.h, o.v
      FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h
    ),
    w AS (
      SELECT user_id, h, v,
        last_value(v IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ph,
        first_value(v IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY h
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY h
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nh
      FROM dense
    )
    SELECT user_id, h AS bucket,
           -- floor(x*1e4+0.5)/1e4, NOT round(x,4): interpolating between
           -- 4-decimal anchors lands on exact .xxxx5 midpoints constantly,
           -- where Spark's BigDecimal HALF_UP and DuckDB's double round()
           -- disagree; this form is plain double arithmetic, bit-identical
           -- in both engines on identical inputs (the repo cents idiom).
           -- parenthesized fraction-first to match the Spark expression
           -- tree exactly — a*(b/d) and (a*b)/d differ in the last ulp,
           -- which flips floor() precisely on interpolation midpoints
           floor((CASE WHEN v IS NOT NULL THEN v
                  ELSE pv + (nv - pv) * ((epoch(h) - epoch(ph))
                                       / (epoch(nh) - epoch(ph))) END)
                 * 10000 + 0.5) / 10000 AS value,
           (v IS NULL) AS interpolated
    FROM w
    WHERE v IS NOT NULL OR (pv IS NOT NULL AND nv IS NOT NULL)
    """,
    tags=("ext", "timeseries"),
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of interior gaps on a dense hourly grid.

    Observed buckets keep their hourly average; missing interior buckets
    get the time-weighted line between the previous and next observed
    bucket; leading/trailing gaps (no anchor on one side) are dropped —
    extrapolation is a modeling decision, not a fill. The neighbor
    lookup is two IGNORE-NULLS window scans over the same
    (user_id, bucket) sort the grid join already produced — no extra
    exchange. The key sample (user_id % 37 = 0) keeps the hourly
    densification at fixture scale proportional, not a fixture-size
    blow-up; at 100 TB you'd run all keys — the per-key cost is
    identical.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") % 37 == 0)
    grid = _dense_grid(ev, "hour", "1 hour")
    obs = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg((F.floor(F.avg("value") * 10000 + 0.5) / 10000).alias("v"))
    dense = grid.join(obs, ["user_id", "bucket"], "left")

    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    obs_bucket = F.when(F.col("v").isNotNull(), F.col("bucket"))
    w = dense.select(
        "user_id",
        "bucket",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_bucket, ignorenulls=True).over(w_prev).alias("ph"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(obs_bucket, ignorenulls=True).over(w_next).alias("nh"),
    )
    frac = (F.unix_timestamp("bucket") - F.unix_timestamp("ph")) / (
        F.unix_timestamp("nh") - F.unix_timestamp("ph")
    )
    filled = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.col("pv") + (F.col("nv") - F.col("pv")) * frac
    )
    return w.filter(
        F.col("v").isNotNull()
        | (F.col("pv").isNotNull() & F.col("nv").isNotNull())
    ).select(
        "user_id",
        "bucket",
        (F.floor(filled * 10000 + 0.5) / 10000).alias("value"),
        F.col("v").isNull().alias("interpolated"),
    )


@op(
    "win_ewma",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT user_id,
           round(sum(CASE WHEN rn = 1
                          THEN pow({1 - _EWMA_ALPHA}, n - 1) * value
                          ELSE {_EWMA_ALPHA} * pow({1 - _EWMA_ALPHA}, n - rn) * value
                     END), 4) AS ewma,
           CAST(max(n) AS BIGINT) AS n_obs
    FROM ordered GROUP BY user_id
    """,
    tags=("ext", "timeseries", "window"),
)
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key EWMA (α=0.2) of the value series, as of its last event.

    y_i = α·x_i + (1-α)·y_{i-1}, y_1 = x_1, evaluated at i = n via the
    end-anchored closed form (module docstring) — a row_number window
    plus one weighted sum, both on HashPartitioning(user_id), so the
    whole op is a single exchange and stays in whole-stage codegen.
    Ties in ts break on event_id for cross-engine determinism.
    """
    ev = load(spark, sf_dir, "events")
    wk = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "value",
        F.row_number().over(wk).alias("rn"),
        F.count("*").over(Window.partitionBy("user_id")).alias("n"),
    )
    beta = F.lit(1 - _EWMA_ALPHA)
    term = F.when(
        F.col("rn") == 1, F.pow(beta, F.col("n") - 1) * F.col("value")
    ).otherwise(
        F.lit(_EWMA_ALPHA) * F.pow(beta, F.col("n") - F.col("rn")) * F.col("value")
    )
    return ordered.groupBy("user_id").agg(
        F.round(F.sum(term), 4).alias("ewma"),
        F.max("n").cast("bigint").alias("n_obs"),
    )


@op(
    "agg_linreg_trend",
    oracle="""
    -- x centered at the fixture epoch (2024-01-01): regressing on raw
    -- epoch seconds (~1.7e9) makes the intercept an extrapolation to
    -- epoch 0 through catastrophic cancellation — cross-engine drift at
    -- the 0.01 level. Centered, the intercept is the level AT t0 and
    -- every moment is well-conditioned.
    SELECT user_id,
           round(regr_slope(value, epoch(ts) - 1704067200) * 86400, 4) AS slope_per_day,
           round(regr_intercept(value, epoch(ts) - 1704067200), 2)     AS intercept_t0,
           round(regr_r2(value, epoch(ts) - 1704067200), 4)            AS r2,
           CAST(count(*) AS BIGINT)                                    AS n
    FROM events GROUP BY user_id
    """,
    tags=("ext", "timeseries", "agg"),
)
def agg_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key least-squares trend of value over time: slope (per day),
    intercept, and R² — the one-pass screening regression a metrics
    platform runs over every series ("which users are trending up?").

    Uses the built-in regression aggregates (`regr_slope` etc. — single
    scan, map-side moment partials, one keyed exchange; the same
    associative (n, Σx, Σy, Σxx, Σxy) state the moments tier uses), NOT
    a per-key fit in Python — at 100 TB the difference between one
    shuffle and collecting a million series. x is epoch seconds; slope
    reported per day (×86400) so the number is human-scaled.
    """
    ev = load(spark, sf_dir, "events")
    # Centered x (seconds since 2024-01-01) — see the oracle's
    # conditioning note; raw epoch x makes the intercept ill-conditioned.
    x = (F.unix_timestamp("ts") - F.lit(1704067200)).cast("double")
    return ev.groupBy("user_id").agg(
        F.round(F.regr_slope(F.col("value"), x) * 86400, 4).alias("slope_per_day"),
        F.round(F.regr_intercept(F.col("value"), x), 2).alias("intercept_t0"),
        F.round(F.regr_r2(F.col("value"), x), 4).alias("r2"),
        F.count("*").cast("bigint").alias("n"),
    )


Z_THRESHOLD = 1.5
Z_MIN_POINTS = 5
Z_WINDOW_SECONDS = 86400


@op(
    "win_anomaly_zscore",
    oracle=f"""
    WITH w AS (
      SELECT event_id, user_id, value,
        avg(value) OVER (PARTITION BY user_id ORDER BY epoch(ts)
          RANGE BETWEEN {Z_WINDOW_SECONDS} PRECEDING AND CURRENT ROW) AS mu,
        stddev_samp(value) OVER (PARTITION BY user_id ORDER BY epoch(ts)
          RANGE BETWEEN {Z_WINDOW_SECONDS} PRECEDING AND CURRENT ROW) AS sd,
        count(*) OVER (PARTITION BY user_id ORDER BY epoch(ts)
          RANGE BETWEEN {Z_WINDOW_SECONDS} PRECEDING AND CURRENT ROW) AS cnt
      FROM events
    )
    SELECT user_id, event_id, value,
           floor((value - mu) / sd * 10000 + 0.5) / 10000 AS z
    FROM w
    WHERE cnt >= {Z_MIN_POINTS} AND sd > 0
      AND abs(floor((value - mu) / sd * 10000 + 0.5) / 10000) > {Z_THRESHOLD}
    """,
    tags=("ext", "timeseries", "window"),
)
def win_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: flag events whose value departs
    the key's own last-24 h distribution by more than {Z_THRESHOLD}σ.

    The z-statistic uses a RANGE frame over event-time seconds (each row
    sees exactly the trailing day INCLUDING itself — no fixed bucket
    boundary effects), with a minimum-support gate (≥{Z_MIN_POINTS}
    points) so cold-start windows can't nominate everything. One keyed
    exchange; the three window aggregates share a single sort. z is
    quantized with the floor idiom BEFORE thresholding so the flag
    decision is bit-identical across engines. At 100 TB: state is the
    window frame per key — Spark evaluates RANGE frames in one pass over
    the keyed sort, nothing accumulates beyond the trailing day.
    """
    ev = load(spark, sf_dir, "events")
    wz = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-Z_WINDOW_SECONDS, 0)
    )
    stats = ev.select(
        "user_id",
        "event_id",
        "value",
        F.avg("value").over(wz).alias("mu"),
        F.stddev_samp("value").over(wz).alias("sd"),
        F.count("*").over(wz).alias("cnt"),
    )
    z_q = F.floor((F.col("value") - F.col("mu")) / F.col("sd") * 10000 + 0.5) / 10000
    return (
        stats.filter(
            (F.col("cnt") >= Z_MIN_POINTS) & (F.col("sd") > 0)
        )
        .select("user_id", "event_id", "value", z_q.alias("z"))
        .filter(F.abs(F.col("z")) > Z_THRESHOLD)
    )


_OHLC_ORACLE = """
WITH e AS (
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(floor(epoch(ts)) AS BIGINT)         AS sec,
           event_id, value
    FROM events
)
SELECT event_type, day,
       round((min(struct_pack(s := sec, i := event_id, v := value))).v, 4)
           AS open_v,
       round((max(struct_pack(s := sec, i := event_id, v := value))).v, 4)
           AS close_v,
       round(max(value), 4)     AS high_v,
       round(min(value), 4)     AS low_v,
       CAST(count(*) AS BIGINT) AS volume
FROM e GROUP BY event_type, day
"""


@op("ts_ohlc_candles", oracle=_OHLC_ORACLE, tags=("ext", "timeseries", "agg"))
def ts_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle downsampling: per (event_type, day) the opening value
    (earliest event), closing value (latest), high, low, and volume —
    the standard tick→bar compaction every monitoring / market /
    telemetry store runs before charting or long-horizon modeling.

    Open/close are argmin/argmax by the TOTAL order (sec, event_id),
    expressed as a lexicographic struct min/max — ONE ordinary
    hash-aggregate, no window sort: struct aggregates partial-combine
    map-side like any min/max, so downsampling 100 TB of ticks is a
    single exchange of one struct per (series, bar) group, and a hot
    series costs nothing extra (no per-series sort, unlike the
    row_number formulation).
    """
    ev = load(spark, sf_dir, "events")
    key = F.struct(
        epoch_seconds("ts").alias("s"),
        F.col("event_id").alias("i"),
        F.col("value").alias("v"),
    )
    return (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            key.alias("k"),
            "value",
        )
        .groupBy("event_type", "day")
        .agg(
            F.round(F.min("k")["v"], 4).alias("open_v"),
            F.round(F.max("k")["v"], 4).alias("close_v"),
            F.round(F.max("value"), 4).alias("high_v"),
            F.round(F.min("value"), 4).alias("low_v"),
            F.count("*").cast("bigint").alias("volume"),
        )
    )


# ---------------------------------------------------------------------------
# Lag autocorrelation (exact integer moments, basis points)
# ---------------------------------------------------------------------------

# The exact integer lag-pair moments (event_type, lag, n, sx, sy, sxx,
# syy, sxy) for lags 1..3, ONE fragment shared by ts_autocorr,
# stats_ljung_box and ts_pacf. The three leads share one window frame;
# the lag unpivot is a cross join with the 3-row VALUES list (a
# broadcast nested-loop join, no exchange) rather than a UNION ALL that
# would re-read the window output once per lag.
_ACF_MOMENTS = """base AS (
    SELECT event_type,
           CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS c,
           lead(CAST(floor(value * 100 + 0.5e0) AS BIGINT), 1) OVER w AS y1,
           lead(CAST(floor(value * 100 + 0.5e0) AS BIGINT), 2) OVER w AS y2,
           lead(CAST(floor(value * 100 + 0.5e0) AS BIGINT), 3) OVER w AS y3
    FROM {events}
    WINDOW w AS (PARTITION BY event_type ORDER BY {te}, event_id)
), pairs AS (
    SELECT event_type, lag, c AS x,
           CASE lag WHEN 1 THEN y1 WHEN 2 THEN y2 ELSE y3 END AS y
    FROM base CROSS JOIN (VALUES (1), (2), (3)) AS l(lag)
), m AS (
    SELECT event_type, lag, count(*) AS n,
           sum(CAST(x AS {wide})) AS sx, sum(CAST(y AS {wide})) AS sy,
           sum(CAST(x * x AS {wide})) AS sxx, sum(CAST(y * y AS {wide})) AS syy,
           sum(CAST(x * y AS {wide})) AS sxy
    FROM pairs WHERE y IS NOT NULL GROUP BY event_type, lag
)"""

_AUTOCORR_SQL = "WITH " + _ACF_MOMENTS + """
SELECT event_type, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE) * 10000
                  / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                           * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0e0))
            AS BIGINT) AS r_bp
FROM m
"""


@op(
    "ts_autocorr",
    oracle=duckdb_sql(_AUTOCORR_SQL),
    tags=("ext", "timeseries", "agg", "stats"),
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series lag-k autocorrelation (k = 1..3) of event values — the
    seasonality/persistence screen a metrics platform runs before
    fitting any forecast model (an ACF row per (series, lag)).

    Exactness discipline: values become integer cents, every moment
    (n, Σx, Σy, Σxx, Σyy, Σxy) is an exact integer aggregate (cent
    products fit int64 per row; sums ride decimal(38,0) so 100 TB row
    counts cannot overflow), and only the final Pearson ratio touches
    floats — identical integer inputs give identical IEEE doubles on
    both engines, so the floor-to-basis-points output hash-matches with
    zero tolerance.

    Plan shape: ONE window pass per series (a single (event_type)
    exchange; the 3 leads share the frame), a cross join with the 3-row
    lag list (broadcast nested loop, no shuffle), and a 15-key hash agg
    with map-side partials. At 100 TB the exchange carries only series
    keys — the ACF of a series never leaves its partition.
    """
    return run_sql(spark, sf_dir, _AUTOCORR_SQL)


# ---------------------------------------------------------------------------
# Diurnal seasonal index (exact integer ratio-of-means)
# ---------------------------------------------------------------------------

_SEASONAL_ORACLE = """
WITH base AS (
    SELECT event_type,
           CAST(strftime(ts, '%H') AS BIGINT) AS hour_of_day,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events
),
h AS (
    SELECT event_type, hour_of_day,
           count(*) AS n, sum(cents) AS s
    FROM base GROUP BY 1, 2
),
t AS (
    SELECT event_type, sum(n) AS n_tot, sum(s) AS s_tot FROM h GROUP BY 1
)
SELECT h.event_type, h.hour_of_day,
       CAST(h.n AS BIGINT) AS n,
       CAST(h.s AS BIGINT) AS sum_cents,
       CAST(h.s * t.n_tot * 10000 // (h.n * t.s_tot) AS BIGINT)
           AS seasonal_bp,
       CAST(h.n * 24 * 10000 // t.n_tot AS BIGINT) AS traffic_bp
FROM h JOIN t USING (event_type)
"""


@op(
    "ts_seasonal_index",
    oracle=_SEASONAL_ORACLE,
    tags=("ext", "timeseries", "agg"),
)
def ts_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal profile per event series: the multiplicative
    seasonal index (hour mean ÷ series mean, in basis points — 10000 =
    an average hour) plus a traffic share index (hour volume vs uniform)
    — the classical-decomposition seasonal component, restricted to the
    season the fixture actually spans (24 diurnal buckets over one
    month of events).

    The index is a ratio of means computed WITHOUT ever forming a mean:
    (Σ_h · n_tot · 10⁴) div (n_h · Σ_tot) over exact integer cents —
    associativity-proof (no float accumulation order), overflow-proof
    (decimal(38,0) intermediates), and hash-identical cross-engine.

    Scale: two stacked hash aggs on (series, hour) then (series) — the
    second operates on ≤24 rows per series; the broadcast-scale join
    back carries two totals per series. Nothing in the plan grows with
    row count except the first map-side partial.
    """
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.hour("ts").cast("bigint").alias("hour_of_day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    h = base.groupBy("event_type", "hour_of_day").agg(
        F.count("*").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
    )
    t = h.groupBy("event_type").agg(
        F.sum("n").alias("n_tot"), F.sum("s").alias("s_tot")
    )
    return h.join(F.broadcast(t), "event_type").select(
        "event_type",
        "hour_of_day",
        F.col("n").cast("bigint").alias("n"),
        F.col("s").cast("bigint").alias("sum_cents"),
        F.expr("s * n_tot * 10000 div (n * s_tot)").cast("bigint").alias("seasonal_bp"),
        F.expr("n * 24 * 10000 div n_tot").cast("bigint").alias("traffic_bp"),
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint (exact scaled integer cumulative deviation)
# ---------------------------------------------------------------------------

_CUSUM_SQL = """
WITH base AS (
    SELECT event_type, ts, event_id,
           CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS cents
    FROM {events}
), tot AS (
    SELECT event_type, count(*) AS n_tot, sum(CAST(cents AS {wide})) AS s_tot
    FROM base GROUP BY event_type
), pre AS (
    SELECT event_type, ts,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY ts, event_id) AS i,
           sum(CAST(cents AS {wide})) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
    FROM base
), s AS (
    SELECT /*+ BROADCAST(t) */ pre.event_type, ts, i, n_tot,
           n_tot * prefix - i * s_tot AS cusum_scaled
    FROM pre JOIN tot t ON pre.event_type = t.event_type
), top AS (
    SELECT event_type, ts, i, n_tot, cusum_scaled,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY abs(cusum_scaled) DESC, ts ASC) AS rn
    FROM s
)
SELECT event_type,
       CAST(n_tot AS BIGINT) AS n,
       CAST(i AS BIGINT) AS cp_index,
       ts AS cp_ts,
       CAST(abs(cusum_scaled) AS BIGINT) AS cusum_scaled_abs
FROM top WHERE rn = 1
"""


@op(
    "ts_changepoint_cusum",
    oracle=duckdb_sql(_CUSUM_SQL),
    tags=("ext", "timeseries", "agg", "stats"),
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single most-likely mean-shift changepoint per series via the CUSUM
    statistic: the index i maximizing |Σ_{j≤i}(x_j − x̄)| — where a
    level shift in the series bends the cumulative-deviation curve
    hardest (Page 1954's screen, the amount-anomaly counterpart of the
    drift monitor in stats_profile_drift).

    Exactness: the deviation sum is carried SCALED by n_tot —
    S_i·n_tot = n_tot·prefix_i − i·Σ_tot, an exact integer (the
    ts_seasonal_index trick: never form a mean) — so the argmax and its
    magnitude hash-match DuckDB bit-for-bit; ties on |S| break on
    earliest ts. decimal(38,0) headroom: prefix ≤ ~10^10 cents at 100 TB
    scale × n_tot keeps within 38 digits for any realistic series.

    Scale: one per-series window pass (row_number and prefix share the
    frame and its sort), a broadcast totals join, and a top-1 window on
    the same series partitioning — the argmax never collects the series.
    """
    return run_sql(spark, sf_dir, _CUSUM_SQL)


# ---------------------------------------------------------------------------
# SMA crossover detection (exact cross-multiplied integer sums)
# ---------------------------------------------------------------------------

# SMA(3) vs SMA(7), compared as 7·sum₃ vs 3·sum₇. The window orders by
# o_orderdate itself: order dates are whole days, so this is the order
# of their epoch seconds.
_SMA_CROSS_SQL = """
WITH o AS (
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(floor(o_totalprice * 100 + 0.5e0) AS BIGINT) AS cents
    FROM {orders}
), s AS (
    SELECT o_custkey, o_orderkey,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS rid,
           sum(cents) OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS sum_fast,
           sum(cents) OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey
                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS sum_slow
    FROM o
), c AS (
    SELECT o_custkey, o_orderkey, rid, sum_fast, sum_slow,
           7 * sum_fast - 3 * sum_slow AS cmp,
           lag(7 * sum_fast - 3 * sum_slow)
               OVER (PARTITION BY o_custkey ORDER BY rid) AS prev_cmp
    FROM s WHERE rid >= 7
)
SELECT o_custkey, o_orderkey, CAST(rid AS BIGINT) AS rid,
       CAST(sum_fast AS BIGINT) AS sum_fast,
       CAST(sum_slow AS BIGINT) AS sum_slow,
       CASE WHEN cmp > 0 THEN 'golden' ELSE 'dead' END AS cross_type
FROM c
WHERE prev_cmp IS NOT NULL
  AND ((cmp > 0 AND prev_cmp <= 0) OR (cmp < 0 AND prev_cmp >= 0))
"""


@op("ts_sma_crossover", oracle=duckdb_sql(_SMA_CROSS_SQL), tags=("ext", "timeseries"))
def ts_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fast/slow moving-average crossover events per customer — the
    classic trend-shift detector (spend accelerating through its own
    baseline = 'golden' cross; decelerating = 'dead' cross), emitted
    only at the crossing rows so the output is events, not the series.

    Exactness: SMA(3) > SMA(7) is evaluated as the cross-multiplied
    integer comparison 7·sum₃ > 3·sum₇ — the division that makes
    moving AVERAGES float never happens, so the crossover predicate is
    exact cents arithmetic on both engines. Partial frames are excluded
    (rid ≥ 7) rather than averaged over shorter windows; ordering is
    totally tie-broken by (orderdate, orderkey).

    Scale: one (custkey) exchange serves the shared window sort; both
    trailing sums and the lag read the same WindowExec buffer, O(1)
    state per row. Crossing rows are a tiny fraction of input — the
    event-not-series output shape is what keeps a 100 TB detector's
    sink small.
    """
    return run_sql(spark, sf_dir, _SMA_CROSS_SQL)


# ---------------------------------------------------------------------------
# Holt double exponential smoothing (fold-exact level+trend forecast)
# ---------------------------------------------------------------------------

# alpha = beta = 1/2: exact binary fractions, so every smoothing step is
# an IEEE-exact halving+add — the fold produces bit-identical doubles on
# both engines given identical integer inputs in identical order.
_HOLT_FOLD_SPARK = (
    "aggregate(slice(v, 2, size(v) - 1), array(v[0], CAST(0.0 AS DOUBLE)),"
    " (acc, x) -> array("
    "   0.5D * x + 0.5D * (acc[0] + acc[1]),"
    "   0.5D * ((0.5D * x + 0.5D * (acc[0] + acc[1])) - acc[0])"
    "     + 0.5D * acc[1]))"
)

_HOLT_ORACLE = """
WITH d AS (
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
    FROM events GROUP BY 1, 2
), s AS (
    SELECT event_type,
           count(*) AS n_days,
           list([CAST(cents AS DOUBLE), 0.0] ORDER BY day) AS v
    FROM d GROUP BY 1
), f AS (
    SELECT event_type, n_days,
           list_reduce(v, (acc, p) -> [
               0.5 * p[1] + 0.5 * (acc[1] + acc[2]),
               0.5 * ((0.5 * p[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
                 + 0.5 * acc[2]
           ]) AS lb
    FROM s
)
SELECT event_type,
       CAST(n_days AS BIGINT) AS n_days,
       round(lb[1], 6) + 0.0 AS level,
       round(lb[2], 6) + 0.0 AS trend,
       round(lb[1] + 1 * lb[2], 6) + 0.0 AS forecast_1,
       round(lb[1] + 2 * lb[2], 6) + 0.0 AS forecast_2,
       round(lb[1] + 3 * lb[2], 6) + 0.0 AS forecast_3
FROM f
"""


@op("ts_holt_forecast", oracle=_HOLT_ORACLE, tags=("ext", "timeseries", "forecast"))
def ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing per event-type daily-revenue
    series: final level + trend state and 1/2/3-step-ahead forecasts —
    the trend-aware upgrade of a flat EWMA (win_ewma smooths level
    only; pipeline_forecast_revenue fits one global line; Holt tracks a
    LOCAL trend that adapts), the standard capacity-planning
    short-horizon forecaster.

    Exactness: the recurrence l_t = αy_t + (1−α)(l+b), b_t =
    β(l_t−l) + (1−β)b is a LEFT FOLD over the day-ordered series with
    α = β = 1/2 — exact binary fractions, so every step is IEEE-exact
    halve+add over exact integer cents and the fold is bit-identical
    cross-engine (the sorted-array fold discipline extended from sums
    to a 2-state recurrence; acc rides as a [level, trend] pair since
    DuckDB's reduce requires acc type = element type).

    Scale: the daily rollup is one hash agg (|types|·|days| bounded);
    the fold runs once per series on a bounded array. A per-KEY
    variant at 100 TB partitions by key — each series folds
    independently, no cross-key state.
    """
    d = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("cents"))
    )
    s = d.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.transform(
            # the |days|-bounded contract, enforced: a mis-keyed series
            # fails loudly instead of OOMing the fold at scale
            bounded_series(
                F.expr("array_sort(collect_list(struct(day, cents)))"),
                what="ts_holt_forecast per-type day series",
            ),
            lambda p: p.getField("cents").cast("double"),
        ).alias("v"),
    )
    f = s.select(
        "event_type",
        "n_days",
        F.expr(_HOLT_FOLD_SPARK).alias("lb"),
    )
    lvl, trd = F.col("lb")[0], F.col("lb")[1]
    return f.select(
        "event_type",
        F.col("n_days").cast("bigint").alias("n_days"),
        (F.round(lvl, 6) + F.lit(0.0)).alias("level"),
        (F.round(trd, 6) + F.lit(0.0)).alias("trend"),
        (F.round(lvl + 1 * trd, 6) + F.lit(0.0)).alias("forecast_1"),
        (F.round(lvl + 2 * trd, 6) + F.lit(0.0)).alias("forecast_2"),
        (F.round(lvl + 3 * trd, 6) + F.lit(0.0)).alias("forecast_3"),
    )


# ---------------------------------------------------------------------------
# Seasonal-residual anomaly cells (deseasonalized deviation screen)
# ---------------------------------------------------------------------------

_SRA_TOPK = 5  # most-deviant day-hour cells per type

_SRA_ORACLE = f"""
WITH cells AS (
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(hour(ts) AS BIGINT) AS hr,
           count(*) AS c
    FROM events GROUP BY 1, 2, 3
), prof AS (
    SELECT event_type, hr,
           sum(c) AS hour_total,
           count(*) AS n_days
    FROM cells GROUP BY 1, 2
), dev AS (
    SELECT c.event_type, c.day, c.hr, c.c,
           p.hour_total, p.n_days,
           -- observed/expected in bp: expected per day-cell is
           -- hour_total/n_days; ratio computed cross-multiplied so the
           -- division happens once, integrally
           c.c * p.n_days * 10000 // p.hour_total AS ratio_bp
    FROM cells c JOIN prof p USING (event_type, hr)
)
SELECT event_type, day, hr,
       CAST(c AS BIGINT) AS c,
       CAST(ratio_bp AS BIGINT) AS ratio_bp,
       CAST(abs(ratio_bp - 10000) AS BIGINT) AS dev_bp
FROM dev
QUALIFY row_number() OVER (
    PARTITION BY event_type
    ORDER BY abs(ratio_bp - 10000) DESC, day, hr
) <= {_SRA_TOPK}
"""


@op(
    "ts_seasonal_residual_anomaly",
    oracle=_SRA_ORACLE,
    tags=("ext", "timeseries", "stats"),
)
def ts_seasonal_residual_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESEASONALIZED anomaly screen: the top day-hour cells per event
    type whose count deviates most from that type's own hourly profile
    (observed / expected-for-this-hour, in basis points) — the
    composition ts_seasonal_index implies but doesn't run: raw-count
    anomaly detection (win_anomaly_zscore) fires on every rush hour;
    dividing by the diurnal profile first leaves only the genuinely
    unusual cells (an outage at peak, a bot burst at 4am).

    Exactness: the ratio is integral, cross-multiplied
    (c·n_days·10000 div hour_total) so no mean is ever materialized as
    a float; ranking is on |ratio−10000| with (day, hr) tie-break — a
    total order.

    Scale: one scan → (type, day, hour) hash agg; the profile is a
    window-free second agg over those bounded cells joined back on the
    (type, hour) key; top-k per type is a WindowGroupLimit. Nothing
    but the first agg touches corpus-sized data.
    """
    cells = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            F.hour("ts").cast("bigint").alias("hr"),
        )
        .groupBy("event_type", "day", "hr")
        .agg(F.count("*").alias("c"))
    )
    prof = cells.groupBy("event_type", "hr").agg(
        F.sum("c").alias("hour_total"), F.count("*").alias("n_days")
    )
    dev = cells.join(prof, ["event_type", "hr"]).select(
        "event_type",
        "day",
        "hr",
        "c",
        F.expr("c * n_days * 10000 div hour_total").alias("ratio_bp"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("ratio_bp") - 10000).desc(), F.col("day").asc(), F.col("hr").asc()
    )
    return (
        dev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SRA_TOPK)
        .select(
            "event_type",
            "day",
            "hr",
            F.col("c").cast("bigint").alias("c"),
            F.col("ratio_bp").cast("bigint").alias("ratio_bp"),
            F.abs(F.col("ratio_bp") - 10000).cast("bigint").alias("dev_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau whiteness test (composes the ACF moments)
# ---------------------------------------------------------------------------

# rho is the STANDARD ACF estimator (r10 ADVICE fix): deviations from
# the single full-series mean, denominator = full-series variance —
# the estimator the Ljung-Box chi-square calibration is defined for.
# Cross-multiplied by n² so every term stays an exact integer:
#   rho_k = (n²·Σxy − n·S1·(Σx+Σy) + (n−k)·S1²) / (n²·S2 − n·S1²)
# Shared by stats_ljung_box and ts_pacf; p holds r1..r3 per series.
_ACF_RHO = """, tot AS (
    SELECT event_type, count(*) AS nn,
           sum(CAST(c AS {wide})) AS s1, sum(CAST(c * c AS {wide})) AS s2
    FROM (SELECT event_type, CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS c
          FROM {events}) e
    GROUP BY event_type
), r AS (
    SELECT /*+ BROADCAST(t) */ m.event_type, m.lag,
           CAST(t.nn * t.nn * m.sxy - t.nn * t.s1 * (m.sx + m.sy)
                + (t.nn - m.lag) * t.s1 * t.s1 AS DOUBLE)
           / nullif(CAST(t.nn * t.nn * t.s2 - t.nn * t.s1 * t.s1 AS DOUBLE),
                    0e0) AS rho
    FROM m JOIN tot t ON m.event_type = t.event_type
), p AS (
    SELECT event_type,
           max(CASE WHEN lag = 1 THEN rho END) AS r1,
           max(CASE WHEN lag = 2 THEN rho END) AS r2,
           max(CASE WHEN lag = 3 THEN rho END) AS r3
    FROM r GROUP BY event_type
)"""

# The verdict compares the ROUNDED Q against the chi-square(3 df) 95%
# critical value 7.814728.
_LJUNG_BOX_SQL = "WITH " + _ACF_MOMENTS + _ACF_RHO + """
SELECT /*+ BROADCAST(t) */ p.event_type,
       CAST(t.nn AS BIGINT) AS n,
       round(CAST(t.nn AS DOUBLE) * (t.nn + 2)
             * (r1*r1/(t.nn-1) + r2*r2/(t.nn-2) + r3*r3/(t.nn-3)), 6) + 0e0
           AS q_stat,
       round(CAST(t.nn AS DOUBLE) * (t.nn + 2)
             * (r1*r1/(t.nn-1) + r2*r2/(t.nn-2) + r3*r3/(t.nn-3)), 6)
           > 7.814728e0 AS reject_whiteness
FROM p JOIN tot t ON p.event_type = t.event_type
"""


@op(
    "stats_ljung_box",
    oracle=duckdb_sql(_LJUNG_BOX_SQL),
    tags=("ext", "timeseries", "stats"),
)
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test per event-type value series: the
    single Q statistic over the first 3 lag autocorrelations, with the
    5% chi-square(3) rejection verdict — the whiteness gate that turns
    ts_autocorr's 15-row ACF table into the one yes/no a pipeline
    branches on (white noise → skip the forecast models entirely;
    stats_runs_test asks the same of the SIGN sequence, this asks it
    of the magnitudes).

    Exact: the lag cross-moments are ts_autocorr's integer aggregates
    (ONE shared text, _ACF_MOMENTS, run on both engines); rho is
    the STANDARD ACF estimator — deviations from the single full-series
    mean, denominator the full-series variance (r10 ADVICE fix: the
    chi-square(3) calibration is defined for this estimator, not the
    per-lag Pearson variant) — cross-multiplied by n² so numerator and
    denominator stay exact integers; rho and the Q polynomial are single
    fixed-shape float expressions over identical exact integers, and the
    verdict compares the ROUNDED Q against the fixed critical literal,
    so the boolean is a cross-engine total order.

    Scale: same one-window + 15-key agg as ts_autocorr, plus a
    |types|-row count join.
    """
    return run_sql(spark, sf_dir, _LJUNG_BOX_SQL)


# ---------------------------------------------------------------------------
# Peak concurrency (sweep-line max overlap per day)
# ---------------------------------------------------------------------------

_CONC_WINDOW_S = 900  # each event holds a 15-minute activity interval

_PEAK_CONC_SQL = f"""
WITH bp AS (
    -- each event's open (+1) and close (-1) point, from one read of events
    SELECT t, CASE WHEN side = 'open_t' THEN 1 ELSE -1 END AS delta
    FROM (SELECT {{te}} AS open_t, {{te}} + {_CONC_WINDOW_S} AS close_t FROM {{events}})
    UNPIVOT INCLUDE NULLS (t FOR side IN (open_t, close_t))
), pts AS (
    SELECT t // 86400 AS d, t, delta FROM bp
    UNION ALL
    -- day-start sentinel: carries the pre-midnight open level into the
    -- day's peak candidates (delta 0; closes at exactly midnight sort
    -- before it, opens after). Derived from ALL boundary-point days,
    -- opens AND closes, so a day whose only points are carried-in
    -- closes (sessions opened late the prior day) still gets one.
    SELECT d, d * 86400 AS t, 0 AS delta
    FROM (SELECT DISTINCT t // 86400 AS d FROM bp)
), offs AS (
    SELECT d,
           -- dim_window: |days| daily-delta rows
           coalesce(sum(ddelta) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry
    FROM (SELECT d, sum(delta) AS ddelta FROM pts GROUP BY d)
), run AS (
    SELECT /*+ BROADCAST(o) */ p.d, p.t,
           o.carry + sum(p.delta) OVER (PARTITION BY p.d
                                        ORDER BY p.t ASC, p.delta ASC
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND CURRENT ROW) AS conc
    FROM pts p JOIN offs o ON p.d = o.d
), pk AS (
    SELECT d, t, conc, max(conc) OVER (PARTITION BY d) AS peak FROM run
)
SELECT DATE '1970-01-01' + CAST(d AS INTEGER) AS day,
       CAST(peak AS BIGINT) AS peak_concurrency,
       CAST(min(t) AS BIGINT) AS first_peak_epoch
FROM pk
WHERE conc = peak
GROUP BY d, peak
"""


@op("ts_peak_concurrency", oracle=duckdb_sql(_PEAK_CONC_SQL), tags=("ext", "timeseries"))
def ts_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily peak concurrency by sweep line: each event opens a
    15-minute activity interval; +1/−1 boundary points, sorted, running
    sum, per-day max and the first instant it is reached — the
    capacity-planning number (how many sessions must the system hold
    AT ONCE) that hourly rollups (ts_seasonal_index) structurally
    underestimate because they average within the bucket.

    Midnight is NOT a reset (r9 self-review): each boundary point lands
    on ITS OWN day (a close after midnight decrements the next day),
    every day carries in the net open level of all prior days (one
    cumulative window over the tiny per-day frame), and a delta-0
    day-start sentinel makes the carried level itself a peak candidate
    — so 100 sessions open at 23:55 are correctly part of day D+1's
    00:05 peak. Sentinels are derived from ALL boundary-point days —
    opens UNION closes — so a day whose only points are carried-in
    closes (no events of its own) still nominates its midnight carry
    level as a peak candidate (r10 ADVICE fix).

    Exact: integer epoch seconds and day indexes; the sweep orders
    (t ASC, delta ASC) so a −1 closing at instant t applies before the
    sentinel and any +1 opening at t (adjacent intervals don't
    double-count); peak, carry, and first epoch are integer arithmetic.

    Scale: one exchange on the day key for the sweep window, whose
    partitioning the per-day peak window reuses (no self-join); the
    carry frame is |days| rows (dim-bounded cumsum + broadcast join
    back). The open and close points come from one unpivot of each
    event. Days remain independently parallel; only their net deltas
    serialize.
    """
    return run_sql(spark, sf_dir, _PEAK_CONC_SQL)


# ---------------------------------------------------------------------------
# Croston intermittent-demand forecast (fold-exact 3-state recurrence)
# ---------------------------------------------------------------------------

# alpha = 1/2 (exact binary fraction) over the dense HOURLY grid: the
# per-type event counts are intermittent at hour granularity (zeros
# dominate), which is the regime Croston exists for — plain exponential
# smoothing biases toward zero there.
_CROSTON_ORACLE = """
WITH hrs AS (
    SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
), span AS (
    SELECT min(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS mn,
           max(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS mx
    FROM events
), grid AS (
    SELECT t.event_type, g.h
    FROM (SELECT DISTINCT event_type FROM events) t
    CROSS JOIN (SELECT unnest(generate_series(mn, mx)) AS h FROM span) g
), dense AS (
    SELECT g.event_type, g.h,
           CAST(coalesce(hrs.cnt, 0) AS DOUBLE) AS x
    FROM grid g LEFT JOIN hrs ON hrs.event_type = g.event_type AND hrs.h = g.h
), s AS (
    SELECT event_type,
           count(*) AS n_hours,
           sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS n_demand,
           list([x, 0.0, 0.0] ORDER BY h) AS v
    FROM dense GROUP BY 1
), f AS (
    -- acc = [z_level, q_interval, gap]; element p carries x in p[1].
    -- Demand hour: z' = x/2 + z/2, q' = (gap+1)/2 + q/2, gap resets.
    -- Idle hour: gap increments, z/q carry. First element IS the init
    -- (x0, 0, 0) — the same degenerate start the Spark fold uses.
    SELECT event_type, n_hours, n_demand,
           list_reduce(v, (acc, p) -> CASE WHEN p[1] > 0 THEN
               [0.5 * p[1] + 0.5 * acc[1],
                0.5 * (acc[3] + 1) + 0.5 * acc[2],
                0.0]
           ELSE [acc[1], acc[2], acc[3] + 1] END) AS zq
    FROM s
)
SELECT event_type,
       CAST(n_hours AS BIGINT) AS n_hours,
       CAST(n_demand AS BIGINT) AS n_demand,
       round(zq[1], 6) + 0.0 AS z_level,
       round(zq[2], 6) + 0.0 AS q_interval,
       round(zq[1] / nullif(zq[2], 0.0), 6) + 0.0 AS demand_rate
FROM f
"""

_CROSTON_FOLD_SPARK = (
    "aggregate(slice(v, 2, size(v) - 1), array(v[0], CAST(0.0 AS DOUBLE),"
    " CAST(0.0 AS DOUBLE)),"
    " (acc, x) -> IF(x > 0D,"
    "   array(0.5D * x + 0.5D * acc[0],"
    "         0.5D * (acc[2] + 1D) + 0.5D * acc[1],"
    "         0D),"
    "   array(acc[0], acc[1], acc[2] + 1D)))"
)


@op("ts_croston", oracle=_CROSTON_ORACLE, tags=("ext", "timeseries", "forecast"))
def ts_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand forecast per event type over the
    dense hourly grid: smoothed demand size z', smoothed inter-demand
    interval q', and the demand rate z'/q' — the forecaster for series
    where most buckets are ZERO (spare parts, rare event types, long-
    tail SKUs), where plain smoothing (win_ewma) and trend models
    (ts_holt_forecast) both bias toward zero because they average over
    the idle buckets instead of modeling them as an interval process.

    Exactness: α = 1/2, so each update is an IEEE-exact halve+add over
    doubles derived from exact integer counts; the recurrence is a
    LEFT FOLD over the hour-ordered dense series with a 3-slot state
    [z, q, gap] (the _HOLT_FOLD_SPARK pair-state discipline extended to
    a branching 3-state — DuckDB's reduce carries [x,0,0] triples so
    acc and element types match). Gap counting and the demand flag are
    integer decisions on exact values.

    Scale: the dense grid is |types| × span-hours (wall-clock bounded,
    enforced by bounded_series); the rollup before it is one hash agg
    on (type, hour) — the grid never scales with |events|.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type", epoch_seconds("ts").alias("te")
    )
    ev = ev.select("event_type", F.expr("te div 3600").alias("h"))
    hrs = ev.groupBy("event_type", "h").agg(F.count("*").alias("cnt"))
    span = ev.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(span)).select(
        "event_type", F.explode(F.expr("sequence(mn, mx)")).alias("h")
    )
    dense = grid.join(hrs, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce(F.col("cnt"), F.lit(0)).cast("double").alias("x"),
    )
    s = dense.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum(F.when(F.col("x") > 0, 1).otherwise(0)).alias("n_demand"),
        F.transform(
            bounded_series(
                F.expr("array_sort(collect_list(struct(h, x)))"),
                what="ts_croston per-type hourly series",
            ),
            lambda p: p.getField("x"),
        ).alias("v"),
    )
    f = s.select(
        "event_type",
        "n_hours",
        "n_demand",
        F.expr(_CROSTON_FOLD_SPARK).alias("zq"),
    )
    return f.select(
        "event_type",
        F.col("n_hours").cast("bigint").alias("n_hours"),
        F.col("n_demand").cast("bigint").alias("n_demand"),
        (F.round(F.col("zq")[0], 6) + F.lit(0.0)).alias("z_level"),
        (F.round(F.col("zq")[1], 6) + F.lit(0.0)).alias("q_interval"),
        (F.round(F.col("zq")[0] / F.nullif(F.col("zq")[1], F.lit(0.0)), 6) + F.lit(0.0)).alias(
            "demand_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Day-of-week multiplicative effects (weekly seasonality screen)
# ---------------------------------------------------------------------------

_DOW_ORACLE = """
WITH base AS (
    SELECT event_type,
           CAST(strftime(ts, '%w') AS BIGINT) AS dow,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events
), d AS (
    SELECT event_type, dow, count(*) AS n, sum(cents) AS s
    FROM base GROUP BY 1, 2
)
SELECT event_type, CAST(dow AS BIGINT) AS dow,
       CAST(n AS BIGINT) AS n,
       CAST(s * sum(n) OVER (PARTITION BY event_type) * 10000
            // (n * sum(s) OVER (PARTITION BY event_type)) AS BIGINT)
           AS effect_bp
FROM d
"""


@op("ts_dow_effects", oracle=_DOW_ORACLE, tags=("ext", "timeseries", "stats"))
def ts_dow_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week multiplicative effects per event type: mean revenue
    on each weekday relative to the type's overall mean, as a
    cross-multiplied integral ratio (10000 = no effect) — the WEEKLY
    seasonality row that completes the calendar set (ts_seasonal_index
    profiles hour-of-day; deseasonalized anomaly screens divide by it;
    weekend-vs-weekday structure lives at neither granularity).

    Exact: dow is integer (0 = Sunday on both engines: DuckDB
    strftime('%w'), Spark dayofweek−1); the effect is
    (Σ_dow cents · n_type) · 10⁴ div (n_dow · Σ_type cents) — one
    integral division, no float means.

    Scale: one scan → (type, dow) hash agg (≤ 7·|types| cells), totals
    as windows over the cell frame — one scan, no join at all.
    """
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    d = base.groupBy("event_type", "dow").agg(
        F.count("*").alias("n"), F.sum("cents").alias("s")
    )
    # type totals as windows over the <=7x|types| cell frame — one scan,
    # no self-join, the exchange on event_type is dim-bounded
    return d.select(
        "event_type",
        F.col("dow").cast("bigint").alias("dow"),
        F.col("n").cast("bigint").alias("n"),
        F.expr(
            # decimal widening: cents x row-count x 10^4 overflows int64
            # at scale; DuckDB's sum() already rides HUGEINT
            "CAST(s AS DECIMAL(38,0)) * sum(n) OVER (PARTITION BY event_type)"
            " * 10000 div (CAST(n AS DECIMAL(38,0))"
            " * sum(CAST(s AS DECIMAL(38,0))) OVER (PARTITION BY event_type))"
        )
        .cast("bigint")
        .alias("effect_bp"),
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust trend (median of pairwise slopes, bounded series)
# ---------------------------------------------------------------------------

_THEIL_SEN_ORACLE = """
WITH d AS (
    SELECT event_type,
           CAST(date_diff('day', DATE '1970-01-01',
                          CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS di,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
    FROM events GROUP BY 1, 2
), pr AS (
    SELECT a.event_type,
           CAST(b.cents - a.cents AS DOUBLE) / (b.di - a.di) AS slope,
           a.di AS d1, b.di AS d2,
           row_number() OVER (
               PARTITION BY a.event_type
               ORDER BY CAST(b.cents - a.cents AS DOUBLE) / (b.di - a.di),
                        a.di, b.di
           ) AS rk,
           count(*) OVER (PARTITION BY a.event_type) AS np
    FROM d a JOIN d b ON a.event_type = b.event_type AND a.di < b.di
), agg AS (
    SELECT event_type, max(np) AS n_pairs,
           min(CASE WHEN rk = (np + 1) // 2 THEN slope END) AS sen
    FROM pr GROUP BY event_type
), nd AS (SELECT event_type, count(*) AS n_days FROM d GROUP BY 1)
SELECT a.event_type,
       CAST(nd.n_days AS BIGINT) AS n_days,
       CAST(a.n_pairs AS BIGINT) AS n_pairs,
       round(a.sen, 6) + 0.0 AS sen_slope_cents_per_day
FROM agg a JOIN nd USING (event_type)
"""


@op("ts_theil_sen", oracle=_THEIL_SEN_ORACLE, tags=("ext", "timeseries", "stats"))
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type: the MEDIAN of all pairwise
    day-slopes of the daily-revenue series — a 29%-breakdown trend
    estimate that one promo spike cannot bend, where the least-squares
    line (agg_linreg_trend) moves with every outlier; comparing the two
    slopes' signs is the standard 'is this trend real' cross-check.

    Exact: slopes are double divisions of exact integer cent/day deltas
    (identical inputs → identical IEEE doubles both engines); the
    median is a rank-indexed pick on the (slope, day_i, day_j) total
    order — the stats_trimmed_mean discipline — and only the final
    round(·,6) touches presentation.

    Scale: the pair frame is |days|² PER TYPE over the bounded daily
    rollup (30-90 days → ≤ ~8k pairs/type; the quadratic is in the
    DIMENSION, not the data — the dedup_eval_tiers bounded-quadratic
    contract). The rank window exchanges once on the type key.
    """
    ev = load(spark, sf_dir, "events")
    d = (
        ev.select(
            "event_type",
            F.datediff(F.date_trunc("day", F.col("ts")).cast("date"),
                       F.lit("1970-01-01").cast("date")).cast("bigint").alias("di"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
        )
        .groupBy("event_type", "di")
        .agg(F.sum("c").alias("cents"))
        # the bounded |types|x|days| rollup feeds three consumers (both
        # pair sides + the day count): materialize it once so events
        # scans ONCE, not three times (plan-asserted)
        .localCheckpoint(eager=True)
    )
    a = d.select("event_type", F.col("di").alias("d1"), F.col("cents").alias("c1"))
    b = d.select("event_type", F.col("di").alias("d2"), F.col("cents").alias("c2"))
    slope = (F.col("c2") - F.col("c1")).cast("double") / (F.col("d2") - F.col("d1"))
    pr = (
        a.join(b, "event_type")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "event_type",
            slope.alias("slope"),
            "d1",
            "d2",
            F.row_number()
            .over(
                Window.partitionBy("event_type").orderBy(
                    slope.asc(), F.col("d1").asc(), F.col("d2").asc()
                )
            )
            .alias("rk"),
            F.count("*").over(Window.partitionBy("event_type")).alias("np"),
        )
    )
    agg = pr.groupBy("event_type").agg(
        F.max("np").alias("n_pairs"),
        F.min(F.when(F.col("rk") == F.expr("(np + 1) div 2"), F.col("slope"))).alias("sen"),
    )
    nd = d.groupBy("event_type").agg(F.count("*").alias("n_days"))
    return (
        agg.join(F.broadcast(nd), "event_type")
        .select(
            "event_type",
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            (F.round(F.col("sen"), 6) + F.lit(0.0)).alias("sen_slope_cents_per_day"),
        )
    )


# ---------------------------------------------------------------------------
# Holt backtest (holdout-last-3 forecast accuracy)
# ---------------------------------------------------------------------------

_BACKTEST_H = 3

_BACKTEST_ORACLE = f"""
WITH d AS (
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
    FROM events GROUP BY 1, 2
), s AS (
    SELECT event_type,
           count(*) AS n_days,
           list([CAST(cents AS DOUBLE), 0.0] ORDER BY day) AS v
    FROM d GROUP BY 1
), f AS (
    SELECT event_type, n_days, v,
           list_reduce(list_slice(v, 1, n_days - {_BACKTEST_H}), (acc, p) -> [
               0.5 * p[1] + 0.5 * (acc[1] + acc[2]),
               0.5 * ((0.5 * p[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
                 + 0.5 * acc[2]
           ]) AS lb
    FROM s WHERE n_days > {_BACKTEST_H + 1}
), h AS (
    SELECT event_type, n_days, hz,
           lb[1] + hz * lb[2] AS fc,
           v[n_days - {_BACKTEST_H} + hz][1] AS actual
    FROM f CROSS JOIN (SELECT unnest(range(1, {_BACKTEST_H + 1})) AS hz)
)
SELECT event_type,
       CAST(hz AS BIGINT) AS horizon,
       round(fc, 6) + 0.0 AS forecast_cents,
       round(actual, 6) + 0.0 AS actual_cents,
       CAST(floor(abs(fc - actual) * 10000 / nullif(abs(actual), 0.0))
            AS BIGINT) AS ape_bp
FROM h
"""


@op(
    "ts_forecast_backtest",
    oracle=_BACKTEST_ORACLE,
    tags=("ext", "timeseries", "forecast"),
)
def ts_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout backtest of the Holt forecaster: re-fit on the series
    MINUS its last 3 days, forecast those days, and report per-horizon
    absolute percentage error in basis points — the accountability step
    that turns ts_holt_forecast from 'a forecast' into 'a forecast with
    a measured error bar'. No forecasting op should ship without its
    backtest twin; this is that twin, and the per-horizon APE is the
    number a capacity planner multiplies headroom by.

    Exact: the SAME alpha=1/2 IEEE-exact fold as ts_holt_forecast, run
    on the array SLICE (train split = a list operation, not a second
    scan); actuals are array picks; the APE ratio is one fixed float
    expression floored to integral bp.

    Scale: identical to ts_holt_forecast — one bounded daily rollup,
    one per-series fold; the 3 horizons explode from a literal range.
    """
    d = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("cents"))
    )
    s = d.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.transform(
            bounded_series(
                F.expr("array_sort(collect_list(struct(day, cents)))"),
                what="ts_forecast_backtest per-type day series",
            ),
            lambda p: p.getField("cents").cast("double"),
        ).alias("v"),
    ).filter(F.col("n_days") > _BACKTEST_H + 1)
    fold = (
        f"aggregate(slice(slice(v, 1, n_days - {_BACKTEST_H}), 2,"
        f" n_days - {_BACKTEST_H} - 1), array(v[0], CAST(0.0 AS DOUBLE)),"
        " (acc, x) -> array("
        "   0.5D * x + 0.5D * (acc[0] + acc[1]),"
        "   0.5D * ((0.5D * x + 0.5D * (acc[0] + acc[1])) - acc[0])"
        "     + 0.5D * acc[1]))"
    )
    f = s.select("event_type", "n_days", "v", F.expr(fold).alias("lb"))
    h = f.select(
        "event_type",
        "n_days",
        "v",
        "lb",
        F.explode(F.array(*[F.lit(i) for i in range(1, _BACKTEST_H + 1)])).alias("hz"),
    ).select(
        "event_type",
        "hz",
        (F.col("lb")[0] + F.col("hz") * F.col("lb")[1]).alias("fc"),
        F.expr(f"v[n_days - {_BACKTEST_H} + hz - 1]").alias("actual"),
    )
    return h.select(
        "event_type",
        F.col("hz").cast("bigint").alias("horizon"),
        (F.round(F.col("fc"), 6) + F.lit(0.0)).alias("forecast_cents"),
        (F.round(F.col("actual"), 6) + F.lit(0.0)).alias("actual_cents"),
        F.floor(
            F.abs(F.col("fc") - F.col("actual")) * 10000
            / F.nullif(F.abs(F.col("actual")), F.lit(0.0))
        )
        .cast("bigint")
        .alias("ape_bp"),
    )


# ---------------------------------------------------------------------------
# Fixed-period periodogram (integer-exact spectral screen)
# ---------------------------------------------------------------------------

_PGRAM_PERIODS = (24, 12, 6)  # hours: diurnal + its first two harmonics


def _pgram_tables() -> dict[int, tuple[list[int], list[int]]]:
    """Per period P: the 1e6-quantized cos/sin tables over phase m=0..P-1.

    Generated ONCE here and embedded as literals in BOTH the Spark
    expression and the DuckDB oracle — the engines never call their own
    libm trig (whose last-ulp behavior differs); every per-term product
    is exact-integer × exact-integer."""
    import math

    out = {}
    for p in _PGRAM_PERIODS:
        qc = [math.floor(math.cos(2 * math.pi * m / p) * 1e6 + 0.5) for m in range(p)]
        qs = [math.floor(math.sin(2 * math.pi * m / p) * 1e6 + 0.5) for m in range(p)]
        out[p] = (qc, qs)
    return out


def _pgram_oracle() -> str:
    tabs = _pgram_tables()
    per_p = []
    for p, (qc, qs) in tabs.items():
        per_p.append(
            f"SELECT {p} AS period_h, [{', '.join(map(str, qc))}] AS qc,"
            f" [{', '.join(map(str, qs))}] AS qs"
        )
    return f"""
WITH hrs AS (
    SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
), span AS (
    SELECT min(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS mn,
           max(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS mx
    FROM events
), grid AS (
    SELECT t.event_type, g.h
    FROM (SELECT DISTINCT event_type FROM events) t
    CROSS JOIN (SELECT unnest(generate_series(mn, mx)) AS h FROM span) g
), dense AS (
    SELECT g.event_type, g.h, coalesce(hrs.cnt, 0) AS c
    FROM grid g LEFT JOIN hrs ON hrs.event_type = g.event_type AND hrs.h = g.h
), tot AS (
    SELECT event_type, count(*) AS n, sum(c) AS s FROM dense GROUP BY 1
), tabs AS ({' UNION ALL '.join(per_p)}),
ab AS (
    SELECT d.event_type, p.period_h,
           sum((t.n * d.c - t.s) * p.qc[CAST(d.h % p.period_h AS INTEGER) + 1]) AS a,
           sum((t.n * d.c - t.s) * p.qs[CAST(d.h % p.period_h AS INTEGER) + 1]) AS b,
           max(t.n) AS n
    FROM dense d
    JOIN tot t USING (event_type)
    CROSS JOIN tabs p
    GROUP BY 1, 2
)
SELECT event_type, CAST(period_h AS BIGINT) AS period_h,
       CAST(a // (n * n // 2) AS BIGINT) AS amp_cos_u,
       CAST(b // (n * n // 2) AS BIGINT) AS amp_sin_u,
       round((CAST(a // (n * n // 2) AS DOUBLE) * CAST(a // (n * n // 2) AS DOUBLE)
            + CAST(b // (n * n // 2) AS DOUBLE) * CAST(b // (n * n // 2) AS DOUBLE))
             / 1e12, 4) + 0.0 AS power_c2
FROM ab
"""


@op("ts_periodogram_fixed", oracle=_pgram_oracle(), tags=("ext", "timeseries", "stats"))
def ts_periodogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-period periodogram over the dense hourly count grid: for
    each event type and candidate period P ∈ {24, 12, 6} hours, the
    mean-removed Fourier amplitudes at frequency 1/P and their power —
    the spectral screen that says WHICH cycle dominates, where
    ts_seasonal_index (given the 24 h hypothesis) profiles its shape
    and ts_dow_effects asks the weekly question. A flat series scores
    ~0 everywhere; a diurnal one scores high at 24 and its harmonics.

    Exact: the trig tables are 1e6-quantized literals generated once
    and shared verbatim by both engines (no libm in either plan); the
    mean is removed by cross-multiplication (n·c − S — never a float
    mean); A and B are order-free integer sums (decimal(38,0) /
    HUGEINT); amplitudes are integral divisions and the power is one
    fixed float expression over those two exact integers.

    Scale: the dense grid is |types| × span-hours (dim-bounded — the
    croston grid); one hash agg per (type, period) after a phase-table
    broadcast. Nothing corpus-sized shuffles.
    """
    tabs = _pgram_tables()
    ev = load(spark, sf_dir, "events").select(
        "event_type", epoch_div("ts", 3600).alias("h")
    )
    hrs = ev.groupBy("event_type", "h").agg(F.count("*").alias("cnt"))
    # hour span from the fingerprint-cached epoch-span probe (VERDICT
    # r13 #4): hour = epoch div 3600 is monotone on the non-negative
    # fixture epochs, so min/max commute with the division — no extra
    # events scan for the grid bounds.
    mn_e, mx_e = events_epoch_span(spark, sf_dir)
    mn_h, mx_h = mn_e // 3600, mx_e // 3600
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                hrs.sparkSession.range(mn_h, mx_h + 1).select(
                    F.col("id").alias("h")
                )
            )
        )
    )
    dense = grid.join(hrs, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("cnt", F.lit(0)).alias("c")
    )
    tot = dense.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("c").alias("s")
    )
    # Single-parse literal bank (OPTIMIZATION_r14 driver-side rule; see
    # ts_spectral_entropy) — equivalent literal for literal.
    structs = ", ".join(
        f"struct({p} as period_h, "
        f"array({', '.join(str(v) for v in qc)}) as qc, "
        f"array({', '.join(str(v) for v in qs)}) as qs)"
        for p, (qc, qs) in tabs.items()
    )
    ptab = dense.sparkSession.range(1).select(
        F.explode(F.expr(f"array({structs})")).alias("t")
    ).select("t.period_h", "t.qc", "t.qs")
    dev = (F.col("n") * F.col("c") - F.col("s")).cast("decimal(38,0)")
    m1 = (F.col("h") % F.col("period_h")).cast("int") + 1
    ab = (
        dense.join(tot, "event_type")
        .crossJoin(F.broadcast(ptab))
        .groupBy("event_type", "period_h")
        .agg(
            F.sum(dev * F.element_at("qc", m1).cast("decimal(38,0)")).alias("a"),
            F.sum(dev * F.element_at("qs", m1).cast("decimal(38,0)")).alias("b"),
            F.max("n").alias("n"),
        )
    )
    amp_c = F.expr("CAST(a AS DECIMAL(38,0)) div CAST(n * n div 2 AS DECIMAL(38,0))")
    amp_s = F.expr("CAST(b AS DECIMAL(38,0)) div CAST(n * n div 2 AS DECIMAL(38,0))")
    return ab.select(
        "event_type",
        F.col("period_h").cast("bigint").alias("period_h"),
        amp_c.cast("bigint").alias("amp_cos_u"),
        amp_s.cast("bigint").alias("amp_sin_u"),
        (
            F.round(
                (
                    amp_c.cast("double") * amp_c.cast("double")
                    + amp_s.cast("double") * amp_s.cast("double")
                )
                / F.lit(1e12),
                4,
            )
            + F.lit(0.0)
        ).alias("power_c2"),
    )


# ---------------------------------------------------------------------------
# Inter-event gap profile (rank-exact percentiles)
# ---------------------------------------------------------------------------

_GAPS_SQL = """
WITH t AS (
    SELECT event_type, {te} AS te, event_id FROM {events}
), g AS (
    SELECT event_type,
           te - lag(te) OVER (PARTITION BY event_type
                              ORDER BY te, event_id) AS gap
    FROM t
), r AS (
    SELECT event_type, gap,
           row_number() OVER (PARTITION BY event_type ORDER BY gap) AS rk,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM g WHERE gap IS NOT NULL
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_gaps,
       CAST(min(gap) AS BIGINT) AS min_gap_s,
       CAST(max(gap) AS BIGINT) AS max_gap_s,
       CAST(max(CASE WHEN rk = (n + 1) // 2 THEN gap END) AS BIGINT)
           AS median_gap_s,
       CAST(max(CASE WHEN rk = (n * 9 + 9) // 10 THEN gap END) AS BIGINT)
           AS p90_gap_s
FROM r GROUP BY event_type
"""


@op("ts_event_gaps", oracle=duckdb_sql(_GAPS_SQL), tags=("ext", "timeseries", "stats"))
def ts_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap profile per event type: count, min, max, and
    rank-exact median/p90 of the seconds between consecutive events —
    the arrival-process table that sizes stream watermarks
    (stats_event_lateness measures disorder; this measures sparsity),
    detects feed outages (max gap ≫ p90), and calibrates session
    timeouts (win_sessionize's 30-min constant should dominate p90).
    pipeline_interpurchase_time asks this of ORDER dates per customer;
    this asks it of the raw event stream per type.

    Exact: gaps are integer epoch-second differences over the
    (te, event_id) total order; percentiles are VALUES AT RANKS (lower
    median at (n+1) div 2, p90 at ceil(0.9 n)) — the value at a rank is
    deterministic regardless of how ties order, and everything is
    integer.

    Scale: ONE window pass per series (single (event_type) exchange —
    the ts_autocorr shape) plus a rank window over the same partitioning
    (no second exchange: same key) and a |types|-key agg.
    """
    return run_sql(spark, sf_dir, _GAPS_SQL)


# ---------------------------------------------------------------------------
# Mann-Kendall trend test (the TEST to ts_theil_sen's estimator)
# ---------------------------------------------------------------------------

# The verdict compares the ROUNDED z against the two-sided 5% normal
# critical value 1.959964.
_MK_SQL = """
WITH daily AS (
    SELECT event_type, {te} // 86400 AS d,
           sum(CAST(floor(value * 100 + 0.5e0) AS BIGINT)) AS c
    FROM {events} GROUP BY 1, 2
), pairs AS (
    SELECT a.event_type,
           CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sg
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.d < b.d
), s AS (
    SELECT event_type, sum(sg) AS s_stat FROM pairs GROUP BY event_type
), n AS (
    SELECT event_type, count(*) AS nd FROM daily GROUP BY event_type
), ties AS (
    SELECT event_type, sum(t * (t - 1) * (2 * t + 5)) AS tie_adj
    FROM (SELECT event_type, c, count(*) AS t FROM daily GROUP BY 1, 2) tc
    GROUP BY event_type
), v AS (
    SELECT event_type, nd, s_stat,
           nd * (nd - 1) * (2 * nd + 5) - coalesce(tie_adj, 0) AS var18
    FROM n JOIN s USING (event_type) LEFT JOIN ties USING (event_type)
), z AS (
    SELECT event_type, nd, s_stat, var18,
           CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                ELSE 0e0 END
           / nullif(sqrt(CAST(var18 AS DOUBLE) / 18), 0e0) AS zval
    FROM v
)
SELECT event_type,
       CAST(nd AS BIGINT) AS n_days,
       CAST(s_stat AS BIGINT) AS s_stat,
       CAST(var18 AS BIGINT) AS var_s_x18,
       round(zval, 6) + 0e0 AS z_stat,
       abs(round(zval, 6)) > 1.959964e0 AS reject_no_trend
FROM z
"""


@op("ts_mann_kendall", oracle=duckdb_sql(_MK_SQL), tags=("ext", "timeseries", "stats"))
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend TEST per event type over the daily
    revenue series: S = Σ sign(later − earlier) over all day pairs, the
    tie-corrected variance, and the 5% normal verdict — the hypothesis
    test to ts_theil_sen's slope ESTIMATOR (the pair in which trend
    results are actually reported: MK says WHETHER, Theil-Sen says HOW
    MUCH; both are rank-based, so one outlier day moves neither).

    Exact: daily cents are integer sums; every pair sign is an integer
    comparison; S, n, and the ×18-scaled tie-corrected variance are
    exact integers; z is one fixed float expression (with the standard
    ±1 continuity correction) rounded before the fixed critical-value
    comparison.

    Scale: the pair frame is |days|²-per-type over the dim-bounded
    daily rollup (the ts_theil_sen budget — |days| is a calendar
    dimension, not a data dimension); everything corpus-sized stops at
    the first (type, day) hash agg.
    """
    return run_sql(spark, sf_dir, _MK_SQL)


# ---------------------------------------------------------------------------
# Value-at-risk / expected shortfall of the daily revenue (rank-exact)
# ---------------------------------------------------------------------------

_VAR_SQL = """
WITH daily AS (
    SELECT event_type, {te} // 86400 AS d,
           sum(CAST(floor(value * 100 + 0.5e0) AS BIGINT)) AS c
    FROM {events} GROUP BY 1, 2
), r AS (
    SELECT event_type, c,
           row_number() OVER (PARTITION BY event_type ORDER BY c, d) AS rk,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM daily
), k AS (
    SELECT event_type, c, rk, n, greatest(1, (n * 5 + 99) // 100) AS kk
    FROM r
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_days,
       CAST(max(kk) AS BIGINT) AS k_tail,
       CAST(max(CASE WHEN rk = kk THEN c END) AS BIGINT) AS var5_cents,
       CAST(sum(CASE WHEN rk <= kk THEN c ELSE 0 END) // max(kk) AS BIGINT)
           AS es5_cents
FROM k GROUP BY event_type
"""


@op("ts_var_es", oracle=duckdb_sql(_VAR_SQL), tags=("ext", "timeseries", "stats"))
def ts_var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% value-at-risk and expected shortfall of the DAILY revenue per
    event type: the worst-tail day at rank ceil(0.05·n) and the mean of
    the days at or below it — the capacity/budget floor question
    ("how bad is a bad day, and how bad are the bad days on average")
    that win_drawdown (path-dependent peak-to-trough) and
    win_anomaly_zscore (pointwise) don't answer. ES over VaR because ES
    sees HOW far the tail days fall, not just where the cut is.

    Exact: daily cents are integer sums; VaR is a VALUE AT RANK over
    the (c, d) total order; ES is an integral division of the exact
    tail sum by the tail count.

    Scale: dim-bounded daily rollup → one rank window per type (the
    ts_event_gaps shape) → |types| rows out.
    """
    return run_sql(spark, sf_dir, _VAR_SQL)


# ---------------------------------------------------------------------------
# Partial autocorrelation (Durbin-Levinson over the shared ACF moments)
# ---------------------------------------------------------------------------

# rho is _ACF_RHO's standard estimator (the stats_ljung_box
# construction); phi22 and phi33 are the Durbin-Levinson recursions.
_PACF_SQL = "WITH " + _ACF_MOMENTS + _ACF_RHO + """
SELECT event_type,
       round(r1, 6) + 0e0 AS pacf_1,
       round((r2 - r1 * r1) / nullif(1 - r1 * r1, 0e0), 6) + 0e0 AS pacf_2,
       round((r3 - r1 * r2
                 - ((r2 - r1 * r1) / nullif(1 - r1 * r1, 0e0))
                   * (r2 - r1 * r1))
             / nullif(1 - r1 * r1
                 - ((r2 - r1 * r1) / nullif(1 - r1 * r1, 0e0))
                   * (r2 - r1 * r1), 0e0), 6) + 0e0 AS pacf_3
FROM p
"""


@op("ts_pacf", oracle=duckdb_sql(_PACF_SQL), tags=("ext", "timeseries", "stats"))
def ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (lags 1-3) per event-type value series
    via the Durbin-Levinson recursion over the standard ACF estimates —
    the AR-order selector: the ACF of an AR(1) decays forever (every
    lag looks correlated through lag 1), the PACF cuts off sharply at
    the true order, which is the plot an analyst reads before fitting
    anything. Completes the correlation toolkit: ts_autocorr (raw ACF),
    stats_ljung_box (whiteness gate), this (order selection).

    Exact: the same integer lag moments and full-series moments as
    stats_ljung_box (rho is the standard estimator, cross-multiplied by
    n² to stay integral); the Durbin-Levinson φ22/φ33 recursions are
    fixed-shape float expressions over those identical doubles,
    rounded to 6 dp on both engines.

    Scale: one window pass per series + a 15-key agg (the ts_autocorr
    plan) + a |types|-row moment join.
    """
    return run_sql(spark, sf_dir, _PACF_SQL)


# ---------------------------------------------------------------------------
# Outage windows (gap intervals above the feed-break threshold)
# ---------------------------------------------------------------------------

# A 1h (3600 s) silence on any event type is a feed break here.
_OUTAGE_SQL = """
WITH t AS (
    SELECT event_type, {te} AS te, event_id FROM {events}
), g AS (
    SELECT event_type,
           lag(te) OVER (PARTITION BY event_type
                         ORDER BY te, event_id) AS prev_te,
           te
    FROM t
)
SELECT event_type,
       CAST(prev_te AS BIGINT) AS outage_start_epoch,
       CAST(te AS BIGINT) AS outage_end_epoch,
       CAST(te - prev_te AS BIGINT) AS gap_s
FROM g WHERE te - prev_te >= 3600
"""


@op("ts_outage_windows", oracle=duckdb_sql(_OUTAGE_SQL), tags=("ext", "timeseries"))
def ts_outage_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concrete outage intervals per event type: every silence of
    ≥ 1 hour between consecutive events, as (start, end, duration) rows
    — the incident TABLE behind ts_event_gaps' summary statistics (the
    profile says "p90 gap is 40 s, max is 3 h"; this says WHEN the 3 h
    hole was, which is what an on-call review and a backfill job both
    need). The fixed threshold plays the role of the alert rule; the
    gap profile is how it gets tuned.

    Exact: integer epoch seconds over the (te, event_id) total order —
    one lag, one integer filter, no aggregation at all.

    Scale: ONE window pass per series (the ts_event_gaps exchange);
    output is |outages| rows, which is small by definition of the
    threshold.
    """
    return run_sql(spark, sf_dir, _OUTAGE_SQL)


# ---------------------------------------------------------------------------
# Hour-of-week load profile per event type (dow × hour seasonality matrix)
# ---------------------------------------------------------------------------

_HOW_SQL = """
WITH b AS (
    SELECT event_type,
           (({te} // 86400 + 4) % 7) * 24 + ({te} // 3600) % 24 AS how
    FROM {events}
)
SELECT event_type,
       CAST(how AS BIGINT) AS how,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) * 10000 //
            sum(count(*)) OVER (PARTITION BY event_type) AS BIGINT)
           AS share_bp
FROM b GROUP BY 1, 2
"""


@op("ts_hour_of_week_profile", oracle=duckdb_sql(_HOW_SQL), tags=("ext", "timeseries"))
def ts_hour_of_week_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event volume by hour-of-week slot (dow·24 + hour, Monday-anchored
    via the epoch-day + 4 offset: day 0 = 1970-01-01 was a Thursday) per
    event type — the 168-cell seasonality matrix behind capacity
    planning and anomaly baselines. ts_dow_effects aggregates to the 7
    day-of-week cells; real load curves have within-day structure
    (nightly batch vs lunchtime peak) that only the hour grain shows,
    and ts_outage_windows' gap detector needs exactly this matrix to
    distinguish "quiet Sunday 3am" from "outage".

    Exact: day and hour buckets are integer div over epoch seconds;
    dow is integer mod (epoch-positive fixtures; both engines'
    %-on-negatives follow the dividend, so even pre-1970 rows agree);
    shares are integral basis points over a per-type window sum.

    Scale: one scan → (type, how) hash agg with map-side partials →
    a |types|-keyed window over ≤168·|types| aggregated rows. Nothing
    row-scale crosses the second exchange.
    """
    return run_sql(spark, sf_dir, _HOW_SQL)


# ---------------------------------------------------------------------------
# Bollinger-band breakout days per type (trailing window, integer-exact)
# ---------------------------------------------------------------------------

# A 7-day trailing band (full-window rows only): |x - mean| > 2 sd over
# the trailing days, as integer algebra over the window's sums.
_BOLL_SQL = """
WITH d AS (
    SELECT event_type, {te} // 86400 AS day,
           CAST(sum(CAST(floor(value * 100 + 0.5e0) AS BIGINT)) AS {wide}) AS x
    FROM {events} GROUP BY 1, 2
), w AS (
    SELECT event_type, x,
           sum(x) OVER tw AS s,
           sum(x * x) OVER tw AS q,
           count(*) OVER tw AS m
    FROM d
    WINDOW tw AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
), f AS (
    SELECT event_type,
           CASE WHEN m = 7 THEN 1 ELSE 0 END AS eval,
           CASE WHEN m = 7 AND (7 * x - s) > 0
                 AND (7 * x - s) * (7 * x - s) * (7 - 1) > 4 * 7 * (7 * q - s * s)
                THEN 1 ELSE 0 END AS up,
           CASE WHEN m = 7 AND (7 * x - s) < 0
                 AND (7 * x - s) * (7 * x - s) * (7 - 1) > 4 * 7 * (7 * q - s * s)
                THEN 1 ELSE 0 END AS down
    FROM w
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(eval) AS BIGINT) AS n_eval,
       CAST(sum(up) AS BIGINT) AS n_up,
       CAST(sum(down) AS BIGINT) AS n_down
FROM f GROUP BY event_type
"""


@op("ts_bollinger_breakout", oracle=duckdb_sql(_BOLL_SQL), tags=("ext", "ts"))
def ts_bollinger_breakout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breakout counter per event type: a day whose total
    (in cents) leaves the ±2-sample-sd band of the TRAILING 7 observed
    days is a breakout (up or down) — the volatility-scaled alternative
    to win_anomaly_zscore's global z: a $10k day is an anomaly on a
    quiet series and noise on a volatile one, and the trailing window
    (current day EXCLUDED) makes it a genuine out-of-sample detector
    rather than a band that inflates itself on the spike day.

    Exact: |x − μ| > 2s over the trailing n=7 days is algebra over the
    window's integer sums — (n·x − S)²·(n−1) > 4n·(nQ − S²) with
    S = Σx, Q = Σx² — so the comparison is INTEGER on both engines
    (decimal(38,0) here, HUGEINT in DuckDB); no float enters at any
    point, not even a rounded one. Only full 7-day windows count as
    evaluated (m = 7), so series boundaries can't fake calm.

    Scale: one scan → (type, day) hash agg with map-side partials →
    one per-type window over the |types|·|days| daily rows → |types|
    final agg. The window input is day-grain, not event-grain.
    """
    return run_sql(spark, sf_dir, _BOLL_SQL)


# ---------------------------------------------------------------------------
# Day-of-week seasonality strength per type (one-way ANOVA on daily totals)
# ---------------------------------------------------------------------------

# F(k-1, inf) 5% critical values = chi2(k-1, .95)/(k-1), k = dows present
_DOW_F_CRIT_CASE = (
    "CASE k WHEN 2 THEN 3.841459e0 WHEN 3 THEN 2.995732e0 WHEN 4 THEN 2.604909e0"
    " WHEN 5 THEN 2.371932e0 WHEN 6 THEN 2.214100e0 ELSE 2.098598e0 END"
)

# fixed 7-column dow pivot: the float SSB is a fixed-SHAPE expression over
# exact integer per-dow moments (order-free), never a float AGGREGATE
_SB_TERMS_SQL = " + ".join(
    f"(CASE WHEN n{i} > 0 THEN CAST(s{i} AS DOUBLE) * s{i} / n{i}"
    f" ELSE 0e0 END)"
    for i in range(7)
)
_N_SUM_SQL = " + ".join(f"n{i}" for i in range(7))
_S_SUM_SQL = " + ".join(f"s{i}" for i in range(7))
_K_SUM_SQL = " + ".join(f"(CASE WHEN n{i} > 0 THEN 1 ELSE 0 END)" for i in range(7))

_SEASON_STRENGTH_SQL = f"""
WITH d AS (
    SELECT event_type, {{te}} // 86400 AS day,
           sum(CAST(floor(value * 100 + 0.5e0) AS BIGINT)) AS x
    FROM {{events}} GROUP BY 1, 2
), g AS (
    SELECT event_type, (day + 4) % 7 AS dow,
           count(*) AS nd,
           sum(CAST(x AS {{wide}})) AS sd,
           sum(CAST(x AS {{wide}}) * x) AS qd
    FROM d GROUP BY 1, 2
), p AS (
    SELECT event_type,
           {", ".join(
               f"coalesce(max(CASE WHEN dow = {i} THEN nd END), 0) AS n{i},"
               f" coalesce(max(CASE WHEN dow = {i} THEN sd END), 0) AS s{i}"
               for i in range(7)
           )},
           sum(qd) AS q
    FROM g GROUP BY event_type
), t AS (
    SELECT event_type,
           {_K_SUM_SQL} AS k,
           {_N_SUM_SQL} AS n,
           {_S_SUM_SQL} AS s,
           q,
           {_SB_TERMS_SQL} AS sb
    FROM p
), f AS (
    SELECT event_type, k, n,
           sb - CAST(s AS DOUBLE) * s / n AS ssb,
           CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n AS sst
    FROM t WHERE k >= 2 AND n > k
), r AS (
    SELECT event_type, k, n,
           round(ssb / nullif(sst, 0e0), 6) AS eta,
           round((ssb / (k - 1)) / nullif((sst - ssb) / (n - k), 0e0), 6) AS fs
    FROM f
)
SELECT event_type,
       CAST(k AS BIGINT) AS n_dows,
       CAST(n AS BIGINT) AS n_days,
       eta + 0e0 AS eta_sq,
       fs + 0e0 AS f_stat,
       fs > {_DOW_F_CRIT_CASE} AS weekly_seasonal
FROM r
"""


@op("ts_seasonality_strength", oracle=duckdb_sql(_SEASON_STRENGTH_SQL), tags=("ext", "ts"))
def ts_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of a series' day-to-day variance the weekly cycle
    explains, per event type: one-way ANOVA of day-of-week on daily
    totals. ts_dow_effects reports the per-weekday multipliers; this is
    the missing effect-size + verdict layer over the same grouping —
    eta² (SSB/SST, the variance share the 7 dow means absorb) and the
    F test against F(k−1, ∞), which is what decides whether a forecast
    or an anomaly baseline should carry a weekly term at all. The k-way
    generalization of the era suite's 2-group tests.

    Exact: daily totals are integer cents; per-(type, dow) moments are
    exact integer aggregates pivoted into a FIXED 7-column layout (the
    era-pivot idiom widened to k groups), so SSB/SST/F are fixed-SHAPE
    float expressions over exact integers — no float ever passes
    through an order-dependent aggregate. Rounded before the
    dof-matched critical-value CASE (chi²(k−1)/(k−1) literals).

    Scale: one scan → (type, day) hash agg → (type, dow) hash agg
    (≤7 rows per type) → |types| pivot. All partial-combined; nothing
    beyond the daily grain crosses an exchange.
    """
    return run_sql(spark, sf_dir, _SEASON_STRENGTH_SQL)


# ---------------------------------------------------------------------------
# Index of dispersion of daily event counts per type (burstiness classifier)
# ---------------------------------------------------------------------------

# 1.644854 is the one-sided normal 5% value for the chi2(n-1)/(n-1)
# large-sample approximation.
_DISPERSION_SQL = """
WITH d AS (
    SELECT event_type, {te} // 86400 AS day, count(*) AS c
    FROM {events} GROUP BY 1, 2
), m AS (
    SELECT event_type, count(*) AS n, sum(c) AS s, sum(c * c) AS q
    FROM d GROUP BY event_type HAVING count(*) >= 2 AND sum(c) > 0
), v AS (
    SELECT event_type, n, s,
           (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)
           / (CAST(s AS DOUBLE) / n) AS disp
    FROM m
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       round(CAST(s AS DOUBLE) / n, 4) + 0e0 AS mean_per_day,
       round(disp, 6) + 0e0 AS dispersion_index,
       round(disp, 6) > 1 + 1.644854e0 * sqrt(2e0 / (n - 1)) AS overdispersed
FROM v
"""


@op("ts_dispersion_index", oracle=duckdb_sql(_DISPERSION_SQL), tags=("ext", "ts"))
def ts_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (variance-to-mean ratio) of DAILY EVENT
    COUNTS per type — the one-number burstiness classifier: a Poisson
    arrival stream has D ≈ 1; D ≫ 1 means bursty/clumped arrivals
    (campaigns, incidents, batch jobs), D ≪ 1 means something is
    rate-limiting the stream. Sits upstream of the alerting ops:
    win_anomaly_zscore assumes roughly stable noise, and knowing D
    tells you whether a Poisson or a negative-binomial baseline is the
    right null for a count series.

    Exact: daily counts and their moments (n, Σc, Σc²) are exact
    integer aggregates; D is one fixed-shape float expression, rounded
    before the verdict. The verdict threshold is the large-sample
    normal approximation of the chi-square index-of-dispersion test —
    (n−1)·D ~ chi²(n−1) under Poisson, so D > 1 + z·√(2/(n−1)) at
    one-sided 5% (stated approximation, identical shape both engines).

    Scale: one scan → (type, day) hash agg → |types| moment agg, all
    partial-combined.
    """
    return run_sql(spark, sf_dir, _DISPERSION_SQL)


# ---------------------------------------------------------------------------
# Seasonal-naive vs naive-1 forecast error per type (which baseline to beat)
# ---------------------------------------------------------------------------

# Day-VALUE lags as degenerate RANGE frames ([day-1, day-1] and
# [day-7, day-7]) over ONE window pass: one exchange, one sort, no
# triple re-aggregation of the daily frame (the self-join form scanned
# events three times), and gaps still can't misalign — an absent lag
# day is an empty frame, i.e. NULL, filtered like the inner join it
# replaces.
_SNAIVE_SQL = """
WITH d AS (
    SELECT event_type, {te} // 86400 AS day,
           sum(CAST(floor(value * 100 + 0.5e0) AS BIGINT)) AS x
    FROM {events} GROUP BY 1, 2
), l AS (
    SELECT event_type, x,
           max(x) OVER (PARTITION BY event_type ORDER BY day
                        RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS x1,
           max(x) OVER (PARTITION BY event_type ORDER BY day
                        RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS x7
    FROM d
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(abs(x - x1)) * 10000 // sum(x) AS BIGINT) AS wmape_naive1_bp,
       CAST(sum(abs(x - x7)) * 10000 // sum(x) AS BIGINT) AS wmape_naive7_bp,
       sum(abs(x - x7)) < sum(abs(x - x1)) AS weekly_naive_wins
FROM l WHERE x1 IS NOT NULL AND x7 IS NOT NULL
GROUP BY event_type HAVING sum(x) > 0
"""


@op("ts_seasonal_naive_error", oracle=duckdb_sql(_SNAIVE_SQL), tags=("ext", "ts"))
def ts_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two baselines every forecast must beat, scored against each
    other per type: naive-1 (tomorrow = today) vs seasonal-naive-7
    (tomorrow = same weekday last week), as weighted MAPE over the days
    where BOTH predictions exist. If the weekly naive wins, the series
    has exploitable weekly structure (ts_seasonality_strength's eta²
    says how much; this says whether it beats plain persistence) and
    ts_holt_forecast/ts_forecast_backtest should carry a seasonal term;
    if naive-1 wins, level persistence dominates and a seasonal model
    is fitting noise. WMAPE is the revenue-weighted error — the
    forecast-review convention that keeps quiet days from dominating.

    Exact: daily cents totals, integer absolute-error sums, integral
    basis-point division, integer comparison for the verdict — nothing
    floats. Predictions index by DAY VALUE (RANGE frames at day−1 and
    day−7), not row offsets, so observation gaps can't silently
    misalign the lags.

    Scale: one scan → (type, day) hash agg → ONE per-type window pass
    (both lags are degenerate RANGE frames over the same ordering) →
    |types| rollup with map-side partials. One exchange end-to-end
    after the daily agg; the events scan happens once.
    """
    return run_sql(spark, sf_dir, _SNAIVE_SQL)


# ---------------------------------------------------------------------------
# Turning-point randomness test per type (is the daily series serially
# dependent at all?)
# ---------------------------------------------------------------------------

# The verdict compares the ROUNDED z against the two-sided 5% normal
# critical value 1.959964; n counts the two end days.
_TP_SQL = """
WITH d AS (
    SELECT event_type, {te} // 86400 AS day,
           sum(CAST(floor(value * 100 + 0.5e0) AS BIGINT)) AS x
    FROM {events} GROUP BY 1, 2
), l AS (
    SELECT event_type, x,
           lag(x)  OVER (PARTITION BY event_type ORDER BY day) AS xp,
           lead(x) OVER (PARTITION BY event_type ORDER BY day) AS xn
    FROM d
), t AS (
    SELECT event_type,
           count(*) + 2 AS n,
           sum(CASE WHEN (x > xp AND x > xn) OR (x < xp AND x < xn)
                    THEN 1 ELSE 0 END) AS tp
    FROM l WHERE xp IS NOT NULL AND xn IS NOT NULL
    GROUP BY event_type HAVING count(*) + 2 >= 15
), f AS (
    SELECT event_type, n, tp,
           (tp - 2e0 * (n - 2) / 3) / sqrt((16e0 * n - 29) / 90) AS z
    FROM t
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       CAST(tp AS BIGINT) AS n_turning,
       round(2e0 * (n - 2) / 3, 4) + 0e0 AS expected_turning,
       round(z, 6) + 0e0 AS z,
       abs(round(z, 6)) > 1.959964e0 AS reject_random
FROM f
"""


@op("ts_turning_points", oracle=duckdb_sql(_TP_SQL), tags=("ext", "timeseries", "stats"))
def ts_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point test of the daily cents series per type — the
    cheapest omnibus randomness screen: an i.i.d. series has E[T] =
    2(n−2)/3 interior local extrema; too FEW turning points means trend
    or strong positive autocorrelation (smooth drifts — what
    ts_mann_kendall then quantifies), too MANY means alternation /
    negative autocorrelation (overcorrecting control loops). Sits in
    front of the ACF tier the way jarque_bera sits in front of the
    parametric era tests.

    Exact: daily cents totals are exact integers; a turning point is a
    strict two-sided sign condition on integer lag/lead comparisons
    (plateau ties count as NOT turning — stated); T and n are exact
    integer aggregates and z = (T − 2(n−2)/3)/√((16n−29)/90) is one
    fixed-shape float expression, rounded before the 5% literal.
    Support floor n ≥ 15 (13 interior points), stated.

    Scale: one scan → (type, day) hash agg → one per-type day window
    (|days|-bounded partitions) → |types| rows.
    """
    return run_sql(spark, sf_dir, _TP_SQL)


# ---------------------------------------------------------------------------
# Burstiness of inter-event gaps per type (periodic ↔ Poisson ↔ bursty)
# ---------------------------------------------------------------------------

# |B| below 0.1 reads as Poisson-like (stated convention).
_BURSTINESS_SQL = """
WITH g AS (
    SELECT event_type,
           te - lag(te) OVER (PARTITION BY event_type ORDER BY te, event_id) AS gap
    FROM (SELECT event_type, event_id, {te} AS te FROM {events})
), m AS (
    SELECT event_type, count(*) AS n,
           sum(CAST(gap AS {wide})) AS s,
           sum(CAST(gap AS {wide}) * gap) AS q
    FROM g WHERE gap IS NOT NULL
    GROUP BY event_type HAVING count(*) >= 2 AND sum(CAST(gap AS {wide})) > 0
), f AS (
    SELECT event_type, n,
           CAST(s AS DOUBLE) / n AS mu,
           sqrt(greatest(CAST(q AS DOUBLE) / n
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n / n, 0e0)) AS sd
    FROM m
), b AS (
    SELECT event_type, n, mu, sd, round((sd - mu) / (sd + mu), 6) AS burst FROM f
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_gaps,
       round(mu, 4) + 0e0 AS mean_gap_s,
       round(sd / mu, 6) + 0e0 AS cv,
       burst + 0e0 AS burstiness,
       CASE WHEN burst >= 0.1e0 THEN 'bursty'
            WHEN burst <= -0.1e0 THEN 'regular'
            ELSE 'poisson_like' END AS regime
FROM b
"""


@op("ts_burstiness", oracle=duckdb_sql(_BURSTINESS_SQL), tags=("ext", "timeseries"))
def ts_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness B = (σ−μ)/(σ+μ) of INTER-EVENT gaps per
    type — the arrival-process fingerprint at the single-event grain
    that ts_dispersion_index reads at the daily grain: B → −1 is a
    metronome (schedulers, heartbeats), B ≈ 0 memoryless Poisson,
    B → 1 heavy-tailed bursts (human activity, incident storms). The
    regime decides streaming provisioning: watermark slack and state
    sizing follow peak-to-mean, which is exactly what B prices.

    Exact: gaps are integer second differences under the (te,
    event_id) total order; moments (n, Σg, Σg²) are exact
    HUGEINT/decimal aggregates (population σ — stated); B and CV are
    one fixed-shape float expression, rounded before the ±0.1 regime
    bands (stated convention).

    Scale: one scan → per-type lag window (one exchange) → |types|-row
    hash agg with map-side partials.
    """
    return run_sql(spark, sf_dir, _BURSTINESS_SQL)


# ---------------------------------------------------------------------------
# Lagged cross-correlation between type pairs (who leads whom, by how much)
# ---------------------------------------------------------------------------

_CCF_MAX_LAG = 3  # days; output is |types|²·(lags+1) — dim-bounded

_CCF_ORACLE = f"""
WITH d AS (
    SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
           count(*) AS c
    FROM events GROUP BY 1, 2
), span AS (
    SELECT max(day) - min(day) + 1 AS dd FROM d
), t AS (
    SELECT event_type,
           sum(CAST(c AS HUGEINT)) AS s,
           sum(CAST(c AS HUGEINT) * c) AS q
    FROM d GROUP BY 1
), lags AS (SELECT unnest(generate_series(0, {_CCF_MAX_LAG})) AS lag),
ab AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
           sum(CAST(a.c AS HUGEINT) * b.c) AS sab
    FROM d a
    CROSS JOIN lags l
    JOIN d b ON b.event_type <> a.event_type AND b.day = a.day + l.lag
    GROUP BY 1, 2, 3
), f AS (
    SELECT ab.type_a, ab.type_b, ab.lag, sp.dd,
           (CAST(sp.dd AS DOUBLE) * ab.sab - CAST(ta.s AS DOUBLE) * tb.s)
           / nullif(sqrt((CAST(sp.dd AS DOUBLE) * ta.q - CAST(ta.s AS DOUBLE) * ta.s)
                       * (CAST(sp.dd AS DOUBLE) * tb.q - CAST(tb.s AS DOUBLE) * tb.s)),
                    0.0) AS r
    FROM ab
    JOIN t ta ON ta.event_type = ab.type_a
    JOIN t tb ON tb.event_type = ab.type_b
    CROSS JOIN span sp
)
SELECT type_a, type_b, CAST(lag AS BIGINT) AS lag_days,
       CAST(dd AS BIGINT) AS n_grid_days,
       round(r, 6) + 0.0 AS ccf
FROM f
"""


@op("ts_cross_correlation", oracle=_CCF_ORACLE, tags=("ext", "timeseries", "stats"))
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation of DAILY COUNTS between every ordered
    type pair at lags 0..{lags} days — the lead/lag map ts_autocorr
    can't see (it is each series against itself): ccf(a, b, L) is the
    correlation of a's count today with b's count L days LATER, so a
    peak at L > 0 reads "a leads b by L" — checkout leading shipment,
    signup leading churn. The |types|²·{lagsp} table is the input a
    forecaster mines for usable covariates.

    Exact: the zero-padded-grid convention, stated — both series live
    on the full [min_day, max_day] grid with 0 off-support, so every
    moment is an integer aggregate over OBSERVED cells only (zeros
    contribute nothing) divided by the grid length D: Σab is a cell
    equi-join on day+L, per-type Σc/Σc² are shared across pairs, and
    r = (D·Σab − Σa·Σb)/√((D·Σaa − Σa²)(D·Σbb − Σb²)) is one
    fixed-shape float expression over HUGEINT/decimal integers,
    rounded. No dense grid is materialized.

    Scale: one scan → (type, day) hash agg (|types|·|days| cells) →
    a lag-exploded cell self-join on day (bounded by cells·lags, never
    row scale) + a broadcast of the |types| moment frame.
    """
    d = (
        load(spark, sf_dir, "events")
        .select("event_type", epoch_div("ts", 86400).alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("c"))
        # the |types|·|days| cell frame feeds THREE consumers (per-type
        # moments, both join sides): checkpoint it so events is scanned
        # once, not once per branch
        .localCheckpoint()
    )
    # grid length from the fingerprint-cached epoch-span probe (VERDICT
    # r13 #4): day = epoch div 86400 is monotone on non-negative epochs,
    # so the span literal needs no scan of the cell frame.
    mn_e, mx_e = events_epoch_span(spark, sf_dir)
    dd = mx_e // 86400 - mn_e // 86400 + 1
    cd = F.col("c").cast("decimal(38,0)")
    t = d.groupBy("event_type").agg(
        F.sum(cd).alias("s"), F.sum(cd * F.col("c")).alias("q")
    )
    a = d.select(
        F.col("event_type").alias("type_a"),
        "day",
        F.col("c").alias("ca"),
        F.explode(
            F.expr(f"array({', '.join(str(i) for i in range(_CCF_MAX_LAG + 1))})")
        ).alias("lag"),
    )
    b = d.select(
        F.col("event_type").alias("type_b"),
        F.col("day").alias("day_b"),
        F.col("c").alias("cb"),
    )
    ab = (
        a.join(
            b,
            (F.col("type_b") != F.col("type_a"))
            & (F.col("day_b") == F.col("day") + F.col("lag")),
        )
        .groupBy("type_a", "type_b", "lag")
        .agg(F.sum(F.col("ca").cast("decimal(38,0)") * F.col("cb")).alias("sab"))
    )
    ta = t.select(
        F.col("event_type").alias("type_a"),
        F.col("s").alias("sa"),
        F.col("q").alias("qa"),
    )
    tb = t.select(
        F.col("event_type").alias("type_b"),
        F.col("s").alias("sb"),
        F.col("q").alias("qb"),
    )
    f = ab.join(F.broadcast(ta), "type_a").join(F.broadcast(tb), "type_b")
    D = F.lit(float(dd))
    r = (D * F.col("sab").cast("double") - F.col("sa").cast("double") * F.col("sb")) / F.nullif(
        F.sqrt(
            (D * F.col("qa").cast("double") - F.col("sa").cast("double") * F.col("sa"))
            * (D * F.col("qb").cast("double") - F.col("sb").cast("double") * F.col("sb"))
        ),
        F.lit(0.0),
    )
    return f.select(
        "type_a",
        "type_b",
        F.col("lag").cast("bigint").alias("lag_days"),
        F.lit(dd).cast("bigint").alias("n_grid_days"),
        (F.round(r, 6) + F.lit(0.0)).alias("ccf"),
    )


# ---------------------------------------------------------------------------
# Running-record count per type vs the exchangeable-null expectation
# ---------------------------------------------------------------------------

_REC_CRIT = 1.644854  # one-sided 5% normal critical value (upper records)

_RECORDS_ORACLE = f"""
WITH d AS (
    SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
    FROM events GROUP BY 1, 2
), r AS (
    SELECT event_type, x,
           max(x) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prevmax
    FROM d
), t AS (
    SELECT event_type, count(*) AS n,
           sum(CASE WHEN prevmax IS NULL OR x > prevmax THEN 1 ELSE 0 END)
               AS rec
    FROM r GROUP BY 1 HAVING count(*) >= 10
), h AS (
    SELECT event_type, n, rec,
           list_reduce(list_transform(range(1, n + 1),
                       k -> 1.0 / k), (a, b) -> a + b) AS hn,
           list_reduce(list_transform(range(1, n + 1),
                       k -> 1.0 / k / k), (a, b) -> a + b) AS hn2
    FROM t
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       CAST(rec AS BIGINT) AS n_records,
       round(hn, 4) + 0.0 AS expected_records,
       round((rec - hn) / sqrt(hn - hn2), 6) + 0.0 AS z,
       round((rec - hn) / sqrt(hn - hn2), 6) > {_REC_CRIT} AS trend_detected
FROM h
"""


@op("ts_records_count", oracle=_RECORDS_ORACLE, tags=("ext", "timeseries", "stats"))
def ts_records_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-record count of the daily cents series per type, scored
    against the exchangeable null — under any i.i.d. ordering the k-th
    day is a new all-time high with probability 1/k, so E[R] = H_n
    (harmonic) and Var[R] = H_n − H_n⁽²⁾: a series that keeps printing
    "best day ever" far above ~ln(n) times is trending, and this test
    prices exactly that intuition. The one-sided z complements
    ts_mann_kendall (pair-sign trend) with an extreme-value view —
    record floods fire here first when growth is concentrated in peaks.

    Exact: daily cents totals are exact integers; a record is a strict
    integer compare against the running max (day 1 counts — the H_n
    convention); H_n and H_n⁽²⁾ are folds over range(1, n+1) — a
    DETERMINISTIC ascending summation order on both engines (the
    bounded-series discipline; n ≤ |days|); z is one fixed-shape float
    expression, rounded before the one-sided 5% literal. Support floor
    n ≥ 10, stated.

    Scale: one scan → (type, day) hash agg → one per-type day window →
    |types| rows, each folding an |days|-element arithmetic sequence.
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
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = d.select("event_type", "x", F.max("x").over(w).alias("prevmax"))
    t = (
        r.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    F.col("prevmax").isNull() | (F.col("x") > F.col("prevmax")), 1
                ).otherwise(0)
            ).alias("rec"),
        )
        .filter(F.col("n") >= 10)
    )
    hn = F.expr(
        "aggregate(sequence(1, n), CAST(0.0 AS DOUBLE), (a, k) -> a + 1.0 / k)"
    )
    hn2 = F.expr(
        "aggregate(sequence(1, n), CAST(0.0 AS DOUBLE),"
        " (a, k) -> a + 1.0 / k / k)"
    )
    z = F.round((F.col("rec") - hn) / F.sqrt(hn - hn2), 6)
    return t.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("rec").cast("bigint").alias("n_records"),
        (F.round(hn, 4) + F.lit(0.0)).alias("expected_records"),
        (z + F.lit(0.0)).alias("z"),
        (z > F.lit(_REC_CRIT)).alias("trend_detected"),
    )


# ---------------------------------------------------------------------------
# Spectral entropy over a fixed period bank (how concentrated is the cycle?)
# ---------------------------------------------------------------------------

_SPEC_PERIODS = (168, 24, 12, 8, 6, 4, 3, 2)  # hours: weekly + diurnal bank


def _spec_tables() -> dict[int, tuple[list[int], list[int]]]:
    """1e6-quantized cos/sin tables for the entropy period bank — the
    _pgram_tables construction over a wider bank, generated once and
    embedded as literals on BOTH engines (no libm trig in either plan)."""
    import math

    out = {}
    for p in _SPEC_PERIODS:
        out[p] = (
            [math.floor(math.cos(2 * math.pi * m / p) * 1e6 + 0.5) for m in range(p)],
            [math.floor(math.sin(2 * math.pi * m / p) * 1e6 + 0.5) for m in range(p)],
        )
    return out


def _spec_oracle() -> str:
    tabs = _spec_tables()
    per_p = " UNION ALL ".join(
        f"SELECT {p} AS period_h, [{', '.join(map(str, qc))}] AS qc,"
        f" [{', '.join(map(str, qs))}] AS qs"
        for p, (qc, qs) in tabs.items()
    )
    k = len(_SPEC_PERIODS)
    return f"""
WITH hrs AS (
    SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
), span AS (
    SELECT min(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS mn,
           max(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS mx
    FROM events
), grid AS (
    SELECT t.event_type, g.h
    FROM (SELECT DISTINCT event_type FROM events) t
    CROSS JOIN (SELECT unnest(generate_series(mn, mx)) AS h FROM span) g
), dense AS (
    SELECT g.event_type, g.h, coalesce(hrs.cnt, 0) AS c
    FROM grid g LEFT JOIN hrs ON hrs.event_type = g.event_type AND hrs.h = g.h
), tot AS (
    SELECT event_type, count(*) AS n, sum(c) AS s FROM dense GROUP BY 1
), tabs AS ({per_p}),
ab AS (
    SELECT d.event_type, p.period_h,
           sum((t.n * d.c - t.s) * p.qc[CAST(d.h % p.period_h AS INTEGER) + 1]) AS a,
           sum((t.n * d.c - t.s) * p.qs[CAST(d.h % p.period_h AS INTEGER) + 1]) AS b,
           max(t.n) AS n
    FROM dense d
    JOIN tot t USING (event_type)
    CROSS JOIN tabs p
    GROUP BY 1, 2
), sp AS (
    SELECT event_type, period_h,
           (a // (n * n // 2)) * (a // (n * n // 2))
           + (b // (n * n // 2)) * (b // (n * n // 2)) AS s
    FROM ab
), dom AS (
    SELECT event_type, period_h AS dominant_period_h
    FROM (SELECT event_type, period_h,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY s DESC, period_h) AS rk
          FROM sp)
    WHERE rk = 1
), lst AS (
    SELECT event_type, list(s ORDER BY period_h) AS l, sum(s) AS t
    FROM sp GROUP BY 1 HAVING sum(s) > 0
)
SELECT l.event_type,
       CAST({k} AS BIGINT) AS n_periods,
       CAST(l.t AS BIGINT) AS total_power_u2,
       round(list_reduce(list_transform(l.l, s -> CASE WHEN s > 0 THEN
                 -(CAST(s AS DOUBLE) / l.t) * ln(CAST(s AS DOUBLE) / l.t)
                 ELSE 0.0 END), (a, b) -> a + b) / ln({k}.0), 6) + 0.0
           AS spectral_entropy_norm,
       CAST(d.dominant_period_h AS BIGINT) AS dominant_period_h
FROM lst l JOIN dom d USING (event_type)
"""


@op(
    "ts_spectral_entropy",
    oracle=_spec_oracle(),
    tags=("ext", "timeseries", "stats"),
)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized spectral entropy of the hourly count series over a
    fixed 8-period bank (weekly 168 h + the diurnal cascade 24..2 h)
    per type — ONE number for "how cyclic is this stream":  entropy → 0
    means the power concentrates in a single period (schedule-driven —
    ts_periodogram_fixed then says which, ts_seasonal_index profiles
    its shape), entropy → 1 means no period in the bank dominates
    (demand-driven / aperiodic). The dominant period rides along as the
    argmax for free.

    Exact: the _pgram_tables construction widened to the bank —
    quantized trig literals shared verbatim by both engines, integer
    amplitudes via integral div, per-period power S = a_u² + b_u² as
    exact integers; the entropy is a fold over the 8 powers in FIXED
    ascending-period order (the sorted-cell fold discipline) with one
    ln per term, normalized by ln(8), rounded. Dominant period is an
    exact integer argmax with the smaller-period tie rule, stated.

    Scale: |types| × span-hours dense grid (calendar-bounded, the
    croston/periodogram posture) → one hash agg per (type, period) →
    |types|·8 rows → |types| folds.
    """
    tabs = _spec_tables()
    ev = load(spark, sf_dir, "events").select(
        "event_type", epoch_div("ts", 3600).alias("h")
    )
    # the |types|·|hours| count frame feeds the type universe and the
    # dense grid's join side (which itself feeds two consumers):
    # checkpoint so events is scanned ONCE
    hrs = (
        ev.groupBy("event_type", "h")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    # hour span via the fingerprint-cached epoch-span probe (VERDICT r13
    # #4): hour = epoch div 3600 is monotone on non-negative epochs.
    mn_e, mx_e = events_epoch_span(spark, sf_dir)
    mn_h, mx_h = mn_e // 3600, mx_e // 3600
    grid = (
        hrs.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                hrs.sparkSession.range(mn_h, mx_h + 1).select(
                    F.col("id").alias("h")
                )
            )
        )
    )
    dense = grid.join(hrs, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("cnt", F.lit(0)).alias("c")
    )
    tot = dense.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("c").alias("s")
    )
    # Single-parse literal bank (OPTIMIZATION_r14 driver-side rule): the
    # F.array(*[F.lit(v) ...]) form paid one py4j round-trip per trig
    # table entry on every query build; one F.expr string is equivalent
    # literal for literal.
    structs = ", ".join(
        f"struct({p} as period_h, "
        f"array({', '.join(str(v) for v in qc)}) as qc, "
        f"array({', '.join(str(v) for v in qs)}) as qs)"
        for p, (qc, qs) in tabs.items()
    )
    ptab = dense.sparkSession.range(1).select(
        F.explode(F.expr(f"array({structs})")).alias("t")
    ).select("t.period_h", "t.qc", "t.qs")
    dev = (F.col("n") * F.col("c") - F.col("s")).cast("decimal(38,0)")
    m1 = (F.col("h") % F.col("period_h")).cast("int") + 1
    ab = (
        dense.join(tot, "event_type")
        .crossJoin(F.broadcast(ptab))
        .groupBy("event_type", "period_h")
        .agg(
            F.sum(dev * F.element_at("qc", m1).cast("decimal(38,0)")).alias("a"),
            F.sum(dev * F.element_at("qs", m1).cast("decimal(38,0)")).alias("b"),
            F.max("n").alias("n"),
        )
    )
    amp_c = F.expr("CAST(a AS DECIMAL(38,0)) div CAST(n * n div 2 AS DECIMAL(38,0))")
    amp_s = F.expr("CAST(b AS DECIMAL(38,0)) div CAST(n * n div 2 AS DECIMAL(38,0))")
    sp = ab.select(
        "event_type",
        "period_h",
        (amp_c * amp_c + amp_s * amp_s).cast("decimal(38,0)").alias("s"),
        # |types|·8 rows, two consumers (argmax rank + entropy fold)
    ).localCheckpoint()
    wd = Window.partitionBy("event_type").orderBy(
        F.col("s").desc(), F.col("period_h").asc()
    )
    dom = (
        sp.select(
            "event_type", "period_h", F.row_number().over(wd).alias("rk")
        )
        .filter(F.col("rk") == 1)
        .select("event_type", F.col("period_h").alias("dominant_period_h"))
    )
    k = len(_SPEC_PERIODS)
    lst = (
        sp.groupBy("event_type")
        .agg(
            F.expr("sort_array(collect_list(struct(period_h, s)))").alias("ps"),
            F.sum("s").alias("t"),
        )
        .filter(F.col("t") > 0)
    )
    ent = F.expr(
        "aggregate(ps, CAST(0.0 AS DOUBLE), (a, p) -> a + CASE WHEN p.s > 0"
        " THEN -(CAST(p.s AS DOUBLE) / CAST(t AS DOUBLE))"
        " * ln(CAST(p.s AS DOUBLE) / CAST(t AS DOUBLE)) ELSE 0.0 END)"
        f" / ln({k}.0)"
    )
    return lst.join(dom, "event_type").select(
        "event_type",
        F.lit(k).cast("bigint").alias("n_periods"),
        F.col("t").cast("bigint").alias("total_power_u2"),
        (F.round(ent, 6) + F.lit(0.0)).alias("spectral_entropy_norm"),
        F.col("dominant_period_h").cast("bigint").alias("dominant_period_h"),
    )


# ---------------------------------------------------------------------------
# Page–Hinkley drift detector over daily revenue (round 13)
# ---------------------------------------------------------------------------


def _ph_step(idx, x: str, suffix: str) -> str:
    """One Page–Hinkley fold step as an engine-neutral expression
    string. ``idx(k)`` renders the k-th accumulator slot (0-based
    semantics; DuckDB passes a 1-based renderer), ``x`` the new
    observation, ``suffix`` the double-literal suffix ('D' for Spark).
    State: [i, S, g, gmin, dmax, darg, g2, gmin2, dmax2, darg2] — the
    running count/sum, the increase-side PH statistic with its running
    min / max drift / argmax day, and the mirrored decrease side."""
    a = idx
    one = f"1.0{suffix}"
    mean = f"(({a(1)} + {x}) / ({a(0)} + {one}))"
    ng = f"({a(2)} + ({x} - {mean}))"
    ngmin = f"least({a(3)}, {ng})"
    nd = f"({ng} - {ngmin})"
    ng2 = f"({a(6)} + ({mean} - {x}))"
    ngmin2 = f"least({a(7)}, {ng2})"
    nd2 = f"({ng2} - {ngmin2})"
    return (
        f"{a(0)} + {one}, {a(1)} + {x}, {ng}, {ngmin},"
        f" CASE WHEN {nd} > {a(4)} THEN {nd} ELSE {a(4)} END,"
        f" CASE WHEN {nd} > {a(4)} THEN ({a(0)} + {one}) ELSE {a(5)} END,"
        f" {ng2}, {ngmin2},"
        f" CASE WHEN {nd2} > {a(8)} THEN {nd2} ELSE {a(8)} END,"
        f" CASE WHEN {nd2} > {a(8)} THEN ({a(0)} + {one}) ELSE {a(9)} END"
    )


_PH_SPARK_FOLD = (
    "aggregate(slice(v, 2, size(v) - 1),"
    " array(1.0D, v[0], 0.0D, 0.0D, 0.0D, 1.0D, 0.0D, 0.0D, 0.0D, 1.0D),"
    " (acc, x) -> array("
    + _ph_step(lambda k: f"acc[{k}]", "x", "D")
    + "))"
)

# DuckDB list_reduce seeds from the FIRST element, so each element is the
# would-be state-after-first-observation [1, cents, 0, 0, 0, 1, 0, 0, 0, 1]
# and the lambda reads the observation from slot 2 (the holt twin trick).
_PH_DUCK_FOLD = (
    "list_reduce(v, (acc, p) -> ["
    + _ph_step(lambda k: f"acc[{k + 1}]", "p[2]", "")
    + "])"
)

_PH_ORACLE = f"""
WITH d AS (
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
    FROM events GROUP BY 1, 2
), s AS (
    SELECT event_type, count(*) AS n_days,
           list([1.0, CAST(cents AS DOUBLE), 0.0, 0.0, 0.0, 1.0,
                 0.0, 0.0, 0.0, 1.0] ORDER BY day) AS v
    FROM d GROUP BY 1
), f AS (
    SELECT event_type, n_days, {_PH_DUCK_FOLD} AS st FROM s
)
SELECT event_type,
       CAST(n_days AS BIGINT) AS n_days,
       round(st[5], 4) + 0.0 AS ph_drift_inc,
       CAST(st[6] AS BIGINT) AS drift_inc_day,
       round(st[9], 4) + 0.0 AS ph_drift_dec,
       CAST(st[10] AS BIGINT) AS drift_dec_day
FROM f
"""


@op("ts_page_hinkley", oracle=_PH_ORACLE, tags=("ext", "timeseries", "stats"))
def ts_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley drift statistics per event-type daily-revenue
    series: the SEQUENTIAL mean-shift detector (the online form of
    what ts_changepoint_cusum scans in batch) — g_t accumulates each
    day's deviation from the RUNNING mean; the maximum of g above its
    running minimum is the PH drift, and the day that maximum is
    reached is the change candidate. Both directions reported (an
    upward demand shift and a collapse are different incidents). This
    is the recurrence a monitoring job evaluates per micro-batch; here
    it folds over the day-ordered series so both engines replay it
    bit-for-bit.

    Exact: daily cents are exact integers that stay ≪2^53 as doubles;
    the fold is one fixed sequence of IEEE ops (running mean by
    division, adds, least/greatest comparisons) over the sorted array
    — the ts_holt_forecast fold discipline with a 10-slot state.
    Argmax ties resolve to the FIRST maximum on both engines (strict
    >). δ = 0: the detector reports raw drift; thresholding is the
    monitor's policy choice, not the statistic's.

    Scale: one hash agg to |types|·|days| cells, one bounded fold per
    type; output is |types| rows.
    """
    d = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("cents"))
    )
    s = d.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.transform(
            bounded_series(
                F.expr("array_sort(collect_list(struct(day, cents)))"),
                what="ts_page_hinkley per-type day series",
            ),
            lambda p: p.getField("cents").cast("double"),
        ).alias("v"),
    )
    f = s.select("event_type", "n_days", F.expr(_PH_SPARK_FOLD).alias("st"))
    return f.select(
        "event_type",
        F.col("n_days").cast("bigint").alias("n_days"),
        (F.round(F.col("st")[4], 4) + F.lit(0.0)).alias("ph_drift_inc"),
        F.col("st")[5].cast("bigint").alias("drift_inc_day"),
        (F.round(F.col("st")[8], 4) + F.lit(0.0)).alias("ph_drift_dec"),
        F.col("st")[9].cast("bigint").alias("drift_dec_day"),
    )


# ---------------------------------------------------------------------------
# Sample entropy of the daily revenue series (regularity screen, round 13)
# ---------------------------------------------------------------------------

_SAMPEN_ORACLE = """
WITH d AS (
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
    FROM events GROUP BY 1, 2
), idx AS (
    SELECT event_type, cents,
           row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
           lead(cents, 1) OVER (PARTITION BY event_type ORDER BY day) AS x1,
           lead(cents, 2) OVER (PARTITION BY event_type ORDER BY day) AS x2
    FROM d
), rr AS (
    SELECT event_type,
           count(*) AS n_days,
           CAST(floor(0.2 * sqrt(CAST(sum(cents * cents) AS DOUBLE) / count(*)
                    - (CAST(sum(cents) AS DOUBLE) / count(*))
                    * (CAST(sum(cents) AS DOUBLE) / count(*))) + 0.5) AS BIGINT)
               AS r_cents
    FROM d GROUP BY event_type
), tmpl AS (
    SELECT event_type, i, cents AS x0, x1, x2 FROM idx WHERE x2 IS NOT NULL
), pairs AS (
    SELECT a.event_type,
           CASE WHEN greatest(abs(a.x0 - b.x0), abs(a.x1 - b.x1)) <= r.r_cents
                THEN 1 ELSE 0 END AS m2,
           CASE WHEN greatest(abs(a.x0 - b.x0), abs(a.x1 - b.x1),
                              abs(a.x2 - b.x2)) <= r.r_cents
                THEN 1 ELSE 0 END AS m3
    FROM tmpl a
    JOIN tmpl b ON a.event_type = b.event_type AND a.i < b.i
    JOIN rr r ON r.event_type = a.event_type
)
SELECT p.event_type,
       CAST(r.n_days AS BIGINT) AS n_days,
       CAST(r.r_cents AS BIGINT) AS r_cents,
       CAST(sum(p.m2) AS BIGINT) AS matches_m2,
       CAST(sum(p.m3) AS BIGINT) AS matches_m3,
       round(-ln(CAST(nullif(sum(p.m3), 0) AS DOUBLE)
                 / nullif(sum(p.m2), 0)), 6) + 0.0 AS sample_entropy
FROM pairs p JOIN rr r ON r.event_type = p.event_type
GROUP BY p.event_type, r.n_days, r.r_cents
"""


@op("ts_sample_entropy", oracle=_SAMPEN_ORACLE, tags=("ext", "timeseries", "stats"))
def ts_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy (m = 2, r = 0.2σ) of each event type's daily
    revenue series — the regularity/complexity screen: low SampEn
    means repeating day-to-day patterns (template matches persist when
    extended one day), high SampEn means the series is
    pattern-free at tolerance r. Complements ts_spectral_entropy
    (frequency-domain flatness) with the time-domain, phase-aware
    measure; the operational read is "how predictable is tomorrow
    given two matching days".

    Exact: the tolerance r quantizes to integer cents via one fixed
    float expression over exact moments (floor + 0.5); every template
    comparison after that is INTEGER Chebyshev distance, so both match
    counts are exact integers and SampEn = −ln(A/B) is one float.
    Self-matches are excluded by i < j (each unordered pair counted
    once — the factor cancels in A/B); both counts use templates with
    a full m+1 = 3-day extension so A and B range over identical i.

    Scale: the pair join is |days|²-bounded PER TYPE (366² ≈ 134 k
    pairs/type-year — a dimension bound, not a corpus bound; the
    |days| window and the join never touch event-level rows after the
    daily rollup). Output is |types| rows.
    """
    d = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("cents"))
    )
    wt = Window.partitionBy("event_type").orderBy("day")
    idx = d.select(
        "event_type",
        "cents",
        F.row_number().over(wt).alias("i"),
        F.lead("cents", 1).over(wt).alias("x1"),
        F.lead("cents", 2).over(wt).alias("x2"),
    )
    nd = F.count("*")
    rr = d.groupBy("event_type").agg(
        nd.alias("n_days"),
        F.floor(
            F.lit(0.2)
            * F.sqrt(
                F.sum(F.col("cents") * F.col("cents")).cast("double") / nd
                - (F.sum("cents").cast("double") / nd)
                * (F.sum("cents").cast("double") / nd)
            )
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("r_cents"),
    )
    tmpl = idx.filter(F.col("x2").isNotNull()).select(
        "event_type", "i", F.col("cents").alias("x0"), "x1", "x2"
    )
    a, b = tmpl.alias("a"), tmpl.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.i") < F.col("b.i")),
        )
        .join(
            F.broadcast(rr.alias("r")),
            F.col("r.event_type") == F.col("a.event_type"),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.when(
                F.greatest(
                    F.abs(F.col("a.x0") - F.col("b.x0")),
                    F.abs(F.col("a.x1") - F.col("b.x1")),
                )
                <= F.col("r.r_cents"),
                1,
            )
            .otherwise(0)
            .alias("m2"),
            F.when(
                F.greatest(
                    F.abs(F.col("a.x0") - F.col("b.x0")),
                    F.abs(F.col("a.x1") - F.col("b.x1")),
                    F.abs(F.col("a.x2") - F.col("b.x2")),
                )
                <= F.col("r.r_cents"),
                1,
            )
            .otherwise(0)
            .alias("m3"),
        )
    )
    g = pairs.groupBy("event_type").agg(
        F.sum("m2").alias("matches_m2"), F.sum("m3").alias("matches_m3")
    )
    return g.join(F.broadcast(rr), "event_type").select(
        "event_type",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("r_cents").cast("bigint").alias("r_cents"),
        F.col("matches_m2").cast("bigint").alias("matches_m2"),
        F.col("matches_m3").cast("bigint").alias("matches_m3"),
        (
            F.round(
                -F.log(
                    F.nullif(F.col("matches_m3"), F.lit(0)).cast("double")
                    / F.nullif(F.col("matches_m2"), F.lit(0))
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("sample_entropy"),
    )


# ---------------------------------------------------------------------------
# Hurst exponent by rescaled-range analysis (long-memory screen, round 13)
# ---------------------------------------------------------------------------

_HURST_SCALES = (8, 16, 32, 64)

_HURST_ORACLE = f"""
WITH d AS (
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
    FROM events GROUP BY 1, 2
), idx AS (
    SELECT event_type, cents,
           row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
    FROM d
), ex AS (
    SELECT x.event_type, x.cents, x.i, s.sz,
           (x.i - 1) // s.sz AS blk
    FROM idx x CROSS JOIN (SELECT unnest([{', '.join(map(str, _HURST_SCALES))}]) AS sz) s
), cum AS (
    SELECT event_type, sz, blk, cents,
           sum(cents) OVER (PARTITION BY event_type, sz, blk ORDER BY i
                            ROWS UNBOUNDED PRECEDING) AS cumx,
           row_number() OVER (PARTITION BY event_type, sz, blk ORDER BY i) AS k,
           sum(cents) OVER (PARTITION BY event_type, sz, blk) AS bs1
    FROM ex
), bstat AS (
    SELECT event_type, sz, blk,
           count(*) AS m,
           sum(cents) AS s1, sum(cents * cents) AS s2,
           max(CAST(cumx AS DOUBLE) - k * (CAST(bs1 AS DOUBLE) / sz)) AS dev_hi,
           min(CAST(cumx AS DOUBLE) - k * (CAST(bs1 AS DOUBLE) / sz)) AS dev_lo
    FROM cum
    GROUP BY event_type, sz, blk, bs1
), rs AS (
    SELECT event_type, sz,
           sum(CAST(floor((dev_hi - dev_lo)
               / sqrt(CAST(s2 AS DOUBLE) / sz
                      - (CAST(s1 AS DOUBLE) / sz) * (CAST(s1 AS DOUBLE) / sz))
               * 1000000 + 0.5) AS BIGINT)) AS rs_q,
           count(*) AS n_blocks
    FROM bstat
    WHERE m = sz
      AND CAST(s2 AS DOUBLE) / sz
          - (CAST(s1 AS DOUBLE) / sz) * (CAST(s1 AS DOUBLE) / sz) > 0
    GROUP BY event_type, sz
), pts AS (
    SELECT event_type,
           count(*) AS n_scales,
           list_sort(list([CAST(sz AS DOUBLE),
                           CAST(rs_q AS DOUBLE) / n_blocks / 1000000])) AS l
    FROM rs GROUP BY event_type
), ols AS (
    SELECT event_type, n_scales,
           list_reduce(list_prepend([0.0, 0.0, 0.0, 0.0, 0.0], list_transform(l,
               p -> [1.0, ln(p[1]), ln(p[2]), ln(p[1]) * ln(p[2]),
                     ln(p[1]) * ln(p[1])])),
               (a, p) -> [a[1] + p[1], a[2] + p[2], a[3] + p[3],
                          a[4] + p[4], a[5] + p[5]]) AS s
    FROM pts
)
SELECT event_type,
       CAST(n_scales AS BIGINT) AS n_scales,
       round((s[1] * s[4] - s[2] * s[3])
             / nullif(s[1] * s[5] - s[2] * s[2], 0.0), 6) + 0.0 AS hurst
FROM ols
WHERE n_scales >= 2
"""


@op("ts_hurst_rs", oracle=_HURST_ORACLE, tags=("ext", "timeseries", "stats"))
def ts_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by classical rescaled-range (R/S) analysis of
    each event type's daily revenue: split the day series into
    complete blocks of 8/16/32/64 days, per block take R = range of
    the mean-adjusted cumulative sums and S = the population std, and
    fit log(mean R/S) against log(block size) — H ≈ 0.5 is memoryless,
    H > 0.5 long-range persistent (trends compound; capacity planning
    must buffer more than √t scaling suggests), H < 0.5 mean-
    reverting. The long-memory companion to ts_autocorr (one lag at a
    time) and ts_seasonality_strength (fixed period).

    Exact: block moments and cumulative sums are exact integers;
    per-block R/S is one fixed float expression QUANTIZED to 1e-6
    before the cross-block mean (integer sum — block order cannot
    desync the engines); the final OLS folds over the ≤4 sorted
    (scale, mean-R/S) points. Zero-variance blocks are excluded on
    both engines; scales with no complete block drop out (n_scales
    reported).

    Scale: one hash agg to |types|·|days| cells, a ×|scales| explode
    of the DAY frame (not events), per-(type, scale, block) bounded
    windows (≤64 rows each), then dimension-bounded folds. Output is
    |types| rows.
    """
    d = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("cents"))
    )
    wt = Window.partitionBy("event_type").orderBy("day")
    idx = d.select("event_type", "cents", F.row_number().over(wt).alias("i"))
    ex = idx.crossJoin(
        F.broadcast(
            idx.sparkSession.range(1)
            .select(
                F.explode(
                    F.array(*[F.lit(s) for s in _HURST_SCALES])
                ).alias("sz")
            )
        )
    ).withColumn("blk", F.expr("(i - 1) div sz"))
    wb = Window.partitionBy("event_type", "sz", "blk")
    cum = ex.select(
        "event_type",
        "sz",
        "blk",
        "cents",
        F.sum("cents").over(wb.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)).alias("cumx"),
        F.row_number().over(wb.orderBy("i")).alias("k"),
        F.sum("cents").over(wb).alias("bs1"),
    )
    dev = F.col("cumx").cast("double") - F.col("k") * (
        F.col("bs1").cast("double") / F.col("sz")
    )
    bstat = cum.groupBy("event_type", "sz", "blk", "bs1").agg(
        F.count("*").alias("m"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
        F.max(dev).alias("dev_hi"),
        F.min(dev).alias("dev_lo"),
    )
    var = F.col("s2").cast("double") / F.col("sz") - (
        F.col("s1").cast("double") / F.col("sz")
    ) * (F.col("s1").cast("double") / F.col("sz"))
    rs = (
        bstat.filter((F.col("m") == F.col("sz")) & (var > 0))
        .select(
            "event_type",
            "sz",
            F.floor(
                (F.col("dev_hi") - F.col("dev_lo")) / F.sqrt(var) * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("rsq"),
        )
        .groupBy("event_type", "sz")
        .agg(F.sum("rsq").alias("rs_q"), F.count("*").alias("n_blocks"))
    )
    pts = rs.groupBy("event_type").agg(
        F.count("*").alias("n_scales"),
        bounded_series(
            F.array_sort(
                F.collect_list(
                    F.array(
                        F.col("sz").cast("double"),
                        F.col("rs_q").cast("double") / F.col("n_blocks") / 1000000,
                    )
                )
            ),
            what="ts_hurst_rs per-scale points",
        ).alias("l"),
    )
    s = F.expr(
        "aggregate(l, array(0.0D, 0.0D, 0.0D, 0.0D, 0.0D),"
        " (a, p) -> array(a[0] + 1.0D, a[1] + ln(p[0]), a[2] + ln(p[1]),"
        "  a[3] + ln(p[0]) * ln(p[1]), a[4] + ln(p[0]) * ln(p[0])))"
    )
    f = pts.select("event_type", "n_scales", s.alias("s")).filter(
        F.col("n_scales") >= 2
    )
    return f.select(
        "event_type",
        F.col("n_scales").cast("bigint").alias("n_scales"),
        (
            F.round(
                (F.col("s")[0] * F.col("s")[3] - F.col("s")[1] * F.col("s")[2])
                / F.nullif(
                    F.col("s")[0] * F.col("s")[4] - F.col("s")[1] * F.col("s")[1],
                    F.lit(0.0),
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("hurst"),
    )
