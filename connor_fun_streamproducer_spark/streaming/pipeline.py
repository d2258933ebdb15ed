"""The reference pipeline, re-expressed Spark-first.

Reference dataflow (/root/reference/regionSpout.go):

1. ``getLocations`` — static region dim with bounding boxes
   (regionSpout.go:169-184, locations.json:1-23).
2. Per-region geo-filtered source; the bbox predicate is pushed to the
   source (regionSpout.go:126-148; filter params :133-136).
3. ``handleTweet`` — serialize record to JSON, bump the per-region 30 s
   counter, route to topic ``raw-tweets-<region>``, fire-and-forget produce
   (regionSpout.go:151-163).
4. Monitor loop — tumbling 30 s processing-time count-and-reset per region
   (regionSpout.go:102-117).

Spark mapping (SURVEY.md §3.4): one declarative plan — broadcast theta-join
enrichment (the honest, engine-side form of what Twitter evaluated
server-side), ``to_json(struct(*))`` serialization, a computed ``topic``
column for routing, and ``groupBy(window(ts, "30 seconds"), region)`` for
the monitor. Batch forms below are oracle-checked; streaming twins run the
same logical plan over ``readStream`` (see ``streaming/windows.py`` and
tests).

Scale posture: the locations dim is ≤25 rows (regionSpout.go:77 caps at 25)
— broadcast nested-loop joins the bbox predicate with zero shuffle of the
event side. At 100 TB of events the plan stays shuffle-free up to the
windowed count, which aggregates partially map-side before one exchange on
(window, region) — the same "partial counts per source, merge in monitor"
structure the reference hand-rolled with atomics.

The locations dim is a local relation (``catalog.literal_frame``), not a
parallelized RDD: a stream-static join re-plans and re-broadcasts its
static side in every micro-batch, so the dim's broadcast costs one Spark
job per trigger whatever the batch size. Over a parallelized RDD that
job unpickled the rows, one task per slice of the default parallelism;
over a local relation it reads rows the driver already holds, in at most
as many tasks as rows (two for the reference dim), with no Python
workers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from connor_fun_streamproducer_spark.catalog import literal_frame, load
from connor_fun_streamproducer_spark.registry import op

# The reference's region dim (locations.json:1-23), embedded as the same
# inline VALUES on the Spark and oracle sides. Note the shipped data quirk:
# east < west numerically (locations.json:8,10) — containment below uses
# least/greatest so either orientation works (SURVEY.md §2.1 quirk note).
REGION_BOXES: list[tuple[str, str, float, float, float, float]] = [
    # (name, id, north, east, south, west)
    ("United States", "USA0", 49.31884057971014, -125.56620246068175, 24.681159420289855, -96.5795),
    ("United States", "USA1", 49.31884057971014, -96.5795, 24.681159420289855, -67.59279753931825),
]

LOCATIONS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("region_id", T.StringType(), False),
        T.StructField("north", T.DoubleType(), False),
        T.StructField("east", T.DoubleType(), False),
        T.StructField("south", T.DoubleType(), False),
        T.StructField("west", T.DoubleType(), False),
    ]
)

# Oracle-side inline table, identical rows.
_LOCATIONS_VALUES_SQL = (
    "(VALUES "
    + ", ".join(
        f"('{n}', '{i}', {no!r}, {e!r}, {s!r}, {w!r})" for (n, i, no, e, s, w) in REGION_BOXES
    )
    + ") AS locations(name, region_id, north, east, south, west)"
)

# The events table has no coordinates (FIXTURES.md §B); derive a
# deterministic integer point per event so the bbox-containment join is
# real and both engines agree bit-for-bit. lon ∈ [-126, -68], lat ∈ [25, 49]
# — spans both reference boxes plus a sliver outside either.
_LON_EXPR = "-126 + (event_id * 7) % 59"
_LAT_EXPR = "25 + (event_id * 13) % 25"


def locations_df(spark: SparkSession) -> DataFrame:
    """The static region dimension (src_config_scan's output shape).

    Planned as a ``LocalTableScan``: ``enrich`` broadcasts it in every
    micro-batch of a stream, and the broadcast of a local relation runs
    a job of at most as many tasks as rows, with no Python workers
    (``catalog.literal_frame``)."""
    return literal_frame(spark, REGION_BOXES, LOCATIONS_SCHEMA)


def with_coords(events: DataFrame) -> DataFrame:
    """Attach the deterministic synthetic point coordinates."""
    return events.withColumn("lon", F.expr(_LON_EXPR)).withColumn("lat", F.expr(_LAT_EXPR))


def enrich(events: DataFrame, locations: DataFrame) -> DataFrame:
    """Broadcast theta-join: tag each event with its containing region.

    The engine-side form of the reference's source-side bbox filter
    (regionSpout.go:133-139) + region tagging via closure capture
    (regionSpout.go:94,128-130). Broadcast nested-loop join — the dim is
    ≤25 rows, so no shuffle of the (arbitrarily large) event side.
    """
    cond = (
        (F.col("lon") >= F.least("east", "west"))
        & (F.col("lon") <= F.greatest("east", "west"))
        & (F.col("lat") >= F.col("south"))
        & (F.col("lat") <= F.col("north"))
    )
    return events.join(F.broadcast(locations), cond, "inner")


@op(
    "enrich_region",
    oracle=f"""
    SELECT e.event_id, l.region_id, e.lon, e.lat
    FROM (SELECT event_id, {_LON_EXPR} AS lon, {_LAT_EXPR} AS lat FROM events) e
    JOIN {_LOCATIONS_VALUES_SQL}
      ON e.lon >= least(l.east, l.west) AND e.lon <= greatest(l.east, l.west)
     AND e.lat >= l.south AND e.lat <= l.north
    """.replace("AS locations(", "AS l(", 1),
    tags=("ref", "join"),
)
def enrich_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region enrichment via broadcast bbox-containment join.

    Reference: regionSpout.go:84-85 (bbox build), :94 (region captured per
    stream), :128-130 (tag threading). The reference outsourced containment
    to Twitter; here the engine evaluates it, robust to the east/west swap
    in the shipped data (locations.json:8,10).
    """
    events = with_coords(load(spark, sf_dir, "events"))
    out = enrich(events, locations_df(spark))
    return out.select("event_id", "region_id", "lon", "lat")


@op(
    "enrich_region_grid",
    oracle=f"""
    SELECT e.event_id, l.region_id, e.lon, e.lat
    FROM (SELECT event_id, {_LON_EXPR} AS lon, {_LAT_EXPR} AS lat FROM events) e
    JOIN {_LOCATIONS_VALUES_SQL}
      ON e.lon >= least(l.east, l.west) AND e.lon <= greatest(l.east, l.west)
     AND e.lat >= l.south AND e.lat <= l.north
    """.replace("AS locations(", "AS l(", 1),
    tags=("ref", "join", "scale"),
)
def enrich_region_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region enrichment via grid-cell EQUI-join — the bbox join's scale
    path (SURVEY §4.2).

    BroadcastNestedLoopJoin evaluates every event against every region:
    fine at the reference's 25-region cap (regionSpout.go:77), O(|events|
    × |regions|) at thousands of regions. The grid rewrite quantizes
    space into 1° cells, expands each region bbox into its covering cells
    driver-side (dim-sized work), and hash-joins events on their single
    containing cell — O(|events|) probes — with exact containment kept as
    a residual predicate for boxes that only partly cover a cell.

    Same output as ``enrich_region`` (identical semantics, so the oracle
    is the same containment SQL); the plan upgrades to BroadcastHashJoin,
    asserted in tests/test_plans.py. At 100 TB the cell id also becomes
    the partition key of a pre-bucketed events layout, making the join
    shuffle-free and prunable to the queried cells.
    """
    GRID = 1.0  # degrees per cell; tune to median region size
    import math

    cover: list[tuple[int, int, str, float, float, float, float]] = []
    for (_, rid, north, east, south, west) in REGION_BOXES:
        lo, hi = min(east, west), max(east, west)
        for cx in range(math.floor(lo / GRID), math.floor(hi / GRID) + 1):
            for cy in range(math.floor(south / GRID), math.floor(north / GRID) + 1):
                cover.append((cx, cy, rid, north, east, south, west))
    cells = literal_frame(
        spark,
        cover,
        "cx int, cy int, region_id string, north double, east double, "
        "south double, west double",
    )
    events = with_coords(load(spark, sf_dir, "events")).withColumns(
        {
            "ecx": F.floor(F.col("lon") / GRID).cast("int"),
            "ecy": F.floor(F.col("lat") / GRID).cast("int"),
        }
    )
    residual = (
        (F.col("lon") >= F.least("east", "west"))
        & (F.col("lon") <= F.greatest("east", "west"))
        & (F.col("lat") >= F.col("south"))
        & (F.col("lat") <= F.col("north"))
    )
    return (
        events.join(
            F.broadcast(cells),
            (F.col("ecx") == F.col("cx")) & (F.col("ecy") == F.col("cy")),
        )
        .filter(residual)
        .select("event_id", "region_id", "lon", "lat")
    )


@op(
    "agg_window_count",
    oracle=f"""
    SELECT l.region_id,
           make_timestamp(CAST(floor(epoch(e.ts) / 30) * 30 * 1000000 AS BIGINT)) AS window_start,
           count(*) AS n_events
    FROM (SELECT event_id, ts, {_LON_EXPR} AS lon, {_LAT_EXPR} AS lat FROM events) e
    JOIN {_LOCATIONS_VALUES_SQL}
      ON e.lon >= least(l.east, l.west) AND e.lon <= greatest(l.east, l.west)
     AND e.lat >= l.south AND e.lat <= l.north
    GROUP BY 1, 2
    """.replace("AS locations(", "AS l(", 1),
    tags=("ref", "agg", "flagship"),
)
def agg_window_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 30 s per-region event counts — the reference's monitor loop.

    Reference: atomic per-region counters bumped per record
    (regionSpout.go:154) and read-and-reset every 30 s
    (regionSpout.go:102-111). Event-time version: ``window(ts, "30
    seconds")`` tumbling windows, partial counts map-side, one shuffle on
    (window, region). Streaming twin in streaming/windows.py runs the same
    plan over readStream.
    """
    events = with_coords(load(spark, sf_dir, "events"))
    enriched = enrich(events, locations_df(spark))
    return (
        enriched.groupBy(F.window("ts", "30 seconds").alias("w"), "region_id")
        .agg(F.count("*").alias("n_events"))
        .select("region_id", F.col("w.start").alias("window_start"), "n_events")
    )


@op(
    "route_by_key",
    oracle=f"""
    SELECT 'raw-tweets-' || l.region_id AS topic, count(*) AS n
    FROM (SELECT event_id, {_LON_EXPR} AS lon, {_LAT_EXPR} AS lat FROM events) e
    JOIN {_LOCATIONS_VALUES_SQL}
      ON e.lon >= least(l.east, l.west) AND e.lon <= greatest(l.east, l.west)
     AND e.lat >= l.south AND e.lat <= l.north
    GROUP BY 1
    """.replace("AS locations(", "AS l(", 1),
    tags=("ref", "sink"),
)
def route_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-based routing: derive the sink topic from the region key.

    Reference: ``topic := "raw-tweets-" + regionName`` with PartitionAny
    (regionSpout.go:156-160). In Spark the topic is a computed column on
    the sink rows — the Kafka sink reads it per-record — so routing is part
    of the declarative plan, not a side-effect.
    """
    events = with_coords(load(spark, sf_dir, "events"))
    enriched = enrich(events, locations_df(spark))
    return (
        enriched.withColumn("topic", F.concat(F.lit("raw-tweets-"), F.col("region_id")))
        .groupBy("topic")
        .agg(F.count("*").alias("n"))
    )


@op(
    "proj_serialize",
    oracle="""
    SELECT event_id, event_type, value,
           CAST(json_extract_string(
                 json_object('event_id', event_id, 'event_type', event_type, 'value', value),
                 '$.event_type') AS VARCHAR) AS et_from_json
    FROM events
    """,
    tags=("ref", "project"),
)
def proj_serialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-row JSON serialization + parse round-trip.

    Reference: ``json.Marshal(tweet)`` per record, error ignored
    (regionSpout.go:152). Spark form: ``to_json(struct(...))`` (JVM-side,
    codegen) producing the Kafka ``value`` column; checked by parsing back
    with ``from_json`` and extracting a field — proving the serialized
    payload is faithful, which the reference never verified.
    """
    events = load(spark, sf_dir, "events")
    payload_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    serialized = events.select(
        "event_id",
        "event_type",
        "value",
        F.to_json(F.struct("event_id", "event_type", "value")).alias("payload"),
    )
    return serialized.select(
        "event_id",
        "event_type",
        "value",
        F.get_json_object("payload", "$.event_type").alias("et_from_json"),
    )


def serialized_sink_frame(enriched: DataFrame) -> DataFrame:
    """(key, value, topic) frame in Kafka-sink shape — regionSpout.go:151-163.

    Usable by both ``df.write.format("kafka")`` and
    ``writeStream.format("kafka")``; no broker in the test environment, so
    tests assert the frame shape and the streaming smoke uses the memory
    sink instead.
    """
    return enriched.select(
        F.col("region_id").cast("string").alias("key"),
        F.to_json(F.struct([c for c in enriched.columns])).alias("value"),
        F.concat(F.lit("raw-tweets-"), F.col("region_id")).alias("topic"),
    )


@op("sink_kafka", tags=("ref", "sink"))
def sink_kafka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka sink frame: (key, value, topic) per enriched event.

    regionSpout.go:151-163 made real: value = the full enriched record as
    JSON (the intended rawTweet envelope, regionSpout.go:46-51, which the
    reference declared but never used), key = region (broker-side
    partition affinity), topic = per-region routing. This exact frame
    feeds ``sources.streams.kafka_sink`` in production; rows-only here
    (JSON text formatting is engine-specific) — route_by_key and
    proj_serialize oracle-check the routing and serialization logic.
    """
    events = with_coords(load(spark, sf_dir, "events"))
    enriched = enrich(events, locations_df(spark))
    return serialized_sink_frame(enriched.select("event_id", "ts", "region_id", "lon", "lat"))
