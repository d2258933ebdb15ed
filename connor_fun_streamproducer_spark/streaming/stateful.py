"""Custom keyed streaming state — the reference's monitor made real.

The reference keeps one atomic counter per region, bumped per record
(/root/reference/regionSpout.go:154), read-and-reset by a monitor loop
every 30 s (regionSpout.go:102-111), with a stubbed restart policy
(regionSpout.go:113-115). That is exactly a keyed state machine over a
stream: per-interval delta + running total per key.

Engine form: ``applyInPandasWithState`` — Spark's arbitrary-stateful
operator. The events fixture is re-laid-out one micro-batch per week
(week-partitioned parquet + maxFilesPerTrigger=1), so each batch plays the
role of one monitor interval. Per batch and key the function emits
(delta, running total, intervals seen) and updates state — the
read-and-reset semantics, with the totals the reference threw away.

The op stays oracle-checkable because the final aggregation over all
emissions is batch-order-independent: max(running total) == total count,
max(intervals seen) == distinct active weeks.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from connor_fun_streamproducer_spark.catalog import literal_frame, load, scratch_dir
from connor_fun_streamproducer_spark.registry import op

_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("batch_n", T.LongType()),
        T.StructField("cum_n", T.LongType()),
        T.StructField("batches_seen", T.LongType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [T.StructField("cum", T.LongType()), T.StructField("batches", T.LongType())]
)

# Streaming schema for the day-partitioned copy (ts already microseconds
# because the copy is written by Spark itself; day is the partition column).
_DAY_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("day", T.StringType()),
    ]
)


def _counter_machine(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-key interval counter: delta per batch, running total in state.

    regionSpout's loop, one key at a time: `n` is what its 30 s printout
    showed before the reset; `cum`/`batches` is the history it discarded.
    """
    n = sum(len(p) for p in pdfs)
    cum, batches = state.get if state.exists else (0, 0)
    cum, batches = cum + n, batches + 1
    state.update((cum, batches))
    yield pd.DataFrame(
        {"user_id": [key[0]], "batch_n": [n], "cum_n": [cum], "batches_seen": [batches]}
    )


def day_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events as one parquet file per week (micro-batch fixture).

    repartition("day") puts each week in exactly one task, so partitionBy
    writes exactly one file per week directory — with maxFilesPerTrigger=1
    the stream then replays one week per micro-batch.
    """
    path = scratch_dir(sf_dir, "events_by_day")
    (
        load(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("day"))
        .repartition("day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(path)
    )
    return path


@op(
    "stream_stateful",
    oracle="""
    SELECT user_id,
           count(*)                                       AS n_events,
           CAST(count(DISTINCT date_trunc('week', ts)) AS BIGINT) AS n_periods
    FROM events
    GROUP BY user_id
    """,
    tags=("ref", "streaming", "stateful"),
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter-with-reset state machine over weekly micro-batches.

    Every batch emits (delta, running total, intervals) per user via
    applyInPandasWithState; the final reduction (max per key) is
    batch-order-independent and equals plain aggregates — which is what
    the oracle checks, while the streaming run itself proves cross-batch
    state survival.
    """
    src = day_partitioned_events(spark, sf_dir)
    sdf = (
        spark.readStream.schema(_DAY_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    emitted = sdf.groupBy("user_id").applyInPandasWithState(
        _counter_machine,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    from connor_fun_streamproducer_spark.sources.streams import run_to_memory

    table = run_to_memory(emitted, output_mode="append")
    return table.groupBy("user_id").agg(
        F.max("cum_n").alias("n_events"), F.max("batches_seen").alias("n_periods")
    )


def tws_available() -> bool:
    """True when transformWithStateInPandas can actually run here.

    The TWS Python runner speaks protobuf to the JVM state server
    (pyspark.sql.streaming.proto); without the google.protobuf package the
    driver worker crashes at init with
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE. This container ships
    no protobuf (and pip installs are off), so the gate decides at call
    time — on a full deployment it returns True and the modern path runs.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _make_counter_processor():
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class CounterProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            # Named state variable = one column family in the RocksDB
            # state store (vs applyInPandasWithState's single opaque
            # tuple): independently evolvable / independently TTL-able.
            self._counter = handle.getValueState("counter", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            n = sum(len(p) for p in rows)
            cum, batches = self._counter.get() if self._counter.exists() else (0, 0)
            cum, batches = cum + n, batches + 1
            self._counter.update((cum, batches))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "batch_n": [n],
                    "cum_n": [cum],
                    "batches_seen": [batches],
                }
            )

        def close(self) -> None:
            pass

    return CounterProcessor()


@op(
    "stream_stateful_tws",
    oracle="""
    SELECT user_id,
           count(*)                                       AS n_events,
           CAST(count(DISTINCT date_trunc('week', ts)) AS BIGINT) AS n_periods
    FROM events
    GROUP BY user_id
    """,
    tags=("ref", "streaming", "stateful"),
)
def stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counter-reset machine on transformWithState (Spark 4 API).

    Same semantics and oracle as ``stream_stateful``, upgraded to the
    modern arbitrary-state operator: named state variables (column
    families) instead of one opaque state tuple, a timer facility for the
    reference's 30 s monitor alarm (unused here — the weekly micro-batch
    IS the interval), and the RocksDB state store provider, which is the
    100 TB posture: state lives off-heap/on-disk per partition instead of
    in executor heap.

    Capability-gated: the TWS Python runner needs google.protobuf, which
    this container lacks (tws_available; pinned in tests/test_streaming.py
    the same way the Kafka connector gap is pinned). Where unavailable the
    op runs the SAME state machine on ``applyInPandasWithState`` — the
    Spark 3.x-compatible fallback the operator would keep in production
    anyway — so the semantics contract (and oracle) hold on every
    deployment while the modern path exercises wherever it can.
    """
    src = day_partitioned_events(spark, sf_dir)
    sdf = (
        spark.readStream.schema(_DAY_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    from connor_fun_streamproducer_spark.sources.streams import run_to_memory

    if tws_available():
        emitted = sdf.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_make_counter_processor(),
            outputStructType=_OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
        table = run_to_memory(
            emitted,
            output_mode="append",
            extra_confs={
                # transformWithState requires the RocksDB provider.
                "spark.sql.streaming.stateStore.providerClass": (
                    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
                )
            },
        )
    else:
        emitted = sdf.groupBy("user_id").applyInPandasWithState(
            _counter_machine,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        table = run_to_memory(emitted, output_mode="append")
    return table.groupBy("user_id").agg(
        F.max("cum_n").alias("n_events"), F.max("batches_seen").alias("n_periods")
    )


@op(
    "rate_stagger",
    oracle="""
    SELECT CAST(count(DISTINCT date_trunc('week', ts)) AS BIGINT) AS n_batches,
           count(*) AS n_rows
    FROM events
    """,
    tags=("ref", "streaming", "source"),
)
def rate_stagger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission pacing: one source file admitted per micro-batch.

    The engine form of the reference's 30 s spout stagger
    (regionSpout.go:98): ``maxFilesPerTrigger=1`` bounds each trigger to
    one file of the week-partitioned fixture, so the number of (non-empty)
    micro-batches MUST equal the number of week files — which the oracle
    can compute as the distinct-week count, making the pacing contract
    itself hash-checkable, not just a config knob. The foreachBatch sink
    records per-epoch admitted row counts; the op returns
    (n_batches, n_rows) = (#week files replayed one-per-trigger, total
    rows admitted across all batches — i.e. nothing dropped or doubled).
    """
    src = day_partitioned_events(spark, sf_dir)
    sdf = (
        spark.readStream.schema(_DAY_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    seen: list[tuple[int, int]] = []

    def take(df: DataFrame, epoch_id: int) -> None:
        n = df.count()
        if n:
            seen.append((epoch_id, n))

    q = sdf.writeStream.foreachBatch(take).outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return literal_frame(
        spark,
        [(len(seen), sum(n for _, n in seen))], "n_batches bigint, n_rows bigint"
    )


@op(
    "join_stream_stream",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 MINUTE
    """,
    tags=("ext", "streaming", "join"),
)
def join_stream_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: clicks within 1 minute after a purchase.

    Both sides are watermarked and the join condition is time-bounded —
    the two requirements that let Spark evict join state instead of
    buffering both streams forever. Inner-join emissions are exactly the
    matched pairs, so the drained result equals the SQL join.
    """
    from connor_fun_streamproducer_spark.sources.streams import events_stream, run_to_memory

    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withColumnRenamed("ts", "p_ts")
        .withColumnRenamed("event_id", "purchase_id")
        .withWatermark("p_ts", "10 minutes")
        .select("purchase_id", "user_id", "p_ts")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withColumnRenamed("ts", "c_ts")
        .withColumnRenamed("event_id", "click_id")
        .withColumnRenamed("user_id", "c_user_id")
        .withWatermark("c_ts", "10 minutes")
        .select("click_id", "c_user_id", "c_ts")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 MINUTE")),
        "inner",
    ).select("purchase_id", "click_id", "user_id")
    return run_to_memory(joined, output_mode="append")


_OUTER_SAFETY = "INTERVAL 15 MINUTES"  # > watermark delay + join bound


@op(
    "join_stream_stream_outer",
    oracle="""
    WITH cutoff AS (
        SELECT least(max(ts) FILTER (WHERE event_type = 'purchase'),
                     max(ts) FILTER (WHERE event_type = 'click'))
               - INTERVAL 15 MINUTES AS c
        FROM events
    )
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM events p
    LEFT JOIN events c
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 MINUTE
    WHERE p.event_type = 'purchase'
      AND p.ts <= (SELECT c FROM cutoff)
    """,
    tags=("ext", "streaming", "join"),
)
def join_stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every purchase emits, matched to
    in-window clicks or to null once the watermark PROVES no click can
    still arrive.

    The semantics inner joins can't give: "purchases with no follow-up
    click" is exactly the null-extended rows, and in streaming those
    rows can only be emitted when the watermark passes the end of the
    purchase's match window (before that, a matching click may still be
    in flight). Two requirements make the state bounded AND the outer
    rows eventually emit: both sides watermarked, and the join condition
    time-bounded — then Spark evicts purchase state at watermark and
    emits the null row at eviction. The final no-data micro-batch
    (noDataMicroBatches, on by default) flushes evictions after the last
    file, so the drained sink is deterministic.

    The one caveat IS the op's teaching point: rows younger than
    (watermark delay + join bound) at end-of-stream are still unproven —
    no engine can know whether their click is merely late. And the
    watermark that decides "proven" is PER SIDE: even though the
    watermark column is attached before the type filter, Catalyst
    pushes that filter below the EventTimeWatermark node (it doesn't
    reference the watermark column), so each side's watermark advances
    only with its own event type and the join's effective watermark is
    the MIN of the two. Output (and oracle) therefore restrict to
    purchases older than a 15-minute safety cutoff below
    least(max purchase ts, max click ts) — the region where streaming
    left-outer and batch left-join provably agree; this boundary was
    confirmed empirically (a purchase inside the min-watermark gap is
    held in state at drain, exactly as the model predicts).
    """
    from connor_fun_streamproducer_spark.catalog import load as _load
    from connor_fun_streamproducer_spark.sources.streams import (
        events_stream,
        run_to_memory,
    )

    cutoff = (
        _load(spark, sf_dir, "events")
        .agg(
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("mp"),
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("mc"),
        )
        .selectExpr(f"least(mp, mc) - {_OUTER_SAFETY} AS c")
        .collect()[0]["c"]
    )
    base = events_stream(spark, sf_dir)
    purchases = (
        base.withColumnRenamed("ts", "p_ts")
        .withWatermark("p_ts", "10 minutes")
        .filter(F.col("event_type") == "purchase")
        .withColumnRenamed("event_id", "purchase_id")
        .select("purchase_id", "user_id", "p_ts")
    )
    clicks = (
        base.withColumnRenamed("ts", "c_ts")
        .withWatermark("c_ts", "10 minutes")
        .filter(F.col("event_type") == "click")
        .withColumnRenamed("event_id", "click_id")
        .withColumnRenamed("user_id", "c_user_id")
        .select("click_id", "c_user_id", "c_ts")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 MINUTE")),
        "leftOuter",
    )
    drained = run_to_memory(
        joined.select("purchase_id", "click_id", "user_id", "p_ts"),
        output_mode="append",
    )
    return drained.filter(F.col("p_ts") <= F.lit(cutoff)).select(
        "purchase_id", "click_id", "user_id"
    )
