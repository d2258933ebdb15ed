"""Streaming semantics the SQL oracle can't express (SURVEY.md §5.2 layer 2):
watermark late-data drops across micro-batches, dedup-within-watermark,
checkpoint restart, and the stall-detection listener.

Each test builds a tiny deterministic file-source stream (one parquet file
per intended micro-batch via maxFilesPerTrigger=1) and asserts exact window
contents — the event-time contract the reference only eyeballed via its
30 s printout (regionSpout.go:106-110).
"""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from connor_fun_streamproducer_spark.streaming.health import StreamHealthMonitor, restart_query


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, schema="event_id long, ts timestamp, user_id long").coalesce(
        1
    ).write.mode("append").parquet(path)


def _ts(s: str):
    from datetime import datetime

    return datetime.fromisoformat(s)


@pytest.fixture
def scratch(tmp_path):
    return str(tmp_path / f"stream_{uuid.uuid4().hex[:8]}")


def test_watermark_drops_late_rows(spark, scratch):
    """A row older than (max event time − watermark delay − window) must be
    dropped once the watermark has advanced past its window."""
    src = scratch + "/src"
    # Batch 1: two windows of data, advancing the watermark to 10:30-5min.
    _write_batch(
        spark,
        src,
        [
            Row(event_id=1, ts=_ts("2024-01-01 10:00:05"), user_id=1),
            Row(event_id=2, ts=_ts("2024-01-01 10:00:10"), user_id=1),
            Row(event_id=3, ts=_ts("2024-01-01 10:30:00"), user_id=1),
        ],
    )
    sdf = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        sdf.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    # Batch 2: one on-time row and one late row for the long-closed 10:00 window.
    _write_batch(
        spark,
        src,
        [
            Row(event_id=4, ts=_ts("2024-01-01 10:31:00"), user_id=1),
            Row(event_id=5, ts=_ts("2024-01-01 10:00:20"), user_id=1),  # late → dropped
        ],
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    out = {r["w"]["start"].isoformat(): r["n"] for r in spark.table(name).collect()}
    # The 10:00 window was finalized with exactly 2 rows — the late event_id=5
    # never reappears (no duplicate/updated emission for that window).
    assert out.get("2024-01-01T10:00:00") == 2, out


def test_dedup_within_watermark(spark, scratch):
    """dropDuplicatesWithinWatermark: duplicates inside the watermark window
    are suppressed; the state for old keys is evicted (bounded memory)."""
    src = scratch + "/src"
    _write_batch(
        spark,
        src,
        [
            Row(event_id=1, ts=_ts("2024-01-01 10:00:00"), user_id=1),
            Row(event_id=1, ts=_ts("2024-01-01 10:00:01"), user_id=1),  # dup, suppressed
            Row(event_id=2, ts=_ts("2024-01-01 10:00:02"), user_id=1),
        ],
    )
    sdf = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = sdf.withWatermark("ts", "1 minute").dropDuplicatesWithinWatermark(["event_id"])
    name = f"dd_{uuid.uuid4().hex[:8]}"
    q = deduped.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    ids = sorted(r.event_id for r in spark.table(name).collect())
    assert ids == [1, 2], ids


def test_checkpoint_restart_resumes_offsets(spark, scratch):
    """Restart-from-checkpoint (the reference's empty stub, regionSpout.go:
    113-115): a restarted query must not re-emit already-committed data."""
    src, ckpt, out = scratch + "/src", scratch + "/ckpt", scratch + "/out"
    _write_batch(spark, src, [Row(event_id=1, ts=_ts("2024-01-01 10:00:00"), user_id=1)])

    def start():
        sdf = (
            spark.readStream.schema("event_id long, ts timestamp, user_id long")
            .parquet(src)
        )
        return (
            sdf.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    q.processAllAvailable()
    assert spark.read.parquet(out).count() == 1

    # Restart from the same checkpoint; add one more row: the old offset is
    # committed, so the restarted query appends only the NEW row (the file
    # sink's _spark_metadata log guarantees exactly-once output files).
    q2 = restart_query(q, start)
    _write_batch(spark, src, [Row(event_id=2, ts=_ts("2024-01-01 10:01:00"), user_id=1)])
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()
    ids = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert ids == [1, 2], f"checkpoint restart broke exactly-once output: {ids}"


def test_tws_gate_documents_environment(spark):
    """stream_stateful_tws is capability-gated: the transformWithState
    Python runner needs google.protobuf, absent from this container (no
    pip). Pin that (a) the gate correctly reports the environment, and
    (b) the API itself exists — i.e. the fallback runs because of the
    documented protobuf gap, not a missing/miswired operator. On a
    protobuf-equipped deployment the gate flips and the modern path runs
    (its correctness is covered by the same oracle either way)."""
    import pytest as _pytest

    from connor_fun_streamproducer_spark.streaming import stateful

    gdf = spark.createDataFrame([(1,)], "a long").groupBy("a")
    assert hasattr(gdf, "transformWithStateInPandas")
    if stateful.tws_available():
        _pytest.skip("protobuf available: modern TWS path active here")
    with _pytest.raises(ImportError):
        from google.protobuf import descriptor  # noqa: F401


def test_stall_triggered_restart_end_to_end(spark, scratch):
    """The complete supervisor loop the reference stubbed out
    (regionSpout.go:113-115): a checkpointed query goes idle, the health
    monitor flags the stall, the supervisor restarts it from the same
    checkpoint, and new data is processed exactly once — committed
    offsets resume, nothing re-emitted."""
    src, ckpt, out = scratch + "/src", scratch + "/ckpt", scratch + "/out"
    _write_batch(spark, src, [Row(event_id=1, ts=_ts("2024-01-01 10:00:00"), user_id=1)])

    def start():
        sdf = (
            spark.readStream.schema("event_id long, ts timestamp, user_id long")
            .parquet(src)
        )
        return (
            sdf.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="300 milliseconds")
            .start()
        )

    stalls: list[str] = []
    mon = StreamHealthMonitor(stall_after=2, on_stall=stalls.append)
    spark.streams.addListener(mon)
    try:
        q = start()
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == 1
        # Source exhausted → idle triggers accumulate → stall flag.
        deadline = time.time() + 30
        while time.time() < deadline and not stalls:
            time.sleep(0.3)
        assert stalls, "monitor never flagged the idle query"
        # Supervisor reaction: restart from the checkpoint.
        q2 = restart_query(q, start)
        _write_batch(spark, src, [Row(event_id=2, ts=_ts("2024-01-01 10:01:00"), user_id=1)])
        q2.processAllAvailable()
        q2.stop()
        q2.awaitTermination()
    finally:
        spark.streams.removeListener(mon)
    ids = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert ids == [1, 2], f"stall-restart loop broke exactly-once output: {ids}"


def test_health_monitor_detects_stall(spark, scratch):
    """The listener must flag a query after N consecutive empty triggers —
    the reference's zero-count stall check (regionSpout.go:113-115), real."""
    src = scratch + "/src"
    _write_batch(spark, src, [Row(event_id=1, ts=_ts("2024-01-01 10:00:00"), user_id=1)])
    stalls: list[str] = []
    mon = StreamHealthMonitor(stall_after=2, on_stall=stalls.append)
    spark.streams.addListener(mon)
    try:
        sdf = (
            spark.readStream.schema("event_id long, ts timestamp, user_id long")
            .parquet(src)
        )
        q = (
            sdf.writeStream.outputMode("append")
            .format("memory")
            .queryName(f"hm_{uuid.uuid4().hex[:8]}")
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        # Let it drain the one file, then idle through several empty triggers.
        deadline = time.time() + 30
        while time.time() < deadline and not stalls:
            time.sleep(0.3)
        q.stop()
        q.awaitTermination()
    finally:
        spark.streams.removeListener(mon)
    assert stalls, "no stall detected"
    st = mon.state[stalls[0]]
    assert st.stalled and st.consecutive_zero >= 2
    assert st.total_rows == 1


def test_events_schema_sniffer_three_way_and_guards(tmp_path):
    """ADVICE r3: tz-aware micros must map to TimestampType (LTZ), not an
    NTZ schema the parquet reader rejects; unreadable first files are
    skipped; an empty custom path fails loudly at construction."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from connor_fun_streamproducer_spark.sources.streams import (
        _events_physical_schema,
    )

    def write(name, ts_type):
        t = pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([1_000_000], ts_type),
                "user_id": pa.array([1], pa.int64()),
                "event_type": pa.array(["a"]),
                "value": pa.array([1.0]),
                "props": pa.array(["{}"]),
            }
        )
        p = str(tmp_path / name)
        pq.write_table(t, p)
        return p

    _, kind = _events_physical_schema([write("ltz.parquet", pa.timestamp("us", tz="UTC"))])
    assert kind == "ltz"
    _, kind = _events_physical_schema([write("ntz.parquet", pa.timestamp("us"))])
    assert kind == "ntz"
    _, kind = _events_physical_schema([write("ns.parquet", pa.timestamp("ns"))])
    assert kind == "long"
    _, kind = _events_physical_schema([write("nstz.parquet", pa.timestamp("ns", tz="UTC"))])
    assert kind == "long"

    # corrupt footer first → skipped, good file wins
    bad = str(tmp_path / "bad.parquet")
    open(bad, "wb").write(b"PAR1 garbage")
    _, kind = _events_physical_schema([bad, str(tmp_path / "ltz.parquet")])
    assert kind == "ltz"
    with pytest.raises(ValueError, match="no readable parquet footer"):
        _events_physical_schema([bad])


def test_events_stream_empty_custom_path_raises(spark, tmp_path):
    import pytest

    from connor_fun_streamproducer_spark.sources.streams import events_stream
    from tests.conftest import SF_DIR

    with pytest.raises(ValueError, match="no parquet files yet"):
        events_stream(spark, SF_DIR, path=str(tmp_path / "empty"))


def test_restart_under_load_no_loss_no_dup(spark, scratch):
    """VERDICT r4 item 6: kill the query MID-STREAM with rows in flight —
    not after a clean drain — and assert the checkpoint restart loses
    nothing and duplicates nothing.

    40 one-row files admitted one per micro-batch feed an epoch-keyed
    idempotent foreachBatch sink (each epoch overwrites its own
    directory — the at-least-once replay of the last uncommitted batch
    lands on the same path instead of appending a duplicate). The query
    is stopped as soon as a few batches have committed, while the source
    backlog is still deep; the relaunch resumes from the WAL offsets and
    drains the rest. Exactly-once is the UNION of both runs' epochs."""
    import glob
    import os

    src, ckpt, out = scratch + "/src", scratch + "/ckpt", scratch + "/out"
    n_rows = 40
    for i in range(n_rows):
        _write_batch(
            spark, src, [Row(event_id=i, ts=_ts("2024-01-01 10:00:00"), user_id=i % 3)]
        )

    def start():
        sdf = (
            spark.readStream.schema("event_id long, ts timestamp, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def write_epoch(batch_df, epoch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out, f"epoch={epoch_id}")
            )

        return (
            sdf.writeStream.foreachBatch(write_epoch)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="50 milliseconds")
            .start()
        )

    q = start()
    # Kill while the backlog is deep: wait for SOME committed output, then
    # stop immediately — whatever batch is executing is interrupted.
    deadline = time.time() + 60
    while time.time() < deadline and len(glob.glob(out + "/epoch=*")) < 5:
        time.sleep(0.05)
    n_before = len(glob.glob(out + "/epoch=*"))
    assert 0 < n_before, "no batch ever committed"
    q.stop()
    q.awaitTermination()
    assert n_before < n_rows, (
        "query drained the whole backlog before the kill — the test never "
        "exercised rows-in-flight; raise n_rows or kill sooner"
    )

    q2 = restart_query(q, start)
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()

    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got == list(range(n_rows)), (
        f"loss/dup after mid-stream kill: {len(got)} rows, "
        f"missing={sorted(set(range(n_rows)) - set(got))[:5]}, "
        f"dups={sorted({x for x in got if got.count(x) > 1})[:5]}"
    )


def test_outer_join_emits_proven_nulls_and_keeps_matches(spark):
    """Left-outer stream-stream join: unmatched purchases in the proven
    region emit exactly one null row; matched purchases carry the same
    clicks the inner form finds."""
    from connor_fun_streamproducer_spark import registry
    from tests.conftest import SF_DIR

    registry._ensure_loaded()
    rows = registry.OPS["join_stream_stream_outer"].fn(spark, SF_DIR).collect()
    nulls = [r for r in rows if r["click_id"] is None]
    matched = {(r["purchase_id"], r["click_id"]) for r in rows if r["click_id"] is not None}
    assert nulls, "watermark-proven unmatched purchases must emit null rows"
    # a purchase is either unmatched (exactly one null row) or matched
    # (never both shapes)
    null_ids = {r["purchase_id"] for r in nulls}
    assert len(null_ids) == len(nulls)
    assert null_ids.isdisjoint({p for p, _ in matched})
    inner = registry.OPS["join_stream_stream"].fn(spark, SF_DIR).collect()
    inner_pairs = {(r["purchase_id"], r["click_id"]) for r in inner}
    assert matched <= inner_pairs


def test_exactly_once_sink_recovers_from_crash_mid_rename(spark, tmp_path):
    """VERDICT r6 item 7: simulate BOTH torn crash states in one run —
    a stale staging dir (crash before rename) and a renamed-but-unlogged
    final dir (crash between rename and commit publish) — plus a
    committed-batch replay. The read side must see exactly the committed
    rows; recovery must neither wedge on the occupied final name
    (ENOTEMPTY) nor trust the unlogged dir's junk contents; staging stays
    invisible throughout."""
    import os

    from connor_fun_streamproducer_spark.streaming.windows import (
        exactly_once_read_committed,
        exactly_once_write_batch,
    )

    out = str(tmp_path / "eo")

    def batch(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS event_id", "CAST(id % 3 AS STRING) AS event_type"
        )

    # normal commits
    assert exactly_once_write_batch(out, batch(0, 100), 0) is True
    assert exactly_once_write_batch(out, batch(100, 200), 1) is True

    # crash state A: staged but never renamed — junk rows that must NEVER
    # become visible under any recovery order
    batch(9000, 9500).write.mode("overwrite").parquet(
        os.path.join(out, "batch=2.staging")
    )
    # crash state B: renamed but never logged — stale junk occupies the
    # final name; the true batch-3 data differs
    batch(8000, 8500).write.mode("overwrite").parquet(os.path.join(out, "batch=3"))

    # before recovery: only batches 0+1 are visible
    assert exactly_once_read_committed(spark, out).count() == 200

    # replay of an already-committed batch: pure no-op
    assert exactly_once_write_batch(out, batch(0, 100), 0) is False
    assert exactly_once_read_committed(spark, out).count() == 200

    # recovery redelivers batches 2 and 3 with their true contents
    assert exactly_once_write_batch(out, batch(200, 300), 2) is True
    assert exactly_once_write_batch(out, batch(300, 400), 3) is True

    got = exactly_once_read_committed(spark, out)
    ids = sorted(r["event_id"] for r in got.collect())
    assert ids == list(range(400))  # exactly the committed rows, no junk
    # torn staging dirs are gone (consumed by recovery), none linger
    assert not [d for d in os.listdir(out) if d.endswith(".staging")]


def test_append_mode_finalizes_window_ending_exactly_at_watermark(spark, tmp_path):
    """The stream_watermark oracle's boundary direction: a window whose
    end equals the final watermark EXACTLY (max ts - 10 min lands on the
    window end) is emitted — Spark's append-mode finalization is `end <=
    watermark`, so the oracle's `<=` is the right predicate."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from connor_fun_streamproducer_spark.sources.streams import (
        events_stream,
        run_to_memory,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, "click", 1.0, "{}"),
        (2, base + datetime.timedelta(seconds=25), 1, "click", 1.0, "{}"),
        # max ts 630 s -> watermark 30 s == end of window [0, 30)
        (3, base + datetime.timedelta(seconds=630), 1, "click", 1.0, "{}"),
    ]
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows]),
        }
    )
    d = tmp_path / "tie"
    d.mkdir()
    pq.write_table(t, str(d / "events.parquet"))
    sdf = events_stream(spark, str(d))
    agg = (
        sdf.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 seconds").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    out = run_to_memory(agg, output_mode="append")
    got = {(str(r["ws"]), r["n"]) for r in out.select(F.col("w.start").alias("ws"), "n").collect()}
    assert ("2024-01-01 00:00:00", 2) in got, got


def test_stream_static_enrich_broadcasts_local_relation(spark, scratch):
    """Every micro-batch of the stream-static enrich re-plans its
    broadcast of the locations dim; the dim must stay a LocalTableScan
    there (no Spark job per trigger), and the stream must tag the same
    rows as the batch enrich over the same files."""
    from connor_fun_streamproducer_spark.streaming.pipeline import (
        enrich,
        locations_df,
        with_coords,
    )

    src = scratch + "/src"
    for b in range(2):
        _write_batch(
            spark,
            src,
            [Row(event_id=50 * b + i, ts=_ts("2024-01-01 10:00:00"), user_id=1) for i in range(50)],
        )
    sdf = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    q = (
        enrich(with_coords(sdf), locations_df(spark))
        .select("event_id", "region_id")
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", scratch + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(batches) >= 2, q.recentProgress
        plan = q._jsq.explainInternal(False)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        static = enrich(with_coords(spark.read.parquet(src)), locations_df(spark))
        got = sorted(tuple(r) for r in spark.table(name).collect())
        assert got == sorted(tuple(r) for r in static.select("event_id", "region_id").collect())
        assert got, "no event fell inside a region box"
    finally:
        q.stop()
        spark.catalog.dropTempView(name)


_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing"


def test_checkpoint_files_go_through_filesystem_manager(spark, tmp_path):
    """The session routes every streaming checkpoint write through Spark's
    FileSystem-based manager (one create + rename per file), not the
    FileContext default, whose local-FS calls start Hadoop shell commands
    when libhadoop is absent. Resolves the manager the way every query
    does; submits no job."""
    jvm = spark._jvm
    mgr = getattr(jvm, _CHECKPOINTING).CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert mgr.getClass().getName() == f"{_CHECKPOINTING}.FileSystemBasedCheckpointFileManager"


def test_stateful_restart_recovers_state_written_by_checkpoint_manager(spark, scratch):
    """A complete-mode count restarted from its checkpoint must resume from
    the state deltas the checkpoint manager wrote: after a third file
    arrives, the restarted query's counts equal a batch count over all
    three files, which a query that lost its state (and counted only the
    third file) cannot produce. Every delta and offsets file keeps its
    integrity companions: Spark's ``<v>.delta.crc`` and Hadoop's ``.<f>.crc``."""
    import glob
    import os

    src, ckpt = scratch + "/src", scratch + "/ckpt"
    files = [[1, 2, 2, 3], [2, 3, 3, 4, 5], [1, 5, 5, 6, 6, 6]]

    def write(i):
        spark.createDataFrame([(k,) for k in files[i]], "k long").coalesce(1).write.parquet(
            f"{src}/f{i}"
        )

    def run():
        name = f"st_{uuid.uuid4().hex[:8]}"
        q = (
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
            .groupBy("k")
            .count()
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
            assert q.exception() is None, q.exception()
            return {r["k"]: r["count"] for r in spark.table(name).collect()}
        finally:
            q.stop()
            spark.catalog.dropTempView(name)

    write(0)
    write(1)
    first = run()
    assert first == {1: 1, 2: 3, 3: 3, 4: 1, 5: 1}, first
    write(2)
    restarted = run()
    batch = spark.read.parquet(src + "/*").groupBy("k").count().collect()
    assert restarted == {r["k"]: r["count"] for r in batch}, restarted

    offsets = glob.glob(ckpt + "/offsets/[0-9]*")
    assert sorted(os.path.basename(f) for f in offsets) == ["0", "1", "2"], offsets
    deltas = glob.glob(ckpt + "/state/0/[0-9]*/*.delta")
    assert {os.path.basename(f) for f in deltas} == {"1.delta", "2.delta", "3.delta"}, deltas
    for f in offsets + deltas:
        head, base = os.path.split(f)
        assert os.path.isfile(f"{head}/.{base}.crc"), f
    for f in deltas:
        assert os.path.isfile(f + ".crc"), f
