"""SparkSession factory.

One session per process, tuned for the driver's harness (local[N], single
JVM) but configured the way a 1000-executor cluster job would be: AQE on
(runtime coalesce + skew-join handling), UTC session time zone (oracle
comparability), Arrow transfer for the Pandas-UDF slow path, and shuffle
partitions sized to the actual parallelism rather than the 200 default.

The reference process equivalent is ``main``'s bootstrap
(/root/reference/regionSpout.go:57-75): env-config → clients → panic on
error. Here the "clients" are one SparkSession and failures raise normally.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

from connor_fun_streamproducer_spark.catalog import REPO_ROOT

# Shuffle partitions: match local core count (the cores this process may
# run on, unless SPARK_GRAFT_CPUS says otherwise); on a real cluster this
# would be ~2-3x total executor cores (and AQE coalesces the excess at
# runtime).
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "connor_fun_spark", cpus: str | None = None) -> SparkSession:
    """Build (or fetch) the process-wide SparkSession.

    Every config below is a 100 TB-posture default, not a local hack:

    - ``spark.sql.adaptive.enabled`` + coalesce + skewJoin: runtime re-plan
      of shuffle partition counts and skew splitting — the safety net for
      skewed region/user keys (the reference's per-region fanout has the
      same skew problem, solved there by one goroutine per region).
    - ``spark.sql.session.timeZone=UTC``: deterministic event-time windows,
      and bit-identical timestamps vs the DuckDB oracle.
    - ``spark.sql.execution.arrow.pyspark.enabled``: Arrow batches for the
      few Pandas-UDF operators (similarity scoring, stateful counters).
    - ``spark.sql.shuffle.partitions``: sized to parallelism; AQE coalesces
      down when partitions are small.
    - ``spark.sql.autoBroadcastJoinThreshold`` stays at default (10 MB) —
      dimension tables (region/nation ≈ the reference's ≤25 locations,
      regionSpout.go:77) broadcast automatically; big joins sort-merge.
    - ``spark.sql.streaming.checkpointFileManagerClass`` =
      ``FileSystemBasedCheckpointFileManager``: every checkpoint file a
      query writes (offsets, commits and source logs, the file sink's
      ``_spark_metadata``, state-store deltas and their checksum files)
      goes through ``FileSystem.create`` + ``rename``. Spark's default,
      the FileContext manager, needs libhadoop's native IO for its
      local-FS calls; without it every file starts several Hadoop shell
      commands. On a shared 4-core host without libhadoop one
      ``createAtomic`` cost 44–115 ms and 20 process creations that way,
      against 13–34 ms and 4 with this manager (three runs of
      ``scripts/fs_op_cost.py``; the times rose with host load, the ratio
      stayed about 3.4×), and a ``stream_regions`` trigger pair writes
      about 15 such files. On the local filesystem both managers end in
      the same atomic ``rename(2)`` and leave the same ``.crc``
      companions. ``get_spark`` only builds
      ``local[N]`` sessions, whose checkpoints are local files; a cluster
      deployment with HDFS checkpoints keeps the FileContext manager
      (whose ``rename(OVERWRITE)`` is atomic on HDFS) in its own session
      config.
    """
    n = cpus or _DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # The driver's events.parquet carries TIMESTAMP(NANOS), which Spark
        # rejects by default; read as nanos-long and let the catalog
        # truncate to microseconds (same truncation DuckDB applies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ICU collation-aware case mapping pays a ~60 s one-time static
        # init in this container; JVM case mapping is semantically
        # identical for ASCII data and matches DuckDB's upper/lower.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # Managed tables (bucketed-join layouts) land in scratch, not the
        # repo root; the in-memory catalog forgets them between sessions,
        # so writers must clean stale locations (operators/scale_patterns).
        .config("spark.sql.warehouse.dir", os.path.join(REPO_ROOT, ".scratch", "spark-warehouse"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


# py4j's "release this Java object" command (GatewayClient.
# garbage_collect_object): sent whenever Python frees a JavaObject,
# including objects that unrelated, earlier code left to the collector.
_PY4J_RELEASE = "m\nd\n"


@contextlib.contextmanager
def py4j_commands(spark: SparkSession):
    """Count the py4j commands Python sends to the JVM inside the
    block; yields a one-cell list that holds the count. Around an op's
    ``fn(spark, sf_dir)`` it is the op's construction cost. Object
    releases are not counted: when Python's collector runs inside the
    block it frees whatever JavaObjects were garbage by then, and that
    traffic belongs to no op."""
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, [0]

    def counting(command, *args, **kwargs):
        if not command.startswith(_PY4J_RELEASE):
            sent[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        client.send_command = send
