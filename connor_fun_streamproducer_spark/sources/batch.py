"""Batch sources & sinks: parquet / json / csv scans, parquet write-read.

The reference's only "scan" is reading locations.json whole into memory
(/root/reference/regionSpout.go:169-184). Engine-side, every format goes
through the DataSource V2 scan machinery: columnar parquet with predicate
pushdown + column pruning; schema'd (never inferred) JSON/CSV.

JSON/CSV round-trips materialize under ``.scratch/`` inside the repo
(regenerated per call, gitignored) because the driver fixtures are
parquet-only; the oracle reads the original parquet — so the comparison
proves the format encode/decode is lossless.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from connor_fun_streamproducer_spark.catalog import load, scratch_dir
from connor_fun_streamproducer_spark.registry import op

_EVENT_SUBSET_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@op(
    "scan_parquet",
    oracle="""
    SELECT l_orderkey, l_partkey, round(l_extendedprice, 4) AS price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    """,
    tags=("ext", "source"),
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar parquet scan with pushed filter + pruned columns.

    The physical plan must show PushedFilters on l_shipdate and a
    4-column ReadSchema (asserted in tests/test_plans.py) — at 100 TB
    this is the difference between scanning 4 columns of one year and
    scanning everything.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") >= "1997-01-01")
        .select("l_orderkey", "l_partkey", F.round("l_extendedprice", 4).alias("price"))
    )


@op(
    "scan_json",
    oracle="SELECT event_id, event_type, round(value, 4) AS value FROM events",
    tags=("ext", "source"),
)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON lines scan with an explicit schema (inference forbidden).

    Writes the events subset as JSON once per call, reads it back
    schema'd; matching the parquet-backed oracle proves the round-trip.
    """
    path = scratch_dir(sf_dir, "events_json")
    src = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    src.write.mode("overwrite").json(path)
    back = spark.read.schema(_EVENT_SUBSET_SCHEMA).json(path)
    return back.select("event_id", "event_type", F.round("value", 4).alias("value"))


@op(
    "scan_csv",
    oracle="SELECT event_id, event_type, round(value, 4) AS value FROM events",
    tags=("ext", "source"),
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with header + explicit schema (no inferSchema pass)."""
    path = scratch_dir(sf_dir, "events_csv")
    src = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    src.write.mode("overwrite").option("header", "true").csv(path)
    back = spark.read.schema(_EVENT_SUBSET_SCHEMA).option("header", "true").csv(path)
    return back.select("event_id", "event_type", F.round("value", 4).alias("value"))


@op(
    "sink_parquet",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 4) AS total
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("ext", "sink"),
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an aggregate to partitioned parquet, read it back.

    partitionBy on the group key — the layout a 100 TB consumer would
    partition-prune on. The read-back equals the oracle's direct
    aggregation, proving the sink round-trip.
    """
    path = scratch_dir(sf_dir, "orders_agg_parquet")
    agg = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 4).alias("total"))
    )
    agg.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path)
    # partitionBy turns the key into a partition column (string-typed on
    # read); restore the original column order and type.
    return back.select(
        F.col("o_orderstatus").cast("string").alias("o_orderstatus"), "n", "total"
    )


@op(
    "scan_binaryfile",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(ascii(substring(text, 1, 1)) + ascii(substring(text, 2, 1))
              + ascii(substring(text, 3, 1)) + ascii(substring(text, 4, 1)) AS BIGINT)
               AS header_sum
    FROM documents
    WHERE doc_id < 50
    """,
    tags=("ext", "source", "multimodal"),
)
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` datasource scan — how media blobs actually enter a
    multimodal pipeline (one file per image/audio clip in object storage).

    Materializes the first 50 documents as individual ``doc_<id>.bin``
    files once, scans them with ``spark.read.format("binaryFile")``
    (yielding path/length/modificationTime/content), recovers the id
    from the path, and computes the same byte-level features as
    ``multimodal_cols`` from the ``content`` column. Matching the
    text-derived oracle proves bytes survive the file round-trip intact.
    At 100 TB the pattern is unchanged: binaryFile scans partition by
    file, ``pathGlobFilter``/partition dirs prune, and content flows to
    mapInPandas extractors without leaving Arrow.
    """
    path = scratch_dir(sf_dir, "binary_docs")
    marker = os.path.join(path, "_done")
    if not os.path.exists(marker):
        rows = (
            load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 50)
            .select("doc_id", "text")
            .collect()
        )
        os.makedirs(path, exist_ok=True)
        for r in rows:
            with open(os.path.join(path, f"doc_{r['doc_id']}.bin"), "wb") as f:
                f.write(r["text"].encode("utf-8"))
        with open(marker, "w") as f:
            f.write("ok")
    scanned = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
    )
    txt = F.decode(F.col("content"), "UTF-8")
    return scanned.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin", 1).cast("bigint").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        (
            F.ascii(F.substring(txt, 1, 1))
            + F.ascii(F.substring(txt, 2, 1))
            + F.ascii(F.substring(txt, 3, 1))
            + F.ascii(F.substring(txt, 4, 1))
        ).cast("bigint").alias("header_sum"),
    )


@op(
    "scan_orc",
    oracle="SELECT event_id, event_type, round(value, 4) AS value FROM events",
    tags=("ext", "source"),
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan (Spark's second built-in columnar format), schema'd.

    Same round-trip proof shape as scan_json/scan_csv: write the events
    subset as ORC, read it back with an explicit schema, match the
    parquet-backed oracle. ORC gets the same scan machinery as parquet —
    predicate pushdown, column pruning, vectorized reader — so a
    warehouse standardized on ORC loses nothing running this engine.
    """
    path = scratch_dir(sf_dir, "events_orc")
    src = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    src.write.mode("overwrite").orc(path)
    back = spark.read.schema(_EVENT_SUBSET_SCHEMA).orc(path)
    return back.select("event_id", "event_type", F.round("value", 4).alias("value"))


N_MALFORMED = 3  # injected garbage lines in the permissive-scan fixture

_PERMISSIVE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ]
)


@op(
    "scan_csv_permissive",
    oracle=f"""
    SELECT CAST(count(*) + {N_MALFORMED} AS BIGINT) AS n_raw,
           CAST(count(*) AS BIGINT)                 AS n_good,
           CAST({N_MALFORMED} AS BIGINT)            AS n_malformed,
           CAST(sum(event_id) AS BIGINT)            AS id_sum
    FROM events
    """,
    tags=("ext", "source"),
)
def scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row handling on a dirty CSV directory — the robustness
    contract crawl-scale ingest actually needs (real 100 TB text drops
    always contain truncated lines, wrong column counts, and unparseable
    values; an ingest that aborts on the first bad row never finishes).

    The fixture injects three garbage lines (wrong arity, wrong
    types, wrong delimiter) next to a clean CSV dump of events, then
    reads the directory twice: as raw text (every line counts) and as
    schema'd CSV under DROPMALFORMED (bad rows silently dropped). The
    oracle pins all three counts AND an id checksum of the survivors —
    proving the reader dropped EXACTLY the injected garbage, not one
    row more or less. Both reads are splittable parallel scans;
    malformed detection is per-row inside the CSV parser, so the
    robustness costs nothing extra at scale. (PERMISSIVE +
    columnNameOfCorruptRecord gives the quarantine-column variant of
    the same contract; DROPMALFORMED is used here because counting via
    the corrupt column requires caching the parsed frame — a
    documented Spark caveat — while the two-scan form stays stateless.)
    """
    path = scratch_dir(sf_dir, "events_csv_dirty")
    marker = os.path.join(path, "_done")
    if not os.path.exists(marker):
        src = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
        src.write.mode("overwrite").csv(path)
        with open(os.path.join(path, "zz-malformed.csv"), "w") as fh:
            fh.write("###,not,a,number,extra\n")
            fh.write("lonely-token\n")
            fh.write("abc,def,ghi\n")
        with open(marker, "w"):
            pass
    raw = spark.read.text(path)
    good = spark.read.schema(_PERMISSIVE_SCHEMA).option("mode", "DROPMALFORMED").csv(path)
    n_raw = raw.count()
    return good.agg(
        F.lit(n_raw).cast("bigint").alias("n_raw"),
        F.count("*").cast("bigint").alias("n_good"),
        (F.lit(n_raw).cast("bigint") - F.count("*")).alias("n_malformed"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
    )


@op(
    "scan_json_multiline",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT)        AS n_docs,
           CAST(sum(n_chars) AS BIGINT)    AS total_chars,
           CAST(sum(doc_id) AS BIGINT)     AS id_sum
    FROM documents
    GROUP BY lang
    """,
    tags=("ext", "source"),
)
def scan_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multiLine JSON scan: one file holding a single pretty-printed
    JSON ARRAY of records (the API-export / config-dump format), read
    with ``multiLine=true`` — the opposite regime from line-delimited
    JSON and the one that surprises at scale: a multiLine file is NOT
    splittable (one record/array can span any byte range), so each
    FILE is one task. The production posture is therefore many
    modest-size array files, exactly what this fixture writes (one
    array file per lang partition of documents; the driver-side collect
    below is fixture CONSTRUCTION at fixture scale, not part of the
    scan under test — a real array drop arrives from the upstream API),
    and the aggregate hash-match proves record fidelity through the
    array codec.
    """
    import json as _json

    d = load(spark, sf_dir, "documents")
    path = scratch_dir(sf_dir, "documents_json_array")
    marker = os.path.join(path, "_done")
    if not os.path.exists(marker):
        os.makedirs(path, exist_ok=True)
        rows = d.select("doc_id", "lang", "n_chars").collect()
        by_lang: dict[str, list] = {}
        for r in rows:
            by_lang.setdefault(r["lang"], []).append(
                {"doc_id": r["doc_id"], "lang": r["lang"], "n_chars": r["n_chars"]}
            )
        for lang, recs in by_lang.items():
            with open(os.path.join(path, f"{lang}.json"), "w") as fh:
                _json.dump(recs, fh, indent=2)
        with open(marker, "w"):
            pass
    back = (
        spark.read.schema("doc_id bigint, lang string, n_chars bigint")
        .option("multiLine", "true")
        .json(os.path.join(path, "*.json"))
    )
    return back.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )


# ---------------------------------------------------------------------------
# Parquet aggregate pushdown (footer-statistics scan)
# ---------------------------------------------------------------------------

_AGG_PUSH_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n,
       round(min(l_extendedprice), 4) AS lo,
       round(max(l_extendedprice), 4) AS hi,
       CAST(count(l_quantity) AS BIGINT) AS n_qty
FROM lineitem
"""


@op(
    "scan_agg_pushdown",
    oracle=_AGG_PUSH_ORACLE,
    tags=("ext", "source", "scale"),
)
def scan_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT/MIN/MAX answered from parquet FOOTER STATISTICS — the scan
    never decodes a data page: with ``spark.sql.parquet.aggregatePushdown``
    on the DSv2 reader, the BatchScan's output IS the aggregate
    (``PushedAggregation: [COUNT(*), MIN(...), MAX(...)]`` in the plan,
    asserted in tests/test_plans.py), and each file contributes one
    pre-aggregated row from metadata. At 100 TB this is the difference
    between a metadata-latency answer and a full-table scan for the
    row-count / value-range probes every pipeline health check runs
    (scan_file_stats_pruning reads the same footers file-at-a-time for
    pruning; this pushes the whole aggregate into the scan operator).

    Column-level null counts (count(col)) also push down when the footer
    carries null counts — included to pin that path too.

    The DSv2 switch (``useV1SourceList=""``) is scoped to THIS op: the
    frame is built under the modified conf and the conf restored before
    returning — Spark binds the scan implementation at read resolution,
    so the returned plan keeps its BatchScan while the session's other
    ops keep their pinned v1 plans. CONCURRENCY CONTRACT: the set/restore
    window mutates session-wide confs, so any op planned on the SAME
    SparkSession from another thread during this window would silently
    bind the DSv2 scan path. Callers planning ops concurrently must hand
    this op its own ``spark.newSession()`` (shared SparkContext, isolated
    conf); the registry/driver/test harnesses plan sequentially.
    """
    conf = spark.conf
    old_v1 = conf.get("spark.sql.sources.useV1SourceList", None)
    old_push = conf.get("spark.sql.parquet.aggregatePushdown", None)
    try:
        conf.set("spark.sql.sources.useV1SourceList", "")
        conf.set("spark.sql.parquet.aggregatePushdown", "true")
        li = load(spark, sf_dir, "lineitem")
        out = li.agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.min("l_extendedprice"), 4).alias("lo"),
            F.round(F.max("l_extendedprice"), 4).alias("hi"),
            F.count("l_quantity").cast("bigint").alias("n_qty"),
        )
        # Force plan resolution under the scoped confs so the restore
        # below cannot flip the scan back to v1.
        out._jdf.queryExecution().executedPlan()
        return out
    finally:
        if old_v1 is None:
            conf.unset("spark.sql.sources.useV1SourceList")
        else:
            conf.set("spark.sql.sources.useV1SourceList", old_v1)
        if old_push is None:
            conf.unset("spark.sql.parquet.aggregatePushdown")
        else:
            conf.set("spark.sql.parquet.aggregatePushdown", old_push)


# ---------------------------------------------------------------------------
# Corrupt-parquet quarantine (ignoreCorruptFiles resilience contract)
# ---------------------------------------------------------------------------


@op(
    "scan_corrupt_quarantine",
    oracle="""
    SELECT CAST(3 AS BIGINT) AS n_files_total,
           CAST(1 AS BIGINT) AS n_files_corrupt,
           CAST(count(*) AS BIGINT) AS n_good_rows,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events
    """,
    tags=("ext", "source"),
)
def scan_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-file resilience: a table directory holding two good
    parquet files and one torn/garbage ``.parquet`` (the truncated
    upload / bad object-store replica every 100 TB lake eventually
    grows) is read under ``spark.sql.files.ignoreCorruptFiles`` — the
    scan survives, yields exactly the good files' rows, and the corrupt
    member is identified by a footer probe so it can be quarantined
    rather than silently ignored forever.

    The oracle pins the id-checksum of ALL events rows plus the literal
    file census (3 files, 1 corrupt): proving the reader dropped the
    garbage file and only it — the same exactly-the-garbage discipline
    as scan_csv_permissive, at file granularity instead of row.

    Tolerance is scoped as a per-read datasource option (never the
    session conf — leaking ignoreCorruptFiles engine-wide would mask
    real corruption elsewhere); the footer probe reads 8 bytes per file (magic check),
    which is the metadata-cost quarantine listing a production
    compactor would persist. Splittability and predicate pushdown on
    the surviving files are unchanged — resilience costs nothing on the
    good path.
    """
    path = scratch_dir(sf_dir, "events_parquet_torn")
    marker = os.path.join(path, "_done")
    if not os.path.exists(marker):
        ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
        ev.filter(F.col("event_id") % 2 == 0).repartition(1).write.mode(
            "overwrite"
        ).parquet(path)
        ev.filter(F.col("event_id") % 2 == 1).repartition(1).write.mode(
            "append"
        ).parquet(path)
        with open(os.path.join(path, "zz-torn.parquet"), "wb") as fh:
            fh.write(b"PAR1\x00\x13\x37this is not a parquet footer")
        with open(marker, "w"):
            pass
    files = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith(".")
    )

    def _is_corrupt(p: str) -> bool:
        with open(p, "rb") as fh:
            fh.seek(-4, os.SEEK_END)
            return fh.read(4) != b"PAR1"

    corrupt = [f for f in files if _is_corrupt(os.path.join(path, f))]
    # Per-READ datasource option, not the session conf: ignoreCorruptFiles
    # is consulted at execution time, so a set/restore around plan
    # binding would not survive until collect — and leaking the session
    # conf would mask real corruption in every other op. The reader
    # option scopes the tolerance to exactly this scan.
    good = spark.read.option("ignoreCorruptFiles", "true").parquet(path)
    return good.agg(
        F.lit(len(files)).cast("bigint").alias("n_files_total"),
        F.lit(len(corrupt)).cast("bigint").alias("n_files_corrupt"),
        F.count("*").cast("bigint").alias("n_good_rows"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
    )
