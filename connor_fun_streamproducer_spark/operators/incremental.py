"""Incremental / temporal batch operators: gaps-and-islands
sessionization, CDC-style latest-wins merge, and value histograms.

The reference's stream is sessionless and at-most-once (events fan out
per region and are forgotten, /root/reference/regionSpout.go:124-160);
these supply the batch twins a warehouse needs around that stream:
replaying an event log into sessions (the batch form of
``stream_session``), folding a change feed into a dimension snapshot
(the MERGE/upsert every ingest pipeline runs), and distribution
profiling. All three are pure DataFrame plans — one keyed shuffle each,
no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from connor_fun_streamproducer_spark.catalog import epoch_seconds, load, scratch_dir
from connor_fun_streamproducer_spark.registry import op

# Session gap threshold (seconds). Fixture events average ~1/day/user, so
# 6 h splits users into many short sessions.
SESSION_GAP_S = 21600

# Change rows whose o_orderkey hits this modulus model INSERTs of
# previously-unseen keys (the WHEN NOT MATCHED arm).
_INSERT_MOD = 97
_INSERT_KEY_OFFSET = 1_000_000

HIST_BUCKET_WIDTH = 50_000
HIST_N_BUCKETS = 10


@op(
    "win_sessionize",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, sec,
               CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id
                                              ORDER BY sec, event_id)
                         > {SESSION_GAP_S}
                    OR lag(sec) OVER (PARTITION BY user_id
                                      ORDER BY sec, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM e
    ), sess AS (
        SELECT user_id, event_id, sec,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           CAST(session_seq AS BIGINT) AS session_seq,
           CAST(count(*) AS BIGINT)    AS n_events,
           min(sec)                    AS start_s,
           max(sec) - min(sec)         AS duration_s
    FROM sess
    GROUP BY user_id, session_seq
    """,
    tags=("ext", "window", "temporal"),
)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands, 6 h inactivity gap).

    The batch replay of ``stream_session`` over the event log: a new
    session starts where the gap to the previous event of the same user
    exceeds the threshold; the session id is the running sum of those
    boundary flags. One shuffle on user_id serves the lag window, the
    running sum, AND the final per-session aggregate — Catalyst reuses
    the (user_id) hash partitioning across all three, so at 100 TB the
    plan is scan → one exchange → three window/agg stages pipelined in
    one task per key range. Skewed power users are bounded by their own
    event counts, not the corpus.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", epoch_seconds("ts").alias("sec")
    )
    order = Window.partitionBy("user_id").orderBy("sec", "event_id")
    prev = F.lag("sec").over(order)
    flagged = e.withColumn(
        "new_sess",
        F.when(prev.isNull() | ((F.col("sec") - prev) > SESSION_GAP_S), 1).otherwise(0),
    )
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn("session_seq", F.sum("new_sess").over(running))
    return sess.groupBy("user_id", F.col("session_seq").cast("bigint").alias("session_seq")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min("sec").alias("start_s"),
        (F.max("sec") - F.min("sec")).alias("duration_s"),
    )


@op(
    "merge_upsert",
    oracle=f"""
    WITH changes AS (
        SELECT CASE WHEN o_orderkey % {_INSERT_MOD} = 0
                    THEN o_custkey + {_INSERT_KEY_OFFSET}
                    ELSE o_custkey END AS cust_key,
               o_totalprice AS balance,
               o_orderkey   AS seq,
               1            AS prio
        FROM orders
    ), base AS (
        SELECT c_custkey AS cust_key, c_acctbal AS balance,
               CAST(0 AS BIGINT) AS seq, 0 AS prio
        FROM customer
    ), u AS (
        SELECT *, row_number() OVER (PARTITION BY cust_key
                                     ORDER BY prio DESC, seq DESC) AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM changes)
    )
    SELECT cust_key, balance,
           CASE prio WHEN 1 THEN 'change' ELSE 'base' END AS src
    FROM u WHERE rn = 1
    """,
    tags=("ext", "incremental"),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-wins MERGE: fold a change feed into a snapshot.

    Orders act as a balance-update feed against the customer dimension
    (sequence = o_orderkey); every ~97th change carries an unseen key and
    exercises the WHEN-NOT-MATCHED insert arm. Instead of the textbook
    full-outer join + coalesce (two shuffles: pre-aggregate the feed,
    then join), base and feed are unioned with a precedence rank and one
    row_number window picks the winner per key — a single shuffle on the
    merge key, the shape Delta/Iceberg MERGE compiles to when the feed
    isn't pre-deduplicated. At 100 TB the union shuffles once on
    cust_key; AQE handles hot keys; no broadcast of anything unbounded.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    changes = o.select(
        F.when(F.col("o_orderkey") % _INSERT_MOD == 0, F.col("o_custkey") + _INSERT_KEY_OFFSET)
        .otherwise(F.col("o_custkey"))
        .alias("cust_key"),
        F.col("o_totalprice").alias("balance"),
        F.col("o_orderkey").alias("seq"),
        F.lit(1).alias("prio"),
    )
    base = c.select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_acctbal").alias("balance"),
        F.lit(0).cast("bigint").alias("seq"),
        F.lit(0).alias("prio"),
    )
    w = Window.partitionBy("cust_key").orderBy(F.desc("prio"), F.desc("seq"))
    return (
        base.unionByName(changes)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cust_key",
            "balance",
            F.when(F.col("prio") == 1, F.lit("change")).otherwise(F.lit("base")).alias("src"),
        )
    )


_CDC_ORACLE = f"""
    WITH changes AS (
        SELECT CASE WHEN o_orderkey % {_INSERT_MOD} = 0
                    THEN o_custkey + {_INSERT_KEY_OFFSET}
                    ELSE o_custkey END AS cust_key,
               o_totalprice AS balance,
               o_orderkey   AS seq,
               1            AS prio
        FROM orders
    ), base AS (
        SELECT c_custkey AS cust_key, c_acctbal AS balance,
               CAST(0 AS BIGINT) AS seq, 0 AS prio
        FROM customer
    ), u AS (
        SELECT *, row_number() OVER (PARTITION BY cust_key
                                     ORDER BY prio DESC, seq DESC) AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM changes)
    )
    SELECT cust_key, balance,
           CASE prio WHEN 1 THEN 'change' ELSE 'base' END AS src
    FROM u WHERE rn = 1
    """

# Micro-batches the change feed is streamed in.
_CDC_CHUNKS = 4


def _latest_wins(snapshot: DataFrame, batch: DataFrame) -> DataFrame:
    """One MERGE step: fold a change batch into a snapshot, max-seq wins.

    Winner selection is a max over the (prio, seq) total order, so the
    fold is associative — applying it per micro-batch in ANY chunking of
    the feed yields the same snapshot as one global merge, which is what
    lets the oracle ignore batch boundaries entirely.
    """
    w = Window.partitionBy("cust_key").orderBy(F.desc("prio"), F.desc("seq"))
    return (
        snapshot.unionByName(batch)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@op("stream_cdc_merge", oracle=_CDC_ORACLE, tags=("ext", "incremental", "streaming"))
def stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC MERGE: a change feed folded into a snapshot per
    micro-batch — the streaming twin of ``merge_upsert``.

    The orders feed is split into four files and streamed one file per
    trigger; ``foreachBatch`` reads the current snapshot parquet,
    applies the latest-wins merge, and writes the next snapshot version
    (epoch-keyed directory, so a replayed epoch overwrites itself —
    idempotent, exactly-once state). Because the merge step is
    associative (max over a total order), the drained stream's final
    snapshot equals the batch oracle regardless of how the feed was
    chunked — the full-oracle check streaming MERGE pipelines rarely
    get. At 100 TB each step is one (cust_key) shuffle of snapshot +
    batch, the same shape Delta/Iceberg MERGE executes per commit; the
    snapshot never transits the driver.
    """
    import os
    import shutil

    root = scratch_dir(sf_dir, "cdc_merge")
    shutil.rmtree(root, ignore_errors=True)
    feed_dir = os.path.join(root, "feed")
    snap_dir = os.path.join(root, "snap")

    o = load(spark, sf_dir, "orders")
    changes = o.select(
        F.when(F.col("o_orderkey") % _INSERT_MOD == 0, F.col("o_custkey") + _INSERT_KEY_OFFSET)
        .otherwise(F.col("o_custkey"))
        .alias("cust_key"),
        F.col("o_totalprice").alias("balance"),
        F.col("o_orderkey").alias("seq"),
        F.lit(1).alias("prio"),
    )
    changes.repartition(_CDC_CHUNKS).write.mode("overwrite").parquet(feed_dir)

    base = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_acctbal").alias("balance"),
        F.lit(0).cast("bigint").alias("seq"),
        F.lit(0).alias("prio"),
    )
    state = {"path": os.path.join(snap_dir, "epoch=base")}
    base.write.mode("overwrite").parquet(state["path"])

    feed = spark.readStream.schema(changes.schema).option("maxFilesPerTrigger", 1).parquet(
        feed_dir
    )

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        snapshot = spark.read.parquet(state["path"])
        nxt = os.path.join(snap_dir, f"epoch={epoch_id}")
        _latest_wins(snapshot, batch_df).write.mode("overwrite").parquet(nxt)
        state["path"] = nxt

    q = feed.writeStream.foreachBatch(merge_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    final = spark.read.parquet(state["path"])
    return final.select(
        "cust_key",
        "balance",
        F.when(F.col("prio") == 1, F.lit("change")).otherwise(F.lit("base")).alias("src"),
    )


@op(
    "agg_histogram",
    oracle=f"""
    SELECT CAST(least(floor(o_totalprice / {HIST_BUCKET_WIDTH}),
                      {HIST_N_BUCKETS - 1}) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT)        AS n_orders,
           round(sum(o_totalprice), 2)     AS total_value
    FROM orders
    GROUP BY 1
    """,
    tags=("ext", "agg"),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (10 × 50 k buckets, top-clamped).

    The distribution profile every pipeline runs before choosing join
    strategies and skew mitigations. Bucketing is a pure projection, the
    aggregate has ≤ 10 groups — partial sums combine map-side and the
    exchange moves tens of rows regardless of input size. The same plan
    at 100 TB is scan-bound, which is the point: histogramming must never
    cost more than the scan.
    """
    o = load(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / HIST_BUCKET_WIDTH), F.lit(HIST_N_BUCKETS - 1)
    ).cast("bigint")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
        )
    )


@op(
    "merge_scd2",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, event_type, sec,
               CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                               ORDER BY sec, event_id) IS NULL
                    OR lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY sec, event_id) <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM e
    ), runs AS (
        SELECT user_id, event_type, sec,
               sum(chg) OVER (PARTITION BY user_id ORDER BY sec, event_id
                              ROWS UNBOUNDED PRECEDING) AS version_seq
        FROM flagged
    ), versions AS (
        SELECT user_id,
               CAST(version_seq AS BIGINT) AS version_seq,
               min(event_type)             AS attr_value,
               min(sec)                    AS valid_from_s,
               CAST(count(*) AS BIGINT)    AS n_events
        FROM runs
        GROUP BY user_id, version_seq
    )
    SELECT user_id, version_seq, attr_value, valid_from_s,
           lead(valid_from_s) OVER (PARTITION BY user_id
                                    ORDER BY version_seq) AS valid_to_s,
           CAST(lead(valid_from_s) OVER (PARTITION BY user_id
                                         ORDER BY version_seq) IS NULL
                AS BOOLEAN) AS is_current,
           n_events
    FROM versions
    """,
    tags=("ext", "temporal", "cdc"),
)
def merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: a change feed → validity intervals.

    The warehouse dimension-history pattern: treating each user's event
    stream as a changing attribute (event_type), consecutive runs of an
    unchanged value collapse into one version row carrying
    [valid_from, valid_to) and an is_current flag on the open interval.
    Gaps-and-islands again (the win_sessionize machinery keyed on value
    CHANGE instead of time gap), then a lead window over the per-version
    aggregate closes each interval with its successor's start. All four
    stages — lag flag, running sum, version aggregate, lead close — sit
    on the SAME (user_id) partitioning, so Catalyst plans ONE exchange
    for the whole history build; at 100 TB the cost is a single keyed
    shuffle of the feed plus per-user linear work, and a skewed user
    bounds only its own partition. A true MERGE INTO a stored SCD2 table
    adds the crossover-row split (close + insert) per batch — the
    stream_cdc_merge op holds that epoch-keyed idempotent form.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", epoch_seconds("ts").alias("sec")
    )
    order = Window.partitionBy("user_id").orderBy("sec", "event_id")
    prev = F.lag("event_type").over(order)
    flagged = e.withColumn(
        "chg", F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    )
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runs = flagged.withColumn("version_seq", F.sum("chg").over(running))
    versions = runs.groupBy(
        "user_id", F.col("version_seq").cast("bigint").alias("version_seq")
    ).agg(
        F.min("event_type").alias("attr_value"),
        F.min("sec").alias("valid_from_s"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    close = Window.partitionBy("user_id").orderBy("version_seq")
    valid_to = F.lead("valid_from_s").over(close)
    return versions.select(
        "user_id",
        "version_seq",
        "attr_value",
        "valid_from_s",
        valid_to.alias("valid_to_s"),
        valid_to.isNull().alias("is_current"),
        "n_events",
    )


# Rows whose orderkey hits this modulus form the "today" delta batch; the
# rest is the maintained base snapshot.
_IVM_DELTA_MOD = 7


@op(
    "ivm_delta_agg",
    oracle="""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0, 2)
               AS total,
           floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
                 / count(*) * 10000) / 10000 AS avg_price
    FROM orders
    GROUP BY o_custkey
    """,
    tags=("ext", "incremental", "agg", "scale"),
)
def ivm_delta_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: merge the delta batch's PARTIAL
    aggregates into the maintained per-customer aggregate — never
    rescan the base.

    The materialized-view principle that makes 100 TB aggregation
    serviceable: for decomposable aggregates, keep (count, sum) partials
    per group; a new batch aggregates ALONE (delta-sized work) and merges
    by summing partials; algebraic results (avg = sum/n) derive at read
    time from the merged partials. Here the orders table splits into a
    base snapshot and a delta batch (orderkey mod 7), each aggregates
    independently, and the merge is a union + re-aggregation of partial
    columns — the oracle aggregates the FULL table directly, so the
    hash-match proves maintenance == recompute. At 100 TB the base
    partials live as a stored table and only the merge runs per batch:
    work is O(delta + |groups|), not O(base). Sums merge in exact
    integer cents so maintenance order can never drift the result.
    """
    o = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    base = o.filter(F.col("o_orderkey") % _IVM_DELTA_MOD != 0)
    delta = o.filter(F.col("o_orderkey") % _IVM_DELTA_MOD == 0)

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").cast("bigint").alias("p_n"),
            F.sum(cents).alias("p_cents"),
        )

    merged = (
        partials(base)
        .unionByName(partials(delta))
        .groupBy("o_custkey")
        .agg(F.sum("p_n").alias("n"), F.sum("p_cents").alias("c"))
    )
    return merged.select(
        "o_custkey",
        F.col("n").cast("bigint").alias("n_orders"),
        F.round(F.col("c") / 100.0, 2).alias("total"),
        # floor-truncation, not round: cents/8 lands exactly on .xxxx5
        # ties where Spark (HALF_UP) and DuckDB (HALF_EVEN) disagree.
        (F.floor(F.col("c") / 100.0 / F.col("n") * 10000) / 10000).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff (table-versioning change audit)
# ---------------------------------------------------------------------------

_SNAPDIFF_ORACLE = """
WITH a AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders
),
b AS (
    -- Deterministic "next snapshot": key%97 deleted, key%89 price bumped
    -- 5% (integer cents), key%83 status flipped, plus synthetic inserts
    -- re-keyed negative from key%79.
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 83 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
           CASE WHEN o_orderkey % 89 = 0
                THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                     + CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 20
                ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END AS cents
    FROM orders WHERE o_orderkey % 97 <> 0
    UNION ALL
    SELECT -o_orderkey, 'N',
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
    FROM orders WHERE o_orderkey % 79 = 0 AND o_orderkey > 0
)
SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
       CASE WHEN a.o_orderkey IS NULL THEN 'added'
            WHEN b.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type,
       a.cents AS cents_before, b.cents AS cents_after,
       a.o_orderstatus AS status_before, b.o_orderstatus AS status_after
FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
   OR a.cents <> b.cents OR a.o_orderstatus <> b.o_orderstatus
"""


@op(
    "snapshot_diff",
    oracle=_SNAPDIFF_ORACLE,
    tags=("ext", "incremental"),
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between two table snapshots: classify every key
    as added / removed / changed (unchanged rows are dropped), with
    before/after values — the audit query behind every table-format
    time-travel comparison and CDC backfill validation.

    Snapshot B is DERIVED deterministically from snapshot A (modular
    deletes, price bumps, status flips, negative-keyed inserts) so both
    engines diff the identical pair of tables without writing scratch
    data.

    Scale shape: ONE full-outer sort-merge join on the primary key —
    both sides hash-partition on o_orderkey, and at 100 TB this is the
    optimal plan (the two snapshots are the same size; nothing is
    broadcastable). The change classification and value comparison are
    codegen'd projections over the joined row; the `unchanged` drop is
    a post-join filter that eliminates ~99% of rows before anything
    downstream, and money compares in exact integer cents (repo
    convention) so no float-noise false diffs.
    """
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    bumped = (F.col("cents") + F.floor(F.col("cents") / 20).cast("bigint")).alias(
        "cents"
    )
    b = (
        base.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 83 == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            F.when(F.col("o_orderkey") % 89 == 0, bumped)
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
        .unionByName(
            # key 0 is excluded: -0 == 0 would collide with its own
            # deletion (0 % 97 == 0) and misclassify as 'changed'
            base.filter((F.col("o_orderkey") % 79 == 0) & (F.col("o_orderkey") > 0)).select(
                (-F.col("o_orderkey")).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                "cents",
            )
        )
    )
    a = base.select(
        F.col("o_orderkey").alias("key_a"),
        F.col("o_orderstatus").alias("status_before"),
        F.col("cents").alias("cents_before"),
    )
    bb = b.select(
        F.col("o_orderkey").alias("key_b"),
        F.col("o_orderstatus").alias("status_after"),
        F.col("cents").alias("cents_after"),
    )
    joined = a.join(bb, a.key_a == bb.key_b, "full_outer")
    return joined.filter(
        F.col("key_a").isNull()
        | F.col("key_b").isNull()
        | (F.col("cents_before") != F.col("cents_after"))
        | (F.col("status_before") != F.col("status_after"))
    ).select(
        F.coalesce(F.col("key_a"), F.col("key_b")).alias("o_orderkey"),
        F.when(F.col("key_a").isNull(), F.lit("added"))
        .when(F.col("key_b").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change_type"),
        "cents_before",
        "cents_after",
        "status_before",
        "status_after",
    )


# ---------------------------------------------------------------------------
# Materialized-view rollup answering (navigational aggregate reuse)


def daily_revenue_rollup_path(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per sf_dir) the daily revenue rollup — the MV."""
    import os

    from connor_fun_streamproducer_spark.sources.layout import _atomic_write

    path = scratch_dir(sf_dir, "lineitem_daily_rollup")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        daily = (
            load(spark, sf_dir, "lineitem")
            .groupBy(
                F.year("l_shipdate").alias("yr"),
                F.month("l_shipdate").alias("mo"),
                F.dayofmonth("l_shipdate").alias("dy"),
            )
            .agg(
                F.sum(
                    F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
                ).alias("cents"),
                F.count("*").cast("bigint").alias("n"),
            )
        )
        _atomic_write(
            lambda p: daily.write.mode("overwrite").parquet(p), path
        )
    return path


@op(
    "mv_answer_from_rollup",
    oracle="""
    SELECT year(l_shipdate)  AS yr,
           month(l_shipdate) AS mo,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS rev_cents,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    GROUP BY 1, 2
    """,
    tags=("ext", "incremental", "scale"),
)
def mv_answer_from_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Answer a MONTHLY revenue query from a DAILY materialized rollup —
    aggregate navigation, the warehouse move that turns a 100 TB fact
    scan into a scan of days×1 rows.

    The rollup is legal to reuse because its aggregates are MERGEABLE:
    sum-of-day-sums == month sum, sum-of-day-counts == month count
    (exact integer cents make this bit-exact, where re-summing doubles
    would not be). The oracle computes the month directly from raw
    lineitem, so the hash-match proves the rewrite loses nothing — the
    property a query optimizer's MV-rewrite rule must guarantee before
    it swaps the scan. Non-mergeable aggregates (exact median, count
    DISTINCT) are exactly the ones this rewrite must refuse; their
    rollup forms are the sketch tier (operators/sketches.py: KLL,
    theta) whose mergeability is the whole point.

    At scale: the rollup build is one partial-agg pass paid once (then
    incrementally maintainable — ivm_delta_agg above is the maintenance
    op for exactly this shape); every downstream month/quarter/year
    question reads days-count rows instead of the fact table.
    """
    rollup = spark.read.parquet(daily_revenue_rollup_path(spark, sf_dir))
    return rollup.groupBy("yr", "mo").agg(
        F.sum("cents").cast("bigint").alias("rev_cents"),
        F.sum("n").cast("bigint").alias("n_items"),
    )


_PIT_HIST_CTES = """
    WITH e AS (
        SELECT user_id, event_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec
        FROM events WHERE event_type <> 'purchase'
    ), flagged AS (
        SELECT user_id, event_id, event_type, sec,
               CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                               ORDER BY sec, event_id) IS NULL
                    OR lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY sec, event_id) <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM e
    ), runs AS (
        SELECT user_id, event_type, sec,
               sum(chg) OVER (PARTITION BY user_id ORDER BY sec, event_id
                              ROWS UNBOUNDED PRECEDING) AS version_seq
        FROM flagged
    ), versions AS (
        SELECT user_id,
               CAST(version_seq AS BIGINT) AS version_seq,
               min(event_type)             AS attr_value,
               min(sec)                    AS valid_from_s
        FROM runs
        GROUP BY user_id, version_seq
    ), hist AS (
        SELECT user_id, version_seq, attr_value, valid_from_s,
               lead(valid_from_s) OVER (PARTITION BY user_id
                                        ORDER BY version_seq) AS valid_to_s
        FROM versions
    )
"""


def scd2_nonpurchase_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history of each user's NON-purchase activity — the dimension
    side of join_point_in_time (purchases are its facts, so they are
    excluded from the attribute timeline). Same single-exchange window
    chain as merge_scd2."""
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") != "purchase")
        .select("user_id", "event_id", "event_type", epoch_seconds("ts").alias("sec"))
    )
    order = Window.partitionBy("user_id").orderBy("sec", "event_id")
    prev = F.lag("event_type").over(order)
    flagged = e.withColumn(
        "chg", F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    )
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runs = flagged.withColumn("version_seq", F.sum("chg").over(running))
    versions = runs.groupBy(
        "user_id", F.col("version_seq").cast("bigint").alias("version_seq")
    ).agg(
        F.min("event_type").alias("attr_value"),
        F.min("sec").alias("valid_from_s"),
    )
    close = Window.partitionBy("user_id").orderBy("version_seq")
    return versions.select(
        "user_id",
        "version_seq",
        "attr_value",
        "valid_from_s",
        F.lead("valid_from_s").over(close).alias("valid_to_s"),
    )


@op(
    "join_point_in_time",
    oracle=_PIT_HIST_CTES
    + """
    SELECT p.event_id AS purchase_id,
           p.user_id,
           h.version_seq,
           h.attr_value
    FROM events p
    LEFT JOIN hist h
      ON h.user_id = p.user_id
     AND h.valid_from_s <= CAST(floor(epoch(p.ts)) AS BIGINT)
     AND (h.valid_to_s IS NULL
          OR CAST(floor(epoch(p.ts)) AS BIGINT) < h.valid_to_s)
    WHERE p.event_type = 'purchase'
    """,
    tags=("ext", "temporal", "join", "scale"),
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each PURCHASE matched to the SCD2 version
    of the user's NON-purchase activity state valid at purchase time —
    the canonical "as the world looked then" warehouse join, and the
    training-data form of temporal leakage control (a feature store
    must join features as-of the label's time, never the current row;
    here the label is the purchase, the feature is the browsing state).

    The interval predicate (valid_from <= t < valid_to) never becomes a
    join condition: because SCD2 intervals PARTITION each key's
    timeline, "the version valid at t" == "the latest version starting
    at-or-before t" — an as-of problem. So the op reuses the merge-sort
    carry tape (join_asof_sorted): version-start rows and fact rows
    union into one frame, one (user) exchange + sort, carry-forward of
    the latest version struct, facts keep their carried version. Facts
    before a user's first version (or with no history at all) surface
    typed NULLs — LEFT semantics as a filter decision, same as
    join_asof_left); the null class is real in this corpus — users
    whose first-ever event is a purchase.

    Scale: identical envelope to the as-of tape — single exchange, no
    join nodes, no interval explode; per-user cost linear in
    |versions| + |facts|. The oracle computes the same result from the
    raw interval join, so the hash-match proves the asof-reduction is
    exact, including both NULL classes.
    """
    hist = scd2_nonpurchase_history(spark, sf_dir).select(
        "user_id",
        F.col("valid_from_s").alias("t"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("bigint").alias("purchase_id"),
        "version_seq",
        "attr_value",
    )
    facts = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            epoch_seconds("ts").alias("t"),
            F.lit(1).alias("kind"),
            F.col("event_id").alias("purchase_id"),
            F.lit(None).cast("bigint").alias("version_seq"),
            F.lit(None).cast("string").alias("attr_value"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "kind", "version_seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.last(
        F.when(F.col("kind") == 0, F.struct("version_seq", "attr_value")),
        ignorenulls=True,
    ).over(w)
    return (
        hist.unionByName(facts)
        .withColumn("v", carried)
        .filter(F.col("kind") == 1)
        .select(
            "purchase_id",
            "user_id",
            F.col("v.version_seq").alias("version_seq"),
            F.col("v.attr_value").alias("attr_value"),
        )
    )


# ---------------------------------------------------------------------------
# Partition-scoped backfill (late data -> recompute only affected partitions)
# ---------------------------------------------------------------------------

_BACKFILL_MOD = 11  # orderkey % MOD == 0 rows arrive "late"

_BACKFILL_ORACLE = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
FROM orders
GROUP BY 1
"""


@op(
    "pipeline_backfill_incremental",
    oracle=_BACKFILL_ORACLE,
    tags=("ext", "incremental", "scale"),
)
def pipeline_backfill_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped backfill: late-arriving rows trigger a recompute
    of ONLY the monthly rollup partitions they touch; untouched months
    are spliced through from the maintained view unchanged — the
    standard production answer when the metric is NOT decomposable
    (n_distinct customers cannot be maintained by merging partials, so
    ivm_delta_agg's partial-merge path is unavailable and the choice is
    recompute-affected vs recompute-everything).

    Mechanics: the maintained view is the rollup of on-time rows; the
    late delta's distinct months form the (dimension-bounded, broadcast)
    affected set; affected months recompute from the FULL month slice
    (on-time + late — at 100 TB this is a partition-pruned read of just
    those partitions, which is why the rollup is partitioned by month in
    the first place), everything else left-anti-joins through from the
    old view. The oracle recomputes the whole table, so the hash-match
    proves splice == full recompute — no month double-counted, none
    lost, distinct-counts correct across the splice boundary.

    Scale: work is O(affected partitions + |view|), not O(table); both
    the affected-set join and the anti-join are broadcasts against a
    |months|-bounded frame. Exact integer cents throughout.
    """
    o = load(spark, sf_dir, "orders").select(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        (F.col("o_orderkey") % _BACKFILL_MOD == 0).alias("late"),
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("month").agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.countDistinct("o_custkey").cast("bigint").alias("n_cust"),
            F.sum("cents").cast("bigint").alias("cents"),
        )

    old_view = rollup(o.filter(~F.col("late")))
    affected = o.filter(F.col("late")).select("month").distinct()
    recomputed = rollup(o.join(F.broadcast(affected), "month", "left_semi"))
    untouched = old_view.join(F.broadcast(affected), "month", "left_anti")
    return untouched.unionByName(recomputed)
