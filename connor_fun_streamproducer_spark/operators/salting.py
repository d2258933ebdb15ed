"""Hot-key join salting — the manual skew cure as a first-class operator."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connor_fun_streamproducer_spark.catalog import literal_frame, load
from connor_fun_streamproducer_spark.registry import op

@op(
    "join_skew_salted",
    oracle="""
    SELECT e.event_type,
           count(*) AS n,
           round(sum(e.value * CAST(d.weight AS DOUBLE)), 4) AS weighted
    FROM events e
    JOIN (VALUES ('click', 1.0), ('view', 0.1), ('purchase', 10.0),
                 ('signup', 5.0), ('error', 0.0)) AS d(event_type, weight)
      ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
    tags=("ext", "join", "scale"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join via salting: the manual skew cure when AQE can't help.

    A shuffle join keyed on a 5-value column puts each hot key in ONE
    task — the straggler pattern. Salting widens it: the fact side gets a
    deterministic salt (event_id % 8), the other side is replicated once
    per salt value, and the join key becomes (key, salt) — 40 evenly
    sized partitions instead of 5 hot ones. Join semantics are unchanged
    (each fact row still matches exactly its key's row), which is what
    the plain-SQL oracle checks; the rewrite is pure physical-layout.

    When to reach for it at 100 TB: BOTH sides too large to broadcast
    and the key histogram is spiked (AQE's skew-join split only handles
    the sorted-merge path and only per-partition — salting also fixes
    the downstream groupBy on the same hot key). For broadcastable dims,
    broadcast instead — this op forces the shuffle path purely to
    exercise the mechanics honestly (hint("merge")).
    """
    SALTS = 8
    ev = load(spark, sf_dir, "events")
    dim = literal_frame(
        spark,
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0), ("signup", 5.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    salted = ev.withColumn("salt", (F.col("event_id") % SALTS).cast("int"))
    dim_rep = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(SALTS)]))
    )
    joined = salted.hint("merge").join(dim_rep, ["event_type", "salt"])
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value") * F.col("weight")), 4).alias("weighted"),
    )
