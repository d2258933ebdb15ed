"""UDF / UDAF / UDTF surface — the sanctioned Python escape hatches.

Ordering of preference (SURVEY.md §4.2, pyspark guide): built-in functions
first; Arrow-vectorized pandas UDFs when Python is unavoidable;
row-at-a-time Python UDFs never in a hot path. Every op below is
deliberately oracle-expressible so the Python path itself is what gets
verified — the same formulas computed by DuckDB in SQL must hash-match the
Arrow-batched Python results.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from connor_fun_streamproducer_spark.catalog import load
from connor_fun_streamproducer_spark.registry import op


@F.pandas_udf(T.DoubleType())
def _engagement_score(value: pd.Series, et_len: pd.Series) -> pd.Series:
    """Vectorized scalar pandas UDF: one Arrow batch in, one out."""
    return (value * 1.1 + et_len * 2.0).round(4)


@op(
    "udf_scalar",
    oracle="""
    SELECT event_id,
           round(value * 1.1 + length(event_type) * 2.0, 4) AS score
    FROM events
    """,
    tags=("ext", "udf"),
)
def udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched scalar pandas UDF (vs the same formula in SQL).

    ~10-100× faster than a row-at-a-time Python UDF: the column ships to
    the worker as Arrow batches and the arithmetic is numpy-vectorized.
    """
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        _engagement_score(F.col("value"), F.length("event_type").cast("double")).alias("score"),
    )


def _user_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map UDAF body: whole group in, one summary row out."""
    return pd.DataFrame(
        {
            "user_id": [pdf["user_id"].iloc[0]],
            "n_events": [len(pdf)],
            "mean_value": [round(pdf["value"].mean(), 4)],
            "value_range": [round(pdf["value"].max() - pdf["value"].min(), 4)],
        }
    )


@op(
    "udaf_grouped",
    oracle="""
    SELECT user_id,
           count(*)                           AS n_events,
           round(avg(value), 4)               AS mean_value,
           round(max(value) - min(value), 4)  AS value_range
    FROM events
    GROUP BY user_id
    """,
    tags=("ext", "udf"),
)
def udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom grouped aggregation via applyInPandas.

    One shuffle on the group key, then each group materializes as a pandas
    DataFrame in the worker — the pattern for aggregations the built-in
    functions can't express (here deliberately expressible, so the oracle
    verifies the machinery). At 100 TB: a group must fit in worker memory;
    pre-aggregate with built-ins when it might not.
    """
    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id").applyInPandas(
        _user_stats,
        schema="user_id bigint, n_events bigint, mean_value double, value_range double",
    )


@op(
    "udtf_table",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents
    WHERE doc_id < 50
    """,
    tags=("ext", "udf"),
)
def udtf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF: one row in → many rows out (tokenizer-as-table-fn).

    Invoked as a lateral join (``DataFrame.lateralJoin`` with the UDTF
    called on an ``outer()`` column reference), the DataFrame form of
    SQL ``LATERAL``. The UDTF object is called directly, never
    registered, so the caller's session gains no temporary function.
    Bounded to doc_id<50 to keep the fixture result compact.
    """

    @F.udtf(returnType="word: string")
    class SplitWords:
        def eval(self, text: str):
            for w in (text or "").split(" "):
                yield (w,)

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).alias("d")
    return d.lateralJoin(SplitWords(F.col("d.text").outer()).alias("s")).select(
        "d.doc_id", "s.word"
    )
