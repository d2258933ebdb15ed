"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``connor_fun_streamproducer_spark``; this module is
a thin adapter over its operator registry (registry.py), which carries one
entry per implemented op key from SURVEY.md §2. The dicts list keys in
registration order, which is import order and carries no meaning.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from connor_fun_streamproducer_spark import registry as _registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The flagship is the reference's core question — per-region event counts
    per 30-second tumbling window (regionSpout.go:102-117) — computed via
    broadcast bbox enrichment + event-time windowed aggregation. Routed
    through the registry so the driver's session gets the required confs
    (UTC, nanos-parquet handling) pinned first.
    """
    _registry._ensure_loaded()
    return _registry.OPS["agg_window_count"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per op key (omitted → rows-only check)."""
    return _registry.oracle_sql()
