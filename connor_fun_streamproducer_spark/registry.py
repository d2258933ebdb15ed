"""Operator registry — the single source of truth for SURVEY.md §2 coverage.

Every implemented op key registers here with:

- ``fn``:       ``(spark, sf_dir) -> DataFrame`` — the PySpark implementation,
                surfaced verbatim through ``__spark_entry__.queries()``.
- ``oracle``:   DuckDB ANSI-SQL string computing the same result on the same
                parquet tables (views pre-registered by the driver), surfaced
                through ``__spark_entry__.oracle_sql()``. ``None`` for
                genuinely non-SQL-expressible ops (custom stateful streaming,
                approximate sketches) → driver records a rows-only check.
- ``tags``:     free-form labels ("ref", "ext", "streaming", "llm", ...).

Keys register in module import order (``_ensure_loaded``); that order
carries no meaning and nothing reads it.

Conventions that keep the oracle hash-compare honest (driver sorts columns
by name, hashes values order-insensitively):

1. Every computed/aggregate column is explicitly aliased, identically on
   both sides.
2. Every floating-point aggregate is ``round(x, 4)`` on both sides —
   summation order differs between engines (and between Spark runs), so raw
   doubles would differ in the last ulps.
3. Integer-typed aggregates are cast to BIGINT on the DuckDB side where
   DuckDB widens to HUGEINT (e.g. ``sum`` of INTEGER).
4. Top-k queries always use a composite, total-order sort key so ties are
   deterministic.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Op:
    key: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)


OPS: dict[str, Op] = {}

# Session confs every op depends on, applied at call time because the
# DRIVER owns the SparkSession it hands us (it won't have session.py's
# configs): nanos parquet readability, UTC determinism for event-time
# buckets vs the DuckDB oracle, and AQE. All are runtime-settable SQLConfs.
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.icu.caseMappings.enabled": "false",
}


# Sessions already pinned (a WeakSet so a stopped session's slot can
# never alias a new one) — the probe itself is 2 py4j round-trips per
# conf per OP CALL (OPTIMIZATION_r14 driver-side rule: ~10 commands ×
# every op × every bench rep for values that never change after the
# first pin). A test that deliberately perturbs one of these confs
# restores it afterwards (tests/test_determinism.py), and result
# determinism never depends on the runtime-tunable ones.
import weakref

_PINNED_SESSIONS: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def ensure_session_confs(spark: SparkSession) -> None:
    if spark in _PINNED_SESSIONS:
        return
    for k, v in _REQUIRED_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # unknown/static conf on some Spark build — op may still work
    _PINNED_SESSIONS.add(spark)


def op(key: str, oracle: str | None = None, tags: tuple[str, ...] = ()) -> Callable[[QueryFn], QueryFn]:
    """Register an operator implementation under a SURVEY §2 op key.

    The registered callable is wrapped to pin the required session confs
    first — the driver contract passes us an arbitrary SparkSession.
    """
    import functools

    def deco(fn: QueryFn) -> QueryFn:
        if key in OPS:
            raise ValueError(f"duplicate op key {key!r}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str, **kwargs) -> DataFrame:
            ensure_session_confs(spark)
            return fn(spark, sf_dir, **kwargs)

        OPS[key] = Op(key=key, fn=wrapped, oracle=oracle, tags=tuple(tags))
        return wrapped

    return deco


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {k: o.fn for k, o in OPS.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {k: o.oracle for k, o in OPS.items() if o.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every operator module so its @op decorators run."""
    global _LOADED
    if _LOADED:
        return
    # Imports are side-effectful (decorator registration); keep the list
    # explicit so coverage is auditable. tests/test_oracle.py runs every
    # registered op against its DuckDB oracle on every test run.
    from connor_fun_streamproducer_spark.llm import text  # noqa: F401
    from connor_fun_streamproducer_spark.streaming import stateful  # noqa: F401
    from connor_fun_streamproducer_spark.sources import streams as _sources_streams  # noqa: F401
    from connor_fun_streamproducer_spark.operators import pipelines  # noqa: F401
    from connor_fun_streamproducer_spark.llm import dedup  # noqa: F401
    from connor_fun_streamproducer_spark.operators import scale_patterns  # noqa: F401
    from connor_fun_streamproducer_spark.operators import (  # noqa: F401
        relational,
        joins,
        aggregates,
        windows,
        setops,
    )
    from connor_fun_streamproducer_spark.functions import (  # noqa: F401
        arrays,
        dates,
        json_fns,
        maps,
        math_fns,
        strings,
    )
    from connor_fun_streamproducer_spark.sources import batch as _sources_batch  # noqa: F401
    from connor_fun_streamproducer_spark.streaming import (  # noqa: F401
        pipeline,
        windows as stream_windows,
    )
    from connor_fun_streamproducer_spark.sources import config_scan as _config_scan  # noqa: F401
    from connor_fun_streamproducer_spark.llm import multimodal, similarity  # noqa: F401
    from connor_fun_streamproducer_spark.operators import udfs  # noqa: F401
    from connor_fun_streamproducer_spark.llm import (  # noqa: F401
        clustering,
        corpus,
        corpus_prep,
        embedding_ops,
        pca,
    )
    from connor_fun_streamproducer_spark.operators import (  # noqa: F401
        behavior,
        entity,
        graph,
        incremental,
        pipelines_global,
        salting,
        sketches,
        sql_front,
        subqueries,
        timeseries,
        windows_ext,
    )
    from connor_fun_streamproducer_spark.functions import urls  # noqa: F401
    from connor_fun_streamproducer_spark.sources import layout as _sources_layout  # noqa: F401
    from connor_fun_streamproducer_spark.llm import splits  # noqa: F401
    from connor_fun_streamproducer_spark.operators import profiling  # noqa: F401

    _LOADED = True
