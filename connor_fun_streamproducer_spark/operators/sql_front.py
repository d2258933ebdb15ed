"""The SQL front door: one SQL text per op, rendered for each engine.

Most of the package declares plans through the DataFrame API. The ops
built on this module are written ONCE, as a SQL text with a few
``{placeholders}``: every op whose body is one ``run_sql`` call. Each
of them is listed, with the exchange and scan counts its Spark plan
keeps, in ``tests/test_plans.py``'s ``_SQL_FRONT_PLAN_SHAPE``.

Two renderers turn a text into each engine's dialect, and one runner
executes it on Spark:

- ``duckdb_sql(text, stages=None)`` runs once, at registration, and
  gives the op's ``oracle=`` string.
- ``spark_sql(text, **literals)`` gives the text an op hands to
  ``spark.sql(rendered, <table>=<DataFrame>, ...)``. PySpark registers
  each DataFrame argument as a temp view for that one call and drops it
  again, so an op leaves no view behind in the caller's session.
- ``run_sql(spark, sf_dir, text, stages=None, **literals)`` is that
  call: it loads every fixture table the text names and passes each as
  the DataFrame argument of its placeholder.

Stages. ``stages={"cells": STAGE_TEXT, ...}`` names frames that the main
text, and any later stage, reads through a ``{cells}`` placeholder. On
Spark each stage text runs once through ``spark.sql`` and is
``localCheckpoint``ed, so its jobs run while the op is built (AQE runs
each shuffle or broadcast inside a stage as a job of its own); the
checkpointed frame is the DataFrame argument of its placeholder. On
DuckDB each stage leads the text as a ``cells AS MATERIALIZED (...)``
CTE, joined to the main text's own ``WITH`` list. A stage is for a
small frame that several readers share: Spark inlines a deterministic
CTE into every reader, so each re-runs its scan and shuffles. Written
as a plain CTE, ``pipeline_basket_affinity``'s distinct-basket frame
planned 9 exchanges and 5 parquet scans at sf0.01; as a stage it plans
5 and 0. The bare-decimal rule and the ``dim_window`` marker apply to
stage texts as to main texts.

Placeholders:

- ``{<table>}`` for any fixture table: DuckDB gets the view name; Spark
  keeps the placeholder for ``spark.sql``'s DataFrame argument of that
  name.
- ``{epoch[c]}``: epoch seconds of timestamp column ``c`` as BIGINT.
  DuckDB gets ``CAST(floor(epoch(c)) AS BIGINT)``; Spark casts through
  TIMESTAMP_LTZ (``catalog.epoch_seconds``'s rule).
- ``{te}``: ``{epoch[ts]}``, the epoch seconds of ``events.ts``.
- ``{wide}``: the exact 38-digit integer type that moment sums ride so
  they cannot overflow. Spark gets ``DECIMAL(38,0)``; DuckDB gets
  ``HUGEINT``, because its ``//`` on a DECIMAL divides as DOUBLE
  (``7 // 2`` over DECIMAL(38,0) is 3.5) and HUGEINT is what its
  ``sum(BIGINT)`` returns anyway.
- ``{mid}``: the two-era boundary. DuckDB gets a scalar subquery over
  the text's ``b`` CTE, which must carry ``te``; Spark gets the literal
  the caller passes (``catalog.events_era_mid``, a fingerprint-cached
  probe), so the Spark plan scans ``events`` once per use of ``b``.
- ``{te_min}``/``{te_max}``: the epoch span's ends, the same way:
  DuckDB gets ``(SELECT min(te) FROM b)``/``(SELECT max(te) FROM b)``,
  Spark the ``catalog.events_epoch_span`` literals the caller passes.

Dialect rules the renderers enforce:

- ``//`` is DuckDB's integer division; Spark gets `` div ``. Write ``//``
  only between integers: DuckDB's ``7.0 // 2`` is 3.5.
- A broadcast hint is written ``/*+ BROADCAST(t) */``; DuckDB reads it
  as a comment.
- A date bound is a string literal compared against the timestamp
  column (``l_shipdate >= '1996-01-01'``): both engines cast the string
  to the column's type, as the DataFrame API does.
- Columns become rows through ``UNPIVOT INCLUDE NULLS (v FOR c IN
  (...))`` (an Expand in Spark), or a ``CROSS JOIN (VALUES ...)`` with a
  ``CASE``, never a ``UNION ALL`` over one input: Spark scans the input
  once per branch.
- The two engines share no hex-to-integer cast (DuckDB's
  ``CAST('0x'... AS UBIGINT)``, Spark's ``conv``). A parity taken from
  an md5 hex prefix is read off its last hex digit instead
  (``IN ('1', '3', ..., 'f')``), which is the parity of the whole
  prefix.
- A whole-frame window (``OVER ()``, or ``ORDER BY`` with no
  ``PARTITION BY``) carries a ``-- dim_window: <bound>`` comment within
  the 4 lines before it, as ``catalog.dim_window`` marks one in the
  DataFrame code; ``tests/test_plans.py`` checks every text ``run_sql``
  runs.
- Spark parses a bare decimal literal such as ``4.0`` as DECIMAL, which
  moves float results in the last digits. Double literals are written in
  exponent form (``4e0``, ``0.5e0``), and both renderers raise on a bare
  decimal literal.

Forms both engines parse alike, and hazards with no shared form:

- A left-semi join is written ``SEMI JOIN`` (DuckDB rejects ``LEFT
  SEMI JOIN``). Where an ``IN`` subquery's column also sits in an equi
  join, Catalyst copies the ``IN`` onto the other join side and plans
  the subquery twice; the explicit ``SEMI JOIN`` does not.
- A ``/*+ REPARTITION(c) */`` or ``/*+ BROADCAST(t) */`` hint is a
  comment to DuckDB; Spark applies it to the ``SELECT`` it follows.
- ``last_value(v IGNORE NULLS)`` is DuckDB's form and
  ``last_value(v) IGNORE NULLS`` Spark's. A carry-forward is written with
  a running ``count(v)`` instead: the rows sharing a count share one
  non-null ``v``.
- Spark has no array-length function that DuckDB shares (``size``
  against ``len``/``array_length``), and no shared element accessor
  (Spark's ``element_at`` and 0-based ``[]``, DuckDB's 1-based ``[]``).
  A frame's length is a ``count(c)`` over the same frame; an op that
  must index an array keeps its DataFrame body.
- ``median`` of a BIGINT column returns DOUBLE on both engines.
- ``min_by(x, k)``/``max_by(x, k)`` parse alike and skip rows whose
  ``k`` is null (DuckDB also skips a null ``x``). Neither engine's
  struct constructor parses on the other (``struct``/``named_struct``
  against ``row``/``struct_pack``), so an arg-min over a pair of keys
  orders one exact number: ``pipeline_attribution_touch`` takes the
  first touch by ``CAST(tsec AS {wide}) * 2^64 + tid``, which orders as
  the pair (tsec, tid) does for any BIGINT ``tid``.
- A row fanned out to a fixed set of values is an ``UNPIVOT`` of
  computed columns (an Expand), not a ``CROSS JOIN (VALUES ...)``, which
  Spark plans as a nested-loop join.

The reference has no query language at all (SURVEY.md §3); this is part of
the EXT "what its downstream analytics would run" surface.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from connor_fun_streamproducer_spark.catalog import TABLES, load
from connor_fun_streamproducer_spark.registry import op

_BARE_DECIMAL = re.compile(r"(?<![\w.])(?:\d+\.\d*|\.\d+)(?![\w.])")
_PLACEHOLDER = re.compile(r"\{(\w+)\}")
_LEADING_WITH = re.compile(r"\s*WITH\b", re.IGNORECASE)


class _Epoch:
    """Fills ``{epoch[c]}``: one engine's epoch-seconds cast of ``c``."""

    def __init__(self, cast: str):
        self.cast = cast

    def __getitem__(self, col: str) -> str:
        return self.cast % col


_DUCKDB_EPOCH = _Epoch("CAST(floor(epoch(%s)) AS BIGINT)")
_SPARK_EPOCH = _Epoch("CAST(CAST(%s AS TIMESTAMP_LTZ) AS BIGINT)")

_FRAGMENTS = {
    "duckdb": {
        "epoch": _DUCKDB_EPOCH,
        "te": _DUCKDB_EPOCH["ts"],
        "wide": "HUGEINT",
        "mid": "(SELECT (min(te) + max(te)) // 2 FROM b)",
        "te_min": "(SELECT min(te) FROM b)",
        "te_max": "(SELECT max(te) FROM b)",
        **{t: t for t in TABLES},
    },
    "spark": {
        "epoch": _SPARK_EPOCH,
        "te": _SPARK_EPOCH["ts"],
        "wide": "DECIMAL(38,0)",
        **{t: "{%s}" % t for t in TABLES},
    },
}


def _render(text: str, engine: str, literals: dict) -> str:
    bad = _BARE_DECIMAL.search(text)
    if bad:
        raise ValueError(
            f"bare decimal literal {bad.group()!r}: Spark reads it as DECIMAL;"
            " write doubles in exponent form (e.g. 4e0)"
        )
    if engine == "spark":
        text = text.replace("//", " div ")
    return text.format(**_FRAGMENTS[engine], **literals)


def duckdb_sql(text: str, stages: dict[str, str] | None = None) -> str:
    """``text`` in DuckDB's dialect, over the fixture views; each of
    ``stages`` leads it as a ``<name> AS MATERIALIZED (...)`` CTE, in
    order, so a later stage may read an earlier one."""
    names = {n: n for n in stages or {}}
    ctes = [
        f"{n} AS MATERIALIZED (\n{_render(t, 'duckdb', names)}\n)"
        for n, t in (stages or {}).items()
    ]
    main = _render(text, "duckdb", names)
    if not ctes:
        return main
    head = "WITH " + ",\n".join(ctes)
    lead = _LEADING_WITH.match(main)
    return head + (",\n" + main[lead.end():] if lead else "\n" + main)


def spark_sql(text: str, **literals) -> str:
    """``text`` in Spark's dialect, table placeholders left for
    ``spark.sql``'s DataFrame arguments; ``literals`` fill the rest
    (``mid=``, ``te_min=``, ``te_max=``)."""
    return _render(text, "spark", literals)


def run_sql(
    spark: SparkSession,
    sf_dir: str,
    text: str,
    stages: dict[str, str] | None = None,
    **literals,
) -> DataFrame:
    """Run ``text`` through ``spark.sql``: each fixture table it names
    is loaded from ``sf_dir`` and passed as its placeholder's DataFrame
    argument; ``literals`` fill the rest (``mid=``, ``te_min=``,
    ``te_max=``). Each of ``stages`` runs first, in order, and is
    ``localCheckpoint``ed; the frame is then the DataFrame argument of
    its ``{name}`` placeholder in the later stages and in ``text``."""
    frames: dict[str, DataFrame] = {}
    for name, stage in (stages or {}).items():
        frames[name] = _spark_frame(spark, sf_dir, stage, frames, literals).localCheckpoint()
    return _spark_frame(spark, sf_dir, text, frames, literals)


def _spark_frame(spark, sf_dir, text, frames, literals) -> DataFrame:
    named = set(_PLACEHOLDER.findall(text))
    args = {t: load(spark, sf_dir, t) for t in sorted(named & set(TABLES))}
    args.update({n: f for n, f in frames.items() if n in named})
    keep = {n: "{%s}" % n for n in frames}
    return spark.sql(spark_sql(text, **keep, **literals), **args)


# Constraints that keep it dialect-portable: EXTRACT (not year()),
# explicit casts where engine default types differ (EXTRACT → int vs
# BIGINT), aliased aggregates.
_SQL = """
SELECT n_name,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
       count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS total
FROM {orders} o
JOIN {customer} c ON o.o_custkey = c.c_custkey
JOIN {nation} n ON c.c_nationkey = n.n_nationkey
GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate)
"""


@op("sql_api", oracle=duckdb_sql(_SQL), tags=("ext", "sql"))
def sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run a multi-join aggregate through ``spark.sql``.

    The text the oracle executes goes through Spark's SQL parser →
    Catalyst → the identical physical machinery as the DataFrame ops:
    broadcast of the 25-row nation dim, shuffled customer join,
    partial+final aggregation.
    """
    return run_sql(spark, sf_dir, _SQL)
