"""The one-text-per-op SQL surface (operators/sql_front.py).

The two-era statistics ops run one SQL text on both engines, so the
oracle test alone cannot catch a renderer fault that both renderings
share; the Python replays in test_properties.py are the independent
check. These tests pin what the renderers promise: dialect rules,
construction cost and a caller's session left as it was.
"""

from __future__ import annotations

import gc
import time

import pytest

from connor_fun_streamproducer_spark import registry
from connor_fun_streamproducer_spark.operators.sql_front import duckdb_sql, spark_sql
from connor_fun_streamproducer_spark.session import py4j_commands
from tests.conftest import SF_DIR
from tests.test_plans import _SQL_FRONT_PLAN_SHAPE

registry._ensure_loaded()


def test_bare_decimal_literal_raises_exponent_form_renders_unchanged():
    for render in (duckdb_sql, spark_sql):
        with pytest.raises(ValueError, match="4.0"):
            render("SELECT 4.0 * x FROM t")
        assert render("SELECT 4e0 * x FROM t") == "SELECT 4e0 * x FROM t"
        assert render("SELECT 0.5e0 + x.y1 FROM t") == "SELECT 0.5e0 + x.y1 FROM t"


def test_renderers_apply_each_dialect():
    text = "SELECT {te} // 2, CAST(x AS {wide}) FROM {events} WHERE {te} < {mid}"
    assert duckdb_sql(text) == (
        "SELECT CAST(floor(epoch(ts)) AS BIGINT) // 2, CAST(x AS HUGEINT) FROM events"
        " WHERE CAST(floor(epoch(ts)) AS BIGINT) < (SELECT (min(te) + max(te)) // 2 FROM b)"
    )
    assert spark_sql(text, mid=7) == (
        "SELECT CAST(CAST(ts AS TIMESTAMP_LTZ) AS BIGINT)  div  2, CAST(x AS DECIMAL(38,0))"
        " FROM {events} WHERE CAST(CAST(ts AS TIMESTAMP_LTZ) AS BIGINT) < 7"
    )
    span = "SELECT ({te} - {te_min}) * 4 // ({te_max} - {te_min} + 1) FROM b"
    assert duckdb_sql(span) == (
        "SELECT (CAST(floor(epoch(ts)) AS BIGINT) - (SELECT min(te) FROM b)) * 4"
        " // ((SELECT max(te) FROM b) - (SELECT min(te) FROM b) + 1) FROM b"
    )
    assert spark_sql(span, te_min=10, te_max=99) == (
        "SELECT (CAST(CAST(ts AS TIMESTAMP_LTZ) AS BIGINT) - 10) * 4"
        "  div  (99 - 10 + 1) FROM b"
    )
    days = "SELECT {epoch[l_shipdate]} // 86400 - {epoch[o_orderdate]} // 86400 FROM t"
    assert duckdb_sql(days) == (
        "SELECT CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400"
        " - CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 FROM t"
    )
    assert spark_sql(days) == (
        "SELECT CAST(CAST(l_shipdate AS TIMESTAMP_LTZ) AS BIGINT)  div  86400"
        " - CAST(CAST(o_orderdate AS TIMESTAMP_LTZ) AS BIGINT)  div  86400 FROM t"
    )


def test_stages_render_as_materialized_ctes_and_spark_placeholders():
    """A stage leads the DuckDB text as a ``MATERIALIZED`` CTE, joined to
    a main text's own ``WITH`` list, and a later stage reads an earlier
    one; Spark keeps each stage's placeholder for its checkpointed
    frame. Each stage is held to the dialect rules of a main text."""
    stages = {"s1": "SELECT {te} // 2 AS d FROM {events}", "s2": "SELECT d FROM {s1}"}
    assert duckdb_sql("SELECT d FROM {s2}", stages=stages) == (
        "WITH s1 AS MATERIALIZED (\n"
        "SELECT CAST(floor(epoch(ts)) AS BIGINT) // 2 AS d FROM events\n),\n"
        "s2 AS MATERIALIZED (\nSELECT d FROM s1\n)\nSELECT d FROM s2"
    )
    assert duckdb_sql("\nWITH x AS (SELECT d FROM {s1}) SELECT d FROM x", stages=stages) == (
        "WITH s1 AS MATERIALIZED (\n"
        "SELECT CAST(floor(epoch(ts)) AS BIGINT) // 2 AS d FROM events\n),\n"
        "s2 AS MATERIALIZED (\nSELECT d FROM s1\n),\n"
        " x AS (SELECT d FROM s1) SELECT d FROM x"
    )
    assert spark_sql("SELECT d FROM {s2}", s2="{s2}") == "SELECT d FROM {s2}"
    with pytest.raises(ValueError, match="4.0"):
        duckdb_sql("SELECT d FROM {s1}", stages={"s1": "SELECT 4.0 AS d FROM {events}"})


def test_run_sql_checkpoints_each_stage_once(spark):
    """Each stage runs once and is checkpointed, so the main text reads
    the materialized frame (no parquet scan) however often it names it,
    and a later stage reads an earlier one."""
    from connor_fun_streamproducer_spark.catalog import load
    from connor_fun_streamproducer_spark.operators.sql_front import run_sql
    from connor_fun_streamproducer_spark.plans.explain import count_in_plan
    from tests.test_schema_memo import _jobs

    stages = {
        "ev": "SELECT event_type, {te} // 86400 AS day FROM {events}",
        "days": "SELECT DISTINCT day FROM {ev}",
    }
    text = "SELECT count(*) AS n FROM {ev} e JOIN {days} d ON e.day = d.day"
    df, jobs = _jobs(spark, lambda: run_sql(spark, SF_DIR, text, stages=stages))
    assert count_in_plan(df, "Scan parquet") == 0
    assert jobs >= 2  # each stage's checkpoint runs a job while the op is built
    assert df.collect()[0]["n"] == load(spark, SF_DIR, "events").count()


# The Spark jobs each staged op's build may run at the Tier-1 fixture: the
# jobs of its stages' checkpoints (AQE runs a shuffle or broadcast inside a
# stage as a job of its own).
_STAGED_BUILD_JOBS = {
    "pipeline_basket_affinity": 2,
    "stats_kendall_tau_binned": 3,
    "stats_spearman_binned": 3,
    "stats_friedman": 2,
    "stats_page_trend": 2,
    "stats_jonckheere_terpstra": 7,
    "stats_cochran_q": 2,
}


@pytest.mark.parametrize("key", sorted(_SQL_FRONT_PLAN_SHAPE))
def test_era_op_build_sends_few_py4j_commands(spark, key):
    """Building an op on ``run_sql`` is one ``spark.sql`` call per text:
    well under 500 py4j commands and no Spark job once the schema memo
    (and, for an era op, the era boundary) is warm. An op with stages
    runs their checkpoints, no more jobs than its DataFrame body ran."""
    from tests.test_schema_memo import _jobs

    fn = registry.OPS[key].fn
    fn(spark, SF_DIR)

    def build():
        with py4j_commands(spark) as sent:
            fn(spark, SF_DIR)
        return sent[0]

    sent, jobs = _jobs(spark, build)
    assert sent < 500, (key, sent)
    assert jobs <= _STAGED_BUILD_JOBS.get(key, 0), (key, jobs)


def test_sql_ops_leave_no_session_views(spark):
    """sql_api and agg_grouping_sets pass their tables as ``spark.sql``
    DataFrame arguments, whose views live for one call, and udtf_table
    calls its UDTF object without registering it; a fresh session (no
    views from other tests) lists no new view or function after."""
    s = spark.newSession()
    before = sorted(t.name for t in s.catalog.listTables())
    functions = sorted(f.name for f in s.catalog.listFunctions())
    for key in ("sql_api", "agg_grouping_sets", "udtf_table"):
        assert registry.OPS[key].fn(s, SF_DIR).count() > 0, key
    assert sorted(t.name for t in s.catalog.listTables()) == before
    assert sorted(f.name for f in s.catalog.listFunctions()) == functions


def test_py4j_commands_skip_object_releases(spark):
    """Releases of Java objects that Python frees inside the block are
    sent (py4j's finalizer) but not counted."""
    jvm = spark.sparkContext._jvm
    held = [jvm.java.util.ArrayList() for _ in range(5)]
    client = spark.sparkContext._gateway._gateway_client
    send, seen = client.send_command, []

    def spy(command, *args, **kwargs):
        seen.append(command)
        return send(command, *args, **kwargs)

    def releases():
        return [c for c in seen if c.startswith("m\nd\n")]

    client.send_command = spy
    try:
        with py4j_commands(spark) as sent:
            del held
            gc.collect()
            # pinned-thread py4j sends releases from its finalizer thread
            deadline = time.monotonic() + 10
            while len(releases()) < 5 and time.monotonic() < deadline:
                time.sleep(0.05)
    finally:
        client.send_command = send
    assert len(releases()) >= 5, seen
    assert sent[0] == len(seen) - len(releases()), seen
