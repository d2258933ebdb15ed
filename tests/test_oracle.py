"""Oracle-differential tests: every registered op vs its DuckDB SQL.

This is the local mirror of the driver's t2 gate, at sf0.001 for speed
(the driver runs sf0.01). Ops without an oracle get a rows-materialize
smoke instead.
"""

from __future__ import annotations

import pytest

from connor_fun_streamproducer_spark import registry
from tests.conftest import SF_DIR, assert_df_matches_oracle

registry._ensure_loaded()
ALL_KEYS = sorted(registry.OPS)
ORACLE_KEYS = [k for k in ALL_KEYS if registry.OPS[k].oracle is not None]
ROWS_ONLY_KEYS = [k for k in ALL_KEYS if registry.OPS[k].oracle is None]


@pytest.mark.parametrize("key", ORACLE_KEYS)
def test_matches_oracle(spark, oracle, key):
    o = registry.OPS[key]
    df = o.fn(spark, SF_DIR)
    assert_df_matches_oracle(df, oracle, o.oracle, key=key)


@pytest.mark.parametrize("key", ROWS_ONLY_KEYS)
def test_rows_only_materializes(spark, key):
    o = registry.OPS[key]
    df = o.fn(spark, SF_DIR)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_sink_kafka_frame_matches_routing_and_enrichment(spark, oracle):
    """The Kafka sink frame has no oracle of its own (its JSON text is
    engine-specific), so check what it carries: its per-topic row counts
    are ``route_by_key``'s oracle, each key is its topic's region, and
    parsing each ``value`` gives back ``enrich_region``'s oracle
    (event_id, region_id) rows."""
    from pyspark.sql import functions as F

    df = registry.OPS["sink_kafka"].fn(spark, SF_DIR)
    topics = {r["topic"]: r["count"] for r in df.groupBy("topic").count().collect()}
    assert topics and topics == dict(oracle.sql(registry.OPS["route_by_key"].oracle).fetchall())
    assert df.where(F.col("topic") != F.concat(F.lit("raw-tweets-"), "key")).count() == 0
    parsed = df.select(F.from_json("value", "event_id bigint, region_id string").alias("p"))
    got = sorted(tuple(r) for r in parsed.select("p.event_id", "p.region_id").collect())
    want = oracle.sql(
        f"SELECT event_id, region_id FROM ({registry.OPS['enrich_region'].oracle})"
    ).fetchall()
    assert got == sorted(want)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_contract_shape():
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    assert qs, "no queries registered"
    assert set(osql) <= set(qs), "oracle keys must be a subset of query keys"
