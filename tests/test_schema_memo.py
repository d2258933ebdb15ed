"""catalog.read_parquet: each parquet schema is inferred once per session.

Inferring a parquet schema runs a Spark job; ``load()`` and the serve path
of ``materialize_once`` pass the memoized schema back instead. These tests
count the jobs a read submits (job group + ``statusTracker``), and check
that the memo never changes what a read returns: the same schema, a fresh
relation per call, the events.ts normalization for both encodings, and
Spark's own error for a missing file.
"""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from connor_fun_streamproducer_spark import catalog
from tests.conftest import SF_DIR


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn submitted)."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema memo test")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def fixture_copy(tmp_path_factory):
    """A private copy of the fixtures, so the first load of each table in
    this session is known to miss the memo."""
    d = tmp_path_factory.mktemp("memo_sf")
    for t in catalog.TABLES:
        shutil.copy2(catalog.table_path(SF_DIR, t), catalog.table_path(str(d), t))
    return str(d)


@pytest.mark.parametrize("table", catalog.TABLES)
def test_second_load_submits_no_job(spark, fixture_copy, table):
    first, n_first = _jobs(spark, lambda: catalog.load(spark, fixture_copy, table))
    second, n_second = _jobs(spark, lambda: catalog.load(spark, fixture_copy, table))
    assert n_first >= 1, "the first read of a file infers its schema with a job"
    assert n_second == 0
    assert second.schema == first.schema
    path = catalog.table_path(fixture_copy, table)
    assert catalog.read_parquet(spark, path).schema == spark.read.parquet(path).schema
    assert second.count() == first.count()


def test_second_materialize_once_serve_submits_no_job(spark, tmp_path):
    path = str(tmp_path / "artifact")

    def build():
        return catalog.load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")

    built = catalog.materialize_once(spark, path, build)
    served, n = _jobs(spark, lambda: catalog.materialize_once(spark, path, build))
    assert n == 0
    assert served.schema == built.schema == spark.read.parquet(path).schema
    assert sorted(served.collect()) == sorted(build().collect())


def _write_events(path: str, ts_unit: str) -> None:
    ts = [datetime(2024, 1, 1, 0, 0, 1, 5), datetime(1969, 12, 31, 23, 59, 59, 250000)]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ts, pa.timestamp(ts_unit)),
            "user_id": pa.array([10, 20], pa.int64()),
        }
    )
    pq.write_table(table, path)


def test_events_ts_is_ltz_for_both_encodings_on_one_path(spark, tmp_path):
    """The same path rewritten nanos → micros → nanos within one session:
    each rewrite is inferred again and normalizes to TIMESTAMP_LTZ with
    the same values."""
    path = catalog.table_path(str(tmp_path), "events")
    seen = []
    for unit, raw_type in (("ns", T.LongType()), ("us", T.TimestampNTZType()), ("ns", T.LongType())):
        _write_events(path, unit)
        assert spark.read.parquet(path).schema["ts"].dataType == raw_type
        df, n = _jobs(spark, lambda: catalog.load(spark, str(tmp_path), "events"))
        assert n >= 1, f"rewritten as {unit}: the memo must infer again"
        assert df.schema["ts"].dataType == T.TimestampType()
        again, n_again = _jobs(spark, lambda: catalog.load(spark, str(tmp_path), "events"))
        assert n_again == 0
        assert again.schema == df.schema
        seen.append(sorted((r.event_id, r.epoch) for r in again.select(
            "event_id", catalog.epoch_seconds("ts").alias("epoch")).collect()))
    assert seen[0] == seen[1] == seen[2] == [(1, 1704067201), (2, -1)]


def test_two_loads_of_one_table_self_join(spark):
    a = catalog.load(spark, SF_DIR, "nation").alias("a")
    b = catalog.load(spark, SF_DIR, "nation").alias("b")
    pairs = a.join(b, F.col("a.n_regionkey") == F.col("b.n_regionkey")).select(
        F.col("a.n_nationkey").alias("x"), F.col("b.n_nationkey").alias("y")
    )
    region_of = {r.n_nationkey: r.n_regionkey for r in a.collect()}
    expected = sorted((x, y) for x in region_of for y in region_of if region_of[x] == region_of[y])
    assert sorted(map(tuple, pairs.collect())) == expected
    assert len(expected) > len(region_of)  # a real self-join, not the diagonal


def test_missing_fixture_raises_sparks_error(spark, tmp_path):
    path = catalog.table_path(str(tmp_path), "region")
    assert not os.path.exists(path)
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(path)
    with pytest.raises(AnalysisException) as loaded:
        catalog.load(spark, str(tmp_path), "region")
    assert loaded.value.getCondition() == plain.value.getCondition() == "PATH_NOT_FOUND"
    with pytest.raises(AnalysisException):
        catalog.read_parquet(spark, path)


def test_memo_is_per_session(spark, fixture_copy):
    catalog.load(spark, fixture_copy, "region")
    other = spark.newSession()
    _, n = _jobs(other, lambda: catalog.load(other, fixture_copy, "region"))
    assert n >= 1, "another session infers for itself"
    _, n_again = _jobs(other, lambda: catalog.load(other, fixture_copy, "region"))
    assert n_again == 0
