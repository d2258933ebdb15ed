"""catalog.literal_frame: driver-built literal tables as local relations.

A literal frame is broadcast into joins (and, in a stream-static join,
re-broadcast every micro-batch), so it must plan as a LocalTableScan,
never as a parallelized RDD, and it must keep the declared schema
exactly, because the plans and oracle hashes downstream depend on it.
"""

from __future__ import annotations

import ast
import json
import pathlib

import pytest
from pyspark.sql import types as T

from connor_fun_streamproducer_spark.catalog import literal_frame
from connor_fun_streamproducer_spark.streaming.pipeline import LOCATIONS_SCHEMA, REGION_BOXES

PKG = pathlib.Path(__file__).resolve().parent.parent / "connor_fun_streamproducer_spark"


def _jvm_schema(df) -> T.StructType:
    """The schema as the JVM plan sees it (``df.schema`` may be the
    Python-side copy handed in)."""
    return T.StructType.fromJson(json.loads(df._jdf.schema().json()))


@pytest.mark.parametrize(
    "rows, schema",
    [
        (REGION_BOXES, LOCATIONS_SCHEMA),
        ([], LOCATIONS_SCHEMA),
        ([(1, 2, 0.5, True), (None, -3, None, False)], "a int, b bigint, c double, d boolean"),
        ([], "a int, b bigint, c double, d boolean"),
        ([(7, [1.0, 2.5]), (8, [])], "q bigint, e array<double>"),
        ([], "q bigint, e array<double>"),
    ],
    ids=["locations", "locations-empty", "scalars", "scalars-empty", "array", "array-empty"],
)
def test_literal_frame_keeps_schema_rows_and_plans_local(spark, rows, schema):
    want = spark.createDataFrame([], schema).schema
    df = literal_frame(spark, rows, schema)
    assert df.schema == want
    assert _jvm_schema(df) == want
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in rows]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_no_python_list_frame_outside_literal_frame():
    """Every driver-built literal goes through catalog.literal_frame: a
    bare ``createDataFrame`` over Python rows plans as Scan ExistingRDD
    and costs a job per broadcast."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed: set[int] = set()
        if path.name == "catalog.py" and path.parent == PKG:
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "literal_frame":
                    allowed |= {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert not offenders, offenders
