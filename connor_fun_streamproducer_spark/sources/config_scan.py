"""Static config scan — the reference's getLocations, engine-side.

The reference opens ./locations.json, reads it whole, unmarshals into
structs, and panics on failure (/root/reference/regionSpout.go:169-184).
Engine form: write the same region records as JSON, scan them back with an
explicit StructType (never inferred) via ``spark.read.json`` — the dim
side of every enrichment join, broadcast downstream.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from connor_fun_streamproducer_spark.catalog import scratch_dir
from connor_fun_streamproducer_spark.registry import op
from connor_fun_streamproducer_spark.streaming.pipeline import REGION_BOXES

# Reference fields (locations.json:2-11): name, ID, centerLat, centerLon,
# north, east, south, west. Center coords from locations.json:5-6,15-16.
_CENTERS = {"USA0": (30.84057971014493, -111.07285123034087),
            "USA1": (30.84057971014493, -82.08614876965913)}

LOCATIONS_JSON_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("ID", T.StringType()),
        T.StructField("centerLat", T.DoubleType()),
        T.StructField("centerLon", T.DoubleType()),
        T.StructField("north", T.DoubleType()),
        T.StructField("east", T.DoubleType()),
        T.StructField("south", T.DoubleType()),
        T.StructField("west", T.DoubleType()),
    ]
)


def write_locations_json(sf_dir: str) -> str:
    """Materialize the reference-shaped locations file (JSON lines)."""
    dir_ = scratch_dir(sf_dir, "locations_json")
    os.makedirs(dir_, exist_ok=True)
    path = os.path.join(dir_, "locations.json")
    with open(path, "w") as f:
        for (name, rid, north, east, south, west) in REGION_BOXES:
            lat, lon = _CENTERS[rid]
            f.write(
                json.dumps(
                    {
                        "name": name, "ID": rid, "centerLat": lat, "centerLon": lon,
                        "north": north, "east": east, "south": south, "west": west,
                    }
                )
                + "\n"
            )
    return path


@op(
    "src_config_scan",
    oracle=f"""
    SELECT name, ID,
           CAST(centerLat AS DOUBLE) AS centerLat, CAST(centerLon AS DOUBLE) AS centerLon,
           CAST(north AS DOUBLE) AS north, CAST(east AS DOUBLE) AS east,
           CAST(south AS DOUBLE) AS south, CAST(west AS DOUBLE) AS west
    FROM (VALUES
        {", ".join(
            f"('{n}', '{i}', {_CENTERS[i][0]!r}, {_CENTERS[i][1]!r}, {no!r}, {e!r}, {s!r}, {w!r})"
            for (n, i, no, e, s, w) in REGION_BOXES
        )}
    ) AS l(name, ID, centerLat, centerLon, north, east, south, west)
    """,
    tags=("ref", "source"),
)
def src_config_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema'd JSON scan of the region config (regionSpout.go:169-184).

    Unlike the reference (panic on malformed input, schema implied by a
    Go struct), the scan declares its schema and malformed rows are
    NULL-surfaced, inspectable via the standard columnNameOfCorruptRecord
    mechanism.
    """
    path = write_locations_json(sf_dir)
    return spark.read.schema(LOCATIONS_JSON_SCHEMA).json(path)
