"""GeoJSON coordinate normalization (ref task.ts:123-126, quirk Q4).

The reference walks every coordinate position with turf's coordEach
and truncates it to at most 3 elements (lon, lat, alt) — dropping
CalTopo's 4th+ items (CHANGELOG.md:119-121).

Spark-first design: GeoJSON nesting depth is FIXED per geometry type
(Point=1 … MultiPolygon=4), so the six standard types compile to
typed ``from_json`` + nested ``transform``/``slice`` — all codegen'd,
no Python.  Only unknown/ragged types (GeometryCollection) fall back
to an Arrow-batched pandas_udf walker, and only those rows pay for it.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from etl_caltopo_spark.caltopo.columns import per_gateway

#: JSON schema (DDL) of the coordinates array per geometry type
_DEPTH_SCHEMAS = {
    1: "array<double>",
    2: "array<array<double>>",
    3: "array<array<array<double>>>",
    4: "array<array<array<array<double>>>>",
}

GEOMETRY_DEPTH = {
    "Point": 1,
    "MultiPoint": 2,
    "LineString": 2,
    "MultiLineString": 3,
    "Polygon": 3,
    "MultiPolygon": 4,
}


def _truncate_typed(coords_json: Column, depth: int, keep: int) -> Column:
    """Parse at the fixed depth, slice every position to ``keep``
    elements, re-serialize."""
    parsed = F.from_json(coords_json, _DEPTH_SCHEMAS[depth])
    if depth == 1:
        out = F.slice(parsed, 1, keep)
    elif depth == 2:
        out = F.transform(parsed, lambda p: F.slice(p, 1, keep))
    elif depth == 3:
        out = F.transform(parsed, lambda ring: F.transform(ring, lambda p: F.slice(p, 1, keep)))
    else:
        out = F.transform(
            parsed,
            lambda poly: F.transform(
                poly, lambda ring: F.transform(ring, lambda p: F.slice(p, 1, keep))
            ),
        )
    return F.to_json(out)


@F.pandas_udf(StringType())
def _truncate_walker(coords_json: pd.Series) -> pd.Series:
    """Fallback for non-standard geometry: recursive position walk
    (the coordEach analog), Arrow-batched."""

    def walk(node):
        if isinstance(node, list):
            if node and all(isinstance(x, (int, float)) for x in node):
                return node[:3]
            return [walk(x) for x in node]
        return node

    def one(s):
        if s is None:
            return None
        return json.dumps(walk(json.loads(s)), separators=(",", ":"))

    return coords_json.map(one)


def truncate_coordinates(
    df: DataFrame,
    type_col: str = "geometry_type",
    json_col: str = "geometry_json",
    keep: int = 3,
) -> DataFrame:
    """Apply the <=3-element position truncation across all geometry
    types; typed codegen paths for the standard six, UDF walker
    otherwise.

    Scale note: Spark HOISTS the pandas UDF out of the CASE into an
    ArrowEvalPython node evaluated for EVERY row — conditional
    branches do not short-circuit Python UDF evaluation.  So the
    walker's INPUT is masked to NULL for the standard six types: the
    Arrow batch ships a null column and the walker's per-row work for
    standard rows is a single None check, keeping the whole-corpus
    cost of the fallback proportional to the ragged rows only."""
    return df.withColumn(json_col, _truncation(type_col, json_col, keep))


@per_gateway
def _truncation(type_col: str, json_col: str, keep: int) -> Column:
    """The typed truncation CASE of :func:`truncate_coordinates`."""
    t = F.col(type_col)
    j = F.col(json_col)
    standard = t.isin(
        "Point", "MultiPoint", "LineString", "MultiLineString", "Polygon",
        "MultiPolygon",
    )
    # null geometry_type with non-null coordinates still walks
    # (coalesce: NULL type is "not standard", not "skip")
    walker_input = F.when(
        ~F.coalesce(standard, F.lit(False)) & j.isNotNull(), j
    )
    return (
        F.when(j.isNull(), F.lit(None).cast("string"))
        .when(t == "Point", _truncate_typed(j, 1, keep))
        .when((t == "MultiPoint") | (t == "LineString"), _truncate_typed(j, 2, keep))
        .when((t == "MultiLineString") | (t == "Polygon"), _truncate_typed(j, 3, keep))
        .when(t == "MultiPolygon", _truncate_typed(j, 4, keep))
        .otherwise(_truncate_walker(walker_input))
    )
