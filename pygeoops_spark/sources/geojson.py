"""GeoJSON source/sink (newline-delimited Features — "GeoJSONSeq").

The reference ecosystem's interchange formats are GDAL-backed
(gpkg/shapefile via geopandas in its tests/benchmarks,
benchmark/benchmarks/testdata.py:25-61); this engine's equivalent is
the text-based one that actually scales on a cluster: one GeoJSON
Feature per line (RFC 7946 geometries), read/written with Spark's
distributed text source/sink — each partition parses/serializes its
own lines inside an Arrow-batched row UDF (udf.py:row_udf), so the
format rides the normal scan path (predicate pushdown on properties
after parsing, partitioned output directories).

Geometry interchange is WKB inside the DataFrame (the engine's native
column encoding); properties become top-level columns.
"""

from __future__ import annotations

import json

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from pygeoops_spark.geom.wkb import (
    GEOMETRYCOLLECTION,
    Geometry,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    get_parts,
    linestring,
    multi,
    point,
    polygon,
)
from pygeoops_spark.udf import row_udf

_TYPE_NAMES = {
    POINT: "Point",
    LINESTRING: "LineString",
    POLYGON: "Polygon",
    MULTIPOINT: "MultiPoint",
    MULTILINESTRING: "MultiLineString",
    MULTIPOLYGON: "MultiPolygon",
    GEOMETRYCOLLECTION: "GeometryCollection",
}


def _geom_to_coords(g: Geometry):
    t = g.type_id
    if t == POINT:
        return [float(v) for v in np.asarray(g.data)[:2]]
    if t == LINESTRING:
        return [[float(x), float(y)] for x, y in np.asarray(g.data)[:, :2]]
    if t == POLYGON:
        return [
            [[float(x), float(y)] for x, y in np.asarray(r)[:, :2]] for r in g.data
        ]
    return [_geom_to_coords(p) for p in get_parts(g)]


def geometry_to_geojson(g: Geometry | None) -> str | None:
    if g is None:
        return None
    if g.type_id == GEOMETRYCOLLECTION:
        return json.dumps(
            {
                "type": "GeometryCollection",
                "geometries": [json.loads(geometry_to_geojson(p)) for p in g.data],
            }
        )
    return json.dumps(
        {"type": _TYPE_NAMES[g.type_id], "coordinates": _geom_to_coords(g)}
    )


def geojson_to_geometry(obj: dict | str | None) -> Geometry | None:
    if obj is None:
        return None
    if isinstance(obj, str):
        obj = json.loads(obj)
    t = obj["type"]
    if t == "Point":
        x, y = obj["coordinates"][:2]
        return point(float(x), float(y))
    if t == "LineString":
        return linestring([(float(x), float(y)) for x, y, *_ in obj["coordinates"]])
    if t == "Polygon":
        rings = obj["coordinates"]
        shell = [(float(x), float(y)) for x, y, *_ in rings[0]]
        holes = [[(float(x), float(y)) for x, y, *_ in r] for r in rings[1:]]
        return polygon(shell, holes)
    if t == "MultiPoint":
        return multi(
            MULTIPOINT,
            [point(float(x), float(y)) for x, y, *_ in obj["coordinates"]],
        )
    if t == "MultiLineString":
        return multi(
            MULTILINESTRING,
            [
                linestring([(float(x), float(y)) for x, y, *_ in line])
                for line in obj["coordinates"]
            ],
        )
    if t == "MultiPolygon":
        polys = []
        for rings in obj["coordinates"]:
            shell = [(float(x), float(y)) for x, y, *_ in rings[0]]
            holes = [[(float(x), float(y)) for x, y, *_ in r] for r in rings[1:]]
            polys.append(polygon(shell, holes))
        return multi(MULTIPOLYGON, polys)
    if t == "GeometryCollection":
        return multi(
            GEOMETRYCOLLECTION,
            [geojson_to_geometry(g) for g in obj["geometries"]],
        )
    raise ValueError(f"Unsupported GeoJSON geometry type: {t}")


def geojson_geometry_col(json_col: Column | str) -> Column:
    """WKB from a GeoJSON geometry-object JSON string column."""
    return row_udf(geojson_to_geometry, BinaryType())(json_col)


def wkb_to_geojson_col(wkb_col: Column | str) -> Column:
    """GeoJSON geometry-object JSON string from a WKB column."""
    return row_udf(geometry_to_geojson, StringType())(wkb_col)


def read_geojson_seq(
    spark: SparkSession, path: str, geometry_col: str = "geometry_wkb"
) -> DataFrame:
    """Read newline-delimited GeoJSON Features: properties become
    top-level columns (schema inferred by Spark's JSON reader, fully
    distributed), the geometry becomes a WKB column.

    The geometry field is re-read as a raw JSON STRING (schema
    override): schema inference would otherwise merge the
    incompatible `coordinates` nestings of mixed geometry types
    (Point vs Polygon) into garbage. Features without a properties
    object (or with null properties) yield a geometry-only frame."""
    inferred = spark.read.json(path).schema
    fields = []
    props_struct = None
    for f in inferred.fields:
        if f.name == "geometry":
            fields.append(StructField("geometry", StringType(), True))
        else:
            if f.name == "properties" and isinstance(f.dataType, StructType):
                props_struct = f.dataType
            fields.append(f)
    if "geometry" not in {f.name for f in fields}:
        fields.append(StructField("geometry", StringType(), True))
    raw = spark.read.schema(StructType(fields)).json(path)
    cols = []
    if props_struct is not None:
        cols = [F.col(f"properties.{c.name}").alias(c.name) for c in props_struct.fields]
    return raw.select(
        *cols, geojson_geometry_col(F.col("geometry")).alias(geometry_col)
    )


def write_geojson_seq(
    df: DataFrame, path: str, wkb_col: str = "geometry_wkb", mode: str = "overwrite"
) -> None:
    """Write one GeoJSON Feature per line (distributed text sink)."""
    prop_cols = [c for c in df.columns if c != wkb_col]
    feature = F.concat(
        F.lit('{"type": "Feature", "properties": '),
        F.to_json(F.struct(*[F.col(c) for c in prop_cols])),
        F.lit(', "geometry": '),
        F.coalesce(wkb_to_geojson_col(wkb_col), F.lit("null")),
        F.lit("}"),
    )
    df.select(feature.alias("value")).write.mode(mode).text(path)
