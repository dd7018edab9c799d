"""Grid / tiling operators as Spark DataFrames.

Grid *generation* is pure SQL over ``spark.range`` (no UDF, no data
shuffle — Catalyst folds the arithmetic into codegen); tile
*assignment* is arithmetic on point columns, so at 100 TB it rides the
scan with zero extra shuffles. Semantics mirror the reference
(/root/reference/pygeoops/_grid.py — see geom/grid.py for the pinned
behaviors).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, DoubleType

from pygeoops_spark.geom.grid import (
    Bounds,
    grid_shape_squarish,
    split_tile_bboxes,
    split_tile_geometry,
)
from pygeoops_spark.udf import row_udf


def create_grid(
    spark: SparkSession, total_bounds: Bounds, nb_columns: int, nb_rows: int
) -> DataFrame:
    """Tiles of an nb_columns x nb_rows grid over total_bounds.

    Output: tile_id (column-major, row fastest), col, row, xmin, ymin,
    xmax, ymax — reference create_grid emission order.
    """
    xmin, ymin, xmax, ymax = (float(v) for v in total_bounds)
    width = (xmax - xmin) / nb_columns
    height = (ymax - ymin) / nb_rows
    return _grid_from_shape(spark, xmin, ymin, nb_columns, nb_rows, width, height)


def create_grid3(
    spark: SparkSession, total_bounds: Bounds, width: float, height: float
) -> DataFrame:
    """Grid by tile size; ceil cols/rows, edge tiles overshoot (no clamp)."""
    import math

    xmin, ymin, xmax, ymax = (float(v) for v in total_bounds)
    cols = math.ceil((xmax - xmin) / width)
    rows = math.ceil((ymax - ymin) / height)
    return _grid_from_shape(spark, xmin, ymin, cols, rows, float(width), float(height))


def create_grid2(
    spark: SparkSession,
    total_bounds: Bounds,
    nb_squarish_tiles: int,
    nb_squarish_tiles_max: int | None = None,
) -> DataFrame:
    """~Square tiling (reference create_grid2 shape derivation)."""
    cols, rows = grid_shape_squarish(total_bounds, nb_squarish_tiles, nb_squarish_tiles_max)
    return create_grid(spark, total_bounds, cols, rows)


def _grid_from_shape(
    spark: SparkSession,
    xmin: float,
    ymin: float,
    cols: int,
    rows: int,
    width: float,
    height: float,
) -> DataFrame:
    df = spark.range(cols * rows).withColumnRenamed("id", "tile_id")
    col = (F.col("tile_id") / rows).cast("long")  # column-major: row fastest
    row = F.col("tile_id") % rows
    return df.select(
        "tile_id",
        col.cast("int").alias("col"),
        row.cast("int").alias("row"),
        (F.lit(xmin) + col * F.lit(width)).alias("xmin"),
        (F.lit(ymin) + row * F.lit(height)).alias("ymin"),
        (F.lit(xmin) + (col + 1) * F.lit(width)).alias("xmax"),
        (F.lit(ymin) + (row + 1) * F.lit(height)).alias("ymax"),
    )


def tile_cols(
    x: Column | str, y: Column | str, total_bounds: Bounds, nb_columns: int, nb_rows: int
) -> tuple[Column, Column, Column]:
    """(tile_col, tile_row, tile_id) expressions assigning points to the
    grid — reference width/height arithmetic, pure SQL (rides the scan,
    pushdown-friendly). Points outside bounds are clamped to edge tiles.
    """
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    xmin, ymin, xmax, ymax = (float(v) for v in total_bounds)
    width = (xmax - xmin) / nb_columns
    height = (ymax - ymin) / nb_rows
    c = F.greatest(
        F.lit(0), F.least(F.lit(nb_columns - 1), F.floor((x - F.lit(xmin)) / F.lit(width)))
    ).cast("int")
    r = F.greatest(
        F.lit(0), F.least(F.lit(nb_rows - 1), F.floor((y - F.lit(ymin)) / F.lit(height)))
    ).cast("int")
    tile_id = (c.cast("long") * nb_rows + r).alias("tile_id")
    return c, r, tile_id


def assign_to_grid(
    df: DataFrame,
    x: str,
    y: str,
    total_bounds: Bounds,
    nb_columns: int,
    nb_rows: int,
) -> DataFrame:
    c, r, t = tile_cols(x, y, total_bounds, nb_columns, nb_rows)
    return df.withColumn("tile_col", c).withColumn("tile_row", r).withColumn("tile_id", t)


def split_tiles(
    tiles: DataFrame, nb_tiles_wanted: int, wkb_col: str | None = None
) -> DataFrame:
    """Split tiles until the count approaches nb_tiles_wanted; attribute
    columns fan out to children (reference split_tiles semantics,
    _grid.py:148-232).

    Two paths, same reference loop:
    * bbox fast path (default): tiles are (xmin, ymin, xmax, ymax)
      rows; children are bboxes (exact for rectangular tiles).
    * ``wkb_col``: tiles carry arbitrary (multi)polygon geometry in a
      WKB column; children are the actual geometry pieces cut by the
      reference's bounds-derived split lines (geom/grid.py
      split_tile_geometry — shapely.ops.split semantics).

    The per-tile split is a deterministic function of (tile, global
    ratio); children are produced by a per-row UDF (udf.py:row_udf)
    returning an array that is exploded — rows fan out in place, no shuffle.
    The single `count()` action mirrors the reference's len(input) and
    is metadata-scale (tiles, not data rows).
    """
    nb_tiles = tiles.count()
    if nb_tiles >= nb_tiles_wanted:
        return tiles
    ratio = nb_tiles_wanted / nb_tiles

    if wkb_col is not None:
        children_wkb = row_udf(lambda g: split_tile_geometry(g, ratio), ArrayType(BinaryType()))
        attrs = [c for c in tiles.columns if c != wkb_col]
        return tiles.withColumn("_child", F.explode(children_wkb(wkb_col))).select(
            *attrs, F.col("_child").alias(wkb_col)
        )

    children = row_udf(
        lambda x0, y0, x1, y1: [list(c) for c in split_tile_bboxes(x0, y0, x1, y1, ratio)],
        ArrayType(ArrayType(DoubleType())),
    )
    attrs = [c for c in tiles.columns if c not in ("xmin", "ymin", "xmax", "ymax")]
    exploded = tiles.withColumn(
        "_child", F.explode(children("xmin", "ymin", "xmax", "ymax"))
    )
    return exploded.select(
        *attrs,
        F.col("_child")[0].alias("xmin"),
        F.col("_child")[1].alias("ymin"),
        F.col("_child")[2].alias("xmax"),
        F.col("_child")[3].alias("ymax"),
    )

