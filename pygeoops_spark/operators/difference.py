"""Distributed difference / subdivide operators.

Scale design (reference semantics from _difference.py re-expressed on
Spark primitives):
  * the subtrahend set is decoded once on the driver and shipped with
    the UDF — the analog of the reference's prepared-geometry reuse;
  * per-row UDFs (pygeoops_spark/udf.py:row_udf) run the numpy kernels
    over Arrow batches;
  * the tiled variant explodes a geometry into subdivision tiles
    (rows), repartitions on tile id (this IS the reference's
    ThreadPoolExecutor, but elastic), differences per tile, and merges
    each feature's pieces with the kernel's own merge step
    (geom/difference.py:merge_tiles) over a collect_list — two shuffles
    total, both on compact ids, and the kernel's result bytes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from pygeoops_spark.geom.difference import difference_all, merge_tiles
from pygeoops_spark.geom.general import subdivide as subdivide_kernel
from pygeoops_spark.geom.kernels import polygon_area
from pygeoops_spark.geom.wkb import POLYGON, get_parts, wkb_loads
from pygeoops_spark.operators.partitioning import cpu_partitions
from pygeoops_spark.udf import row_udf


def difference_all_col(
    wkb_col: Column | str,
    subtrahend_wkbs: list[bytes],
    keep_geom_type: bool | int = False,
) -> Column:
    """Subtract a broadcast set of polygons from each row's geometry."""
    subs = [wkb_loads(b) for b in subtrahend_wkbs]  # decoded once, on the driver
    return row_udf(
        lambda g: difference_all(g, subs, keep_geom_type=keep_geom_type, check_intersects=True),
        BinaryType(),
    )(wkb_col)


def subdivide_col(wkb_col: Column | str, num_coords_max: int = 1000) -> Column:
    """Array of subdivision tiles (WKB) per row — explode downstream to
    fan out; this is how a huge geometry becomes partition-parallel."""
    return row_udf(lambda g: subdivide_kernel(g, num_coords_max), ArrayType(BinaryType()))(wkb_col)


def area_col(wkb_col: Column | str) -> Column:
    return row_udf(polygon_area, DoubleType(), null=0.0)(wkb_col)


def num_rings_col(wkb_col: Column | str) -> Column:
    return row_udf(
        lambda g: sum(len(p.data) for p in get_parts(g) if p.type_id == POLYGON),
        IntegerType(),
        null=0,
    )(wkb_col)


_SPLIT = StructType(
    [StructField("_type", IntegerType()), StructField("_tiles", ArrayType(BinaryType()))]
)


def difference_all_tiled_distributed(
    df: DataFrame,
    id_col: str,
    wkb_col: str,
    subtrahend_wkbs: list[bytes],
    keep_geom_type: bool | int = False,
    subdivide_coords: int = 1000,
    target_partitions: int | None = None,
) -> DataFrame:
    """Distributed difference_all_tiled over a table of geometries.

    subdivide-explode (fan out) -> repartition(tile) -> per-tile
    difference kernel -> repartition(id) + collect_list -> merge_tiles.
    Output: (id_col, result_wkb), the bytes of difference_all_tiled for
    every non-null input row (an empty geometry of the input's type
    where every tile is subtracted away); null rows give no output row.

    Both repartitions use an EXPLICIT partition count (the CPU-bound-
    stage policy of operators/partitioning.py, overridable here via
    target_partitions): the shuffled WKB is tiny but each row costs
    real kernel CPU, so AQE's size-based coalescing would collapse the
    exchange to one task and serialize the whole job.

    The default over-partitions 4x the core count: per-tile kernel cost
    is skewed (coordinate count x subtrahend overlap), and with only
    2x the hash placement regularly lands several heavy tiles in one
    task (r04 bench: 5.8-10.9 s rep spread at ~75 features/partition).
    4x quarters the per-task granule so the scheduler rebalances
    stragglers dynamically — the standard skew mitigation that needs no
    extra exchange (a cost-sorted round-robin would, via a global
    window).
    """
    if target_partitions is None:
        target_partitions = cpu_partitions(df, 4)
    # the input's type rides with its tiles: a feature whose every tile
    # is subtracted away still has a group, and merges to its empty
    split = row_udf(lambda g: (g.type_id, subdivide_kernel(g, subdivide_coords)), _SPLIT)
    tiles = (
        df.select(id_col, split(wkb_col).alias("_split"))
        .select(id_col, "_split._type", F.posexplode("_split._tiles").alias("_pos", "_tile"))
        .repartition(target_partitions, F.col(id_col), F.col("_tile"))
    )
    diffed = tiles.select(
        id_col,
        "_type",
        F.struct(
            "_pos", difference_all_col("_tile", subtrahend_wkbs, keep_geom_type).alias("_diff")
        ).alias("_piece"),
    )

    # merge via collect_list + a scalar row UDF: a plain aggregate plus
    # a batched map beats per-group grouped-map machinery (measured
    # ~25% faster; the agg is map-side partial like any collect_list).
    # Sorting the pieces by tile position hands the kernel's merge step
    # the kernel's order.
    merge = row_udf(merge_tiles, BinaryType())

    # explicit repartition(id) feeds the groupBy: hash partitioning on
    # id already satisfies the agg's clustering requirement, so Catalyst
    # adds no second exchange, and the explicit count keeps the
    # CPU-heavy merge UDF parallel (AQE would coalesce the tiny shuffle
    # to one task otherwise).
    agg = (
        diffed.repartition(target_partitions, F.col(id_col))
        .groupBy(id_col, "_type")
        .agg(F.array_sort(F.collect_list("_piece")).alias("_pieces"))
    )
    pieces = F.transform("_pieces", lambda p: p["_diff"])
    return agg.select(id_col, merge(pieces, "_type").alias("result_wkb"))
