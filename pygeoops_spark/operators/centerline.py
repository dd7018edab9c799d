"""centerline + buffer_by_m as Spark operators (per-row WKB columns,
pygeoops_spark/udf.py:row_udf).

The kernel runs per geometry inside the executor's Python worker; at
100 TB the operator is a narrow map over the scan (no shuffle), so
throughput scales linearly with executor count — the per-geometry
Voronoi cost dominates and is embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql.types import BinaryType, DoubleType, StructField, StructType

from pygeoops_spark.geom.buffer_by_m import buffer_by_m as _buffer_kernel
from pygeoops_spark.geom.centerline import centerline as _centerline_kernel
from pygeoops_spark.geom.wkb import get_coordinates
from pygeoops_spark.udf import row_udf


def centerline_col(
    wkb_col: Column | str,
    densify_distance: float = -1,
    min_branch_length: float = -1,
    simplifytolerance: float = -0.25,
    extend: bool = False,
) -> Column:
    return row_udf(
        lambda g: _centerline_kernel(
            g,
            densify_distance=densify_distance,
            min_branch_length=min_branch_length,
            simplifytolerance=simplifytolerance,
            extend=extend,
        ),
        BinaryType(),
    )(wkb_col)


ENDPOINTS_SCHEMA = StructType(
    [
        StructField("x_start", DoubleType()),
        StructField("y_start", DoubleType()),
        StructField("x_end", DoubleType()),
        StructField("y_end", DoubleType()),
    ]
)


def _endpoints(g):
    c = get_coordinates(g)
    return None if len(c) == 0 else (c[0, 0], c[0, 1], c[-1, 0], c[-1, 1])


def line_endpoints_col(wkb_col: Column | str) -> Column:
    """First/last coordinate of a linestring result (for oracle-able
    numeric checks on centerlines); all-null for a null or empty
    geometry."""
    return row_udf(_endpoints, ENDPOINTS_SCHEMA)(wkb_col)


def buffer_by_m_col(wkb_col: Column | str, quad_segs: int = 8) -> Column:
    return row_udf(lambda g: _buffer_kernel(g, quad_segs=quad_segs), BinaryType())(wkb_col)
