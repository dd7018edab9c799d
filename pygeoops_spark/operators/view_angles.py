"""view_angles as a Spark operator.

A per-row WKB column (pygeoops_spark/udf.py:row_udf); returns
struct<angle_start double, angle_end double> (reference semantics:
/root/reference/pygeoops/_view_angles.py — see geom/view_angles.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from pygeoops_spark.geom.view_angles import view_angles as _va_kernel
from pygeoops_spark.udf import row_udf

ANGLES_SCHEMA = StructType(
    [StructField("angle_start", DoubleType()), StructField("angle_end", DoubleType())]
)


def view_angles_col(
    vx: "float | Column | str", vy: "float | Column | str", wkb_col: Column | str
) -> Column:
    """View angles from a viewpoint to each row's geometry; the
    viewpoint is a fixed (vx, vy) or a per-row pair of columns. A null
    geometry gives null angles."""
    vx, vy = (v if isinstance(v, (Column, str)) else F.lit(float(v)) for v in (vx, vy))
    return row_udf(lambda g, x, y: _va_kernel((float(x), float(y)), g), ANGLES_SCHEMA)(
        wkb_col, vx, vy
    )


def view_angles_pairs(
    df: DataFrame, vx_col: str, vy_col: str, wkb_col: str
) -> DataFrame:
    """Per-row (viewpoint, geometry) pairs variant."""
    return df.withColumn("view_angles", view_angles_col(vx_col, vy_col, wkb_col))
