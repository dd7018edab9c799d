"""Collection/type-algebra operators.

`collect` is the reference's only aggregation operator
(/root/reference/pygeoops/_general.py:16-91): list of geometries ->
narrowest multitype. Distributed as a hash repartition on the group
keys, a collect_list per group, and one row kernel over each group's
array (the WKB payloads are small relative to the group fan-in).

The scalar ops (collection_extract / get_primitivetype_id /
get_parts_recursive explode / remove_inner_rings / extend_line) are
per-row WKB columns built by pygeoops_spark/udf.py:row_udf.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, IntegerType, StructField, StructType

from pygeoops_spark.geom.extend_line import (
    extend_line_by_distance as _extend_dist_kernel,
    extend_line_to_geometry as _extend_geom_kernel,
)
from pygeoops_spark.geom.general import (
    collect as _collect_kernel,
    collection_extract as _extract_kernel,
    get_parts_recursive as _parts_kernel,
    remove_inner_rings as _rings_kernel,
)
from pygeoops_spark.geom.kernels import get_primitivetype_id as _pid_kernel
from pygeoops_spark.geom.wkb import wkb_loads
from pygeoops_spark.operators.partitioning import repartition_for_cpu
from pygeoops_spark.udf import row_udf


def _collected(geoms):
    g = _collect_kernel(geoms)
    if g is None:
        return None
    return g, len(g.data) if g.type_id >= 4 else 1, g.type_id


def collect_agg(
    df: DataFrame, group_cols: Sequence[str], wkb_col: str = "wkb"
) -> DataFrame:
    """groupBy(group_cols) -> one collected geometry per group.

    Output: group cols + collected_wkb + n_parts + geom_type_id.
    """
    collected = row_udf(
        _collected,
        StructType(
            [
                StructField("collected_wkb", BinaryType()),
                StructField("n_parts", IntegerType()),
                StructField("geom_type_id", IntegerType()),
            ]
        ),
        null=(None, 0, 0),
    )
    # CPU-bound kernel over tiny WKB: pin the partition count so AQE
    # can't serialize it (see operators/partitioning.py); the hash
    # partitioning already satisfies the aggregate, so no second exchange
    return (
        repartition_for_cpu(df.select(*group_cols, wkb_col), *group_cols)
        .groupBy(*group_cols)
        .agg(F.collect_list(wkb_col).alias("_wkbs"))
        .select(*group_cols, collected("_wkbs").alias("_c"))
        .select(*group_cols, "_c.*")
    )


def collection_extract_col(
    wkb_col: Column | str, primitivetype_id: "int | Column | str"
) -> Column:
    """Keep only parts of the requested primitive type.

    primitivetype_id may be a scalar int (one type for all rows) or a
    Column/column name of per-row type codes — the Spark mapping of the
    reference's zipped arraylike form (geometry array + primitivetype
    array 1:1, /root/reference/pygeoops/_general.py:137-164)."""
    if isinstance(primitivetype_id, int):
        return row_udf(lambda g: _extract_kernel(g, primitivetype_id), BinaryType())(wkb_col)

    def extract(g, t):
        if t is None or pd.isna(t):
            raise ValueError("Invalid value for primitivetype: None")
        return _extract_kernel(g, int(t))

    return row_udf(extract, BinaryType())(wkb_col, primitivetype_id)


def primitivetype_id_col(wkb_col: Column | str) -> Column:
    return row_udf(_pid_kernel, IntegerType(), null=0)(wkb_col)


def parts_recursive_col(wkb_col: Column | str) -> Column:
    """Array of simple-geometry WKBs (explode downstream = the
    reference's deprecated `explode`)."""
    return row_udf(_parts_kernel, ArrayType(BinaryType()))(wkb_col)


def remove_inner_rings_col(wkb_col: Column | str, min_area_to_keep: float) -> Column:
    return row_udf(lambda g: _rings_kernel(g, min_area_to_keep), BinaryType())(wkb_col)


def make_valid_col(
    wkb_col: Column | str,
    keep_collapsed: bool = True,
    only_if_invalid: bool = False,
) -> Column:
    """Validity repair over a WKB column (reference make_valid,
    _general.py:419-479, applied per row): nonzero-winding arrangement
    repair for polygons, GEOS-MakeValid linework rules for lines and
    collections (geom/validity.py)."""
    from pygeoops_spark.geom.validity import make_valid as _mv_kernel

    return row_udf(
        lambda g: _mv_kernel(
            g, keep_collapsed=keep_collapsed, only_if_invalid=only_if_invalid
        ),
        BinaryType(),
    )(wkb_col)


def extend_line_by_distance_col(
    wkb_col: Column | str, start_distance: float, end_distance: float
) -> Column:
    return row_udf(
        lambda g: _extend_dist_kernel(g, start_distance, end_distance), BinaryType()
    )(wkb_col)


def extend_line_to_geometry_col(
    wkb_col: Column | str, extend_to_wkb: bytes
) -> Column:
    target = wkb_loads(extend_to_wkb)  # broadcast constant: decoded once, on the driver
    return row_udf(lambda g: _extend_geom_kernel(g, target), BinaryType())(wkb_col)
