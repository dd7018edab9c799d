"""simplify as a Spark operator (lang / lang+ / rdp / vw).

A per-row WKB column (pygeoops_spark/udf.py:row_udf); the
geometry-level dispatch lives in geom/simplify_geom.py (reference semantics
/root/reference/pygeoops/_simplify.py:29-219 incl. keep_points_on and
preserve_topology). The cross-feature topology-preserving variant is
operators/simplify_topo.py (a genuinely distributed pipeline).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql.types import BinaryType, IntegerType

from pygeoops_spark.geom.simplify_geom import simplify_geometry
from pygeoops_spark.geom.wkb import get_coordinates, wkb_loads
from pygeoops_spark.udf import row_udf


def simplify(
    df,
    id_col: str,
    wkb_col: str,
    tolerance: float,
    algorithm: str = "rdp",
    lookahead: int = 8,
    preserve_topology: bool = True,
    preserve_common_boundaries: bool = False,
    keep_points_on_wkb: "bytes | Column | str | None" = None,
    cell_level: int = 6,
):
    """DataFrame-level simplify with the reference's one-call dispatch
    (_simplify.py:92-106): ``preserve_common_boundaries=True`` routes to
    the distributed topology-preserving pipeline
    (operators/simplify_topo.py) — keeping shared boundaries between
    ALL features in ``df`` consistent — while the default path applies
    the per-geometry kernel as a column.

    Returns a DataFrame (id_col, simplified_wkb) in both modes.
    """
    if preserve_common_boundaries:
        if not preserve_topology:
            raise ValueError(
                "The combination of preserve_common_boundaries=True and "
                "preserve_topology=False is not supported."
            )
        if keep_points_on_wkb is not None and not isinstance(
            keep_points_on_wkb, bytes
        ):
            raise ValueError(
                "preserve_common_boundaries=True supports only a broadcast "
                "bytes keep_points_on_wkb (per-row keeps would break "
                "shared-arc consistency)"
            )
        from pygeoops_spark.operators.simplify_topo import simplify_topo

        return simplify_topo(
            df,
            id_col,
            wkb_col,
            tolerance,
            algorithm=algorithm,
            lookahead=lookahead,
            cell_level=cell_level,
            keep_points_on_wkb=keep_points_on_wkb,
        )
    if algorithm not in ("lang", "lang+", "rdp", "vw"):
        raise ValueError(f"Unsupported algorithm specified: {algorithm}")
    return df.select(
        id_col,
        simplify_col(
            wkb_col,
            tolerance,
            algorithm=algorithm,
            lookahead=lookahead,
            preserve_topology=preserve_topology,
            keep_points_on_wkb=keep_points_on_wkb,
        ).alias("simplified_wkb"),
    )


# top-level export alias: pygeoops_spark.simplify is the scalar-kernel
# dispatch, so the DataFrame-level dispatch exports as simplify_df
simplify_df = simplify


def simplify_col(
    wkb_col: Column | str,
    tolerance: float,
    algorithm: str = "rdp",
    lookahead: int = 8,
    preserve_topology: bool = True,
    keep_points_on_wkb: "bytes | Column | str | None" = None,
) -> Column:
    """Simplify each row's WKB geometry. `keep_points_on_wkb` is a
    geometry whose points are never removed — either a broadcast
    constant (bytes) shared by every row, or a per-row WKB Column
    (the SURVEY §2.1 'second WKB column' mapping of the reference's
    arraylike keep_points_on)."""

    def kernel(g, kpo):
        return simplify_geometry(g, tolerance, algorithm, lookahead, preserve_topology, kpo)

    if isinstance(keep_points_on_wkb, (Column, str)):
        return row_udf(kernel, BinaryType())(wkb_col, keep_points_on_wkb)
    kpo = None if keep_points_on_wkb is None else wkb_loads(keep_points_on_wkb)
    return row_udf(lambda g: kernel(g, kpo), BinaryType())(wkb_col)


def num_coords_col(wkb_col: Column | str) -> Column:
    """Coordinate count of each WKB geometry (diagnostics / subdivide
    parameterization)."""
    return row_udf(lambda g: len(get_coordinates(g)), IntegerType(), null=0)(wkb_col)
