"""BBox / range join: pairs of rectangles whose extents overlap, planar
(``bbox_join``) and geographic (``geo_bbox_join``).

Candidates via cell-cover equi-join at a coarse level (each side lists
covered cells — the scheme's cover; pairs sharing a cell are
candidates), then the exact interval-overlap predicate. Because a pair
can share several cells, candidates are de-duplicated by assigning
each pair to ONE shared cell, which keeps the join purely distributed
with no distinct shuffle. The dedup rule is the join's own, not the
scheme's: planar keeps the cell of the overlap region's top-left
corner; geographic keeps the smallest shared cell.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pygeoops_spark.join.cells import GEO, PLANAR, CellScheme, cell_coord


def _cover_join(left, right, scheme: CellScheme, level, suffix, broadcast_right, keep_cells):
    """Both sides exploded to their bbox cover cells and equi-joined on
    the cell (right columns suffixed). ``keep_cells`` keeps each side's
    cover array as ``_cells<suffix>`` for a shared-cell dedup."""
    r = right
    for c in right.columns:
        r = r.withColumnRenamed(c, c + suffix)
    ax, ay = scheme.axes

    def covered(df: DataFrame, sfx: str) -> DataFrame:
        cover = scheme.cover(
            f"{ax}min{sfx}", f"{ay}min{sfx}", f"{ax}max{sfx}", f"{ay}max{sfx}", level
        )
        if not keep_cells:
            return df.withColumn("_cell", F.explode(cover))
        cells = "_cells" + sfx
        return df.withColumn(cells, cover).withColumn("_cell", F.explode(cells))

    rc = covered(r, suffix)
    return covered(left, "").join(F.broadcast(rc) if broadcast_right else rc, "_cell")


def _overlap(a: str, suffix: str) -> Column:
    """Closed interval overlap of the ``a`` extents of the two sides."""
    return (F.col(f"{a}min") <= F.col(f"{a}max{suffix}")) & (
        F.col(f"{a}min{suffix}") <= F.col(f"{a}max")
    )


def bbox_join(
    left: DataFrame,
    right: DataFrame,
    level: int = 3,
    suffix: str = "_r",
    broadcast_right: bool = True,
) -> DataFrame:
    """Overlap join of two rectangle tables (xmin/ymin/xmax/ymax each).

    Right columns are suffixed. Touching edges count as overlap
    (inclusive comparisons), matching interval-overlap SQL semantics.
    """
    joined = _cover_join(left, right, PLANAR, level, suffix, broadcast_right, False)
    n = 1 << level
    overlap = _overlap("x", suffix) & _overlap("y", suffix)
    # de-dup: keep the pair only in the min shared cell = cell of the
    # overlap region's (min x, min y) corner
    ox = F.greatest(F.col("xmin"), F.col(f"xmin{suffix}"))
    oy = F.greatest(F.col("ymin"), F.col(f"ymin{suffix}"))
    min_shared = cell_coord(ox, level) * n + cell_coord(oy, level)
    return joined.where(overlap & (F.col("_cell") == min_shared)).drop("_cell")


def _lon_span(lo: Column, hi: Column) -> Column:
    """Circular longitude span of [lo, hi] in degrees: hi wraps past
    the date line when hi < lo; >= 360 means the full circle."""
    return F.when((hi - lo) >= F.lit(360.0), F.lit(360.0)).otherwise(
        F.pmod(hi - lo, F.lit(360.0))
    )


def geo_bbox_join(
    left: DataFrame,
    right: DataFrame,
    level: int = 3,
    suffix: str = "_r",
    broadcast_right: bool = True,
) -> DataFrame:
    """Overlap join of two geographic bbox tables (lonmin/latmin/
    lonmax/latmax each; lonmin > lonmax = date-line crossing).

    The geographic analog of bbox_join: cell-cover equi-join for
    candidates, exact circular-interval overlap predicate (touching
    edges count), then pair dedup.  Because two WRAPPED lon intervals
    can overlap in TWO disjoint arcs, the planar 'overlap-corner cell'
    trick is ambiguous here — instead each side carries its cover
    array and the pair is kept only in the smallest shared cell
    (``array_min(array_intersect(...))``), which is exact for any
    overlap topology and still purely distributed (no distinct
    shuffle)."""
    joined = _cover_join(left, right, GEO, level, suffix, broadcast_right, True)
    lat_ov = _overlap("lat", suffix)
    span_l = _lon_span(F.col("lonmin"), F.col("lonmax"))
    span_r = _lon_span(F.col(f"lonmin{suffix}"), F.col(f"lonmax{suffix}"))
    off_rl = F.pmod(F.col(f"lonmin{suffix}") - F.col("lonmin"), F.lit(360.0))
    off_lr = F.pmod(F.col("lonmin") - F.col(f"lonmin{suffix}"), F.lit(360.0))
    lon_ov = (off_rl <= span_l) | (off_lr <= span_r)
    dedup = F.col("_cell") == F.array_min(
        F.array_intersect("_cells", "_cells" + suffix)
    )
    return joined.where(lat_ov & lon_ov & dedup).drop(
        "_cell", "_cells", "_cells" + suffix
    )
