"""Hierarchical cell indexes — planar quadkey and geographic lon/lat —
and the ``CellScheme`` objects the PIP, kNN and bbox joins are written
against.

Planar: a from-scratch H3/S2 stand-in suited to the synthetic planar
corpus: the world is a fixed square, level L divides it into
2^L x 2^L cells, and ``cell_id = ix * 2^L + iy``. Everything is integer
arithmetic on columns — Catalyst keeps it inside whole-stage codegen,
the ids join as plain longs, and range-partitioning by id gives spatial
locality (row-major space-filling order; a Z-order interleave is
available for locality-sensitive bucketing).

Geographic: a from-scratch lat/lon cell index (the geographic face of
the same layer): at level L the world is nlat = 2^L latitude rows and
nlon = 2^(L+1) longitude columns of equal DEGREE size (180/2^L each),
``cell_id = ix * nlat + iy``. What differs from the planar case, and
how each is handled:

* **Longitude convergence**: a fixed metre radius spans more lon cells
  at high latitude.  The ring widens per latitude row —
  ``rx(row) = ceil(r / cos(lat_extreme(row)))`` — so candidates stay
  tight at the equator and complete near the poles.
* **Date line**: lon cell indices wrap modulo nlon (``pmod``), so a
  probe at lon 179.9 sees targets at -179.9 with no special casing;
  duplicate cells from a full wrap are removed with array_distinct.
* **Poles**: when the ring would extend past a pole (iy ± r outside
  [0, nlat-1]) every covered row goes full-wrap: the covered region
  becomes a complete latitude band including the pole, which is both
  simple to reason about for the exactness bound and cheap (polar
  probes are rare; nlon cells per row).

At 100 TB scale this is the partitioning backbone: cell ids are the
shuffle keys for spatial joins and (prefix at a coarser level) the
Iceberg partition values, so filters on cells prune files before any
geometry work.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from pygeoops_spark.geom.geodesic import WGS84_A

# World bounds for the synthetic planar corpus: [0, 1024)^2 so cell
# sizes are exact binary fractions (no float drift between engines).
WORLD_MIN = 0.0
WORLD_SIZE = 1024.0


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def cell_size(level: int) -> float:
    return WORLD_SIZE / (1 << level)


def cell_coord(v: Column | str, level: int) -> Column:
    """Integer cell coordinate along one axis, clamped to the world."""
    v = _col(v)
    n = 1 << level
    s = cell_size(level)
    ix = F.floor((v - F.lit(WORLD_MIN)) / F.lit(s)).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), ix))


def cell_id(x: Column | str, y: Column | str, level: int) -> Column:
    """Row-major cell id: ix * 2^level + iy (pure SQL, codegen-able)."""
    n = 1 << level
    return cell_coord(x, level) * F.lit(n) + cell_coord(y, level)


def cover_cells_bbox(
    xmin: Column | str, ymin: Column | str, xmax: Column | str, ymax: Column | str, level: int
) -> Column:
    """Array of cell ids intersecting an axis-aligned bbox.

    Pure SQL: sequence() over the ix range cross sequence() over iy via
    nested transform+flatten. Caller explodes the result; each covered
    cell appears exactly once, so an equi-join against point cell ids
    needs no de-dup.
    """
    ix0, ix1 = cell_coord(xmin, level), cell_coord(xmax, level)
    iy0, iy1 = cell_coord(ymin, level), cell_coord(ymax, level)
    return _block(ix0, ix1, iy0, iy1, level)


def _block(ix0: Column, ix1: Column, iy0: Column, iy1: Column, level: int) -> Column:
    """Row-major ids of the cell block [ix0, ix1] x [iy0, iy1]."""
    n = F.lit(1 << level)
    return F.flatten(
        F.transform(
            F.sequence(ix0, ix1),
            lambda ix: F.transform(F.sequence(iy0, iy1), lambda iy: ix * n + iy),
        )
    )


def ring_cells(x: Column | str, y: Column | str, level: int, radius: int) -> Column:
    """Array of cell ids in the (2r+1)^2 Chebyshev neighborhood of the
    point's cell, clamped to the world — the kNN candidate generator."""
    n = 1 << level
    ix, iy = cell_coord(x, level), cell_coord(y, level)
    lo = F.lit(0)
    hi = F.lit(n - 1)
    ix0, ix1 = F.greatest(lo, ix - radius), F.least(hi, ix + radius)
    iy0, iy1 = F.greatest(lo, iy - radius), F.least(hi, iy + radius)
    return _block(ix0, ix1, iy0, iy1, level)


def parent_cell(cell: Column | str, level: int) -> Column:
    """Parent cell id one level up (row-major ids): halve both axes.
    Pure integer arithmetic — the basis of pyramid rollups where each
    level's aggregate derives from the previous (map-side combinable).
    """
    cell = _col(cell)
    n = 1 << level
    ix = (cell / n).cast("long")
    iy = cell % n
    return (ix / 2).cast("long") * (n // 2) + (iy / 2).cast("long")


def zorder_id(x: Column | str, y: Column | str, level: int) -> Column:
    """Morton/Z-order interleaved id (locality-preserving ordering for
    range-partitioned writes). Bit interleave via SQL shift/mask loop
    unrolled to `level` steps."""
    ix, iy = cell_coord(x, level), cell_coord(y, level)
    z = F.lit(0).cast("long")
    for b in range(level):
        # disjoint bit positions => addition == bitwise or
        z = (
            z
            + F.shiftleft(F.shiftright(ix, b) % 2, 2 * b + 1)
            + F.shiftleft(F.shiftright(iy, b) % 2, 2 * b)
        )
    return z


# ---- geographic lon/lat cells -------------------------------------------


def _ncells(level: int) -> tuple[int, int]:
    """(nlon, nlat) at a level: equal-degree cells, 2:1 grid."""
    return 2 << level, 1 << level


def geo_cell_ix(lon: Column | str, level: int) -> Column:
    """Longitude cell index in [0, nlon); input wraps into [-180, 180)."""
    lon = _col(lon)
    nlon, _ = _ncells(level)
    step = 360.0 / nlon
    ix = F.floor(F.pmod(lon + F.lit(180.0), F.lit(360.0)) / F.lit(step)).cast("long")
    return F.least(F.lit(nlon - 1), ix)


def geo_cell_iy(lat: Column | str, level: int) -> Column:
    """Latitude cell index in [0, nlat); +-90 clamp to the polar rows."""
    lat = _col(lat)
    _, nlat = _ncells(level)
    step = 180.0 / nlat
    iy = F.floor((lat + F.lit(90.0)) / F.lit(step)).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(nlat - 1), iy))


def geo_cell_id(lon: Column | str, lat: Column | str, level: int) -> Column:
    """Row-major geographic cell id: ix * nlat + iy (pure SQL)."""
    _, nlat = _ncells(level)
    return geo_cell_ix(lon, level) * F.lit(nlat) + geo_cell_iy(lat, level)


def _ring_rows(iy: Column, nlat: int, radius: int) -> tuple[Column, Column, Column]:
    """(ring reaches past a pole, first row, last row) of a geo ring."""
    touches_pole = ((iy - radius) < 0) | ((iy + radius) > (nlat - 1))
    return touches_pole, F.greatest(F.lit(0), iy - radius), F.least(F.lit(nlat - 1), iy + radius)


def geo_ring_cells(
    lon: Column | str, lat: Column | str, level: int, radius: int
) -> Column:
    """Array of candidate cell ids around the point's cell: +-radius
    latitude rows, each widened in longitude by rx = ceil(radius /
    cos(extreme row latitude)) with date-line wrap; full-wrap rows when
    the ring touches a pole.  Pure SQL (codegen)."""
    lon, lat = _col(lon), _col(lat)
    nlon, nlat = _ncells(level)
    dlat = 180.0 / nlat
    half = nlon // 2
    ix, iy = geo_cell_ix(lon, level), geo_cell_iy(lat, level)
    touches_pole, iy0, iy1 = _ring_rows(iy, nlat, radius)

    def row_cells(iyr: Column) -> Column:
        # extreme |lat| over the row band [lat_lo, lat_lo + dlat]
        lat_lo = F.lit(-90.0) + iyr.cast("double") * F.lit(dlat)
        cos_min = F.least(
            F.cos(F.radians(lat_lo)), F.cos(F.radians(lat_lo + F.lit(dlat)))
        )
        rx = F.when(
            touches_pole | (cos_min <= F.lit(1e-12)), F.lit(half)
        ).otherwise(
            F.least(F.lit(half), F.ceil(F.lit(float(radius)) / cos_min).cast("int"))
        )
        return F.transform(
            F.sequence(-rx, rx),
            lambda dx: F.pmod(ix + dx, F.lit(nlon)) * F.lit(nlat) + iyr,
        )

    return F.array_distinct(F.flatten(F.transform(F.sequence(iy0, iy1), row_cells)))


def geo_cover_cells_bbox(
    lonmin: Column | str,
    latmin: Column | str,
    lonmax: Column | str,
    latmax: Column | str,
    level: int,
) -> Column:
    """Array of cell ids intersecting a geographic bbox, pure SQL.

    ``lonmin > lonmax`` means the box CROSSES the date line (wraps
    east past +180); a box spanning >= 360 degrees covers every
    longitude column.  The cover may slightly over-cover at the +180
    seam (a superset is fine for candidate generation — the exact
    predicate decides), but it is the SAME deterministic set for a
    given box, which is what the min-shared-cell dedup needs."""
    lonmin, latmin, lonmax, latmax = map(_col, (lonmin, latmin, lonmax, latmax))
    nlon, nlat = _ncells(level)
    ix0 = geo_cell_ix(lonmin, level)
    ix1 = geo_cell_ix(lonmax, level)
    full = (lonmax - lonmin) >= F.lit(360.0)
    # a date-line-wrapped box whose span exceeds 360 - cell_width can
    # land both endpoints in the SAME column: pmod(ix1 - ix0) = 0 would
    # emit a single column though the box covers every one. Wrapped +
    # same-cell implies span > 360 - cell_width, so cover fully.
    wrapped_full = (lonmax < lonmin) & (F.pmod(ix1 - ix0, F.lit(nlon)) == 0)
    nx = F.when(full | wrapped_full, F.lit(nlon - 1)).otherwise(
        F.pmod(ix1 - ix0, F.lit(nlon))
    )
    iy0 = geo_cell_iy(latmin, level)
    iy1 = geo_cell_iy(latmax, level)
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), nx),
            lambda dx: F.transform(
                F.sequence(iy0, iy1),
                lambda iy: F.pmod(ix0 + dx, F.lit(nlon)) * F.lit(nlat) + iy,
            ),
        )
    )


# ---- cell schemes ---------------------------------------------------------


class CellScheme:
    """One cell index as the PIP, kNN and bbox joins see it: a new cell
    join is written once against these members, never per index. The
    base is the planar quadkey scheme (``PLANAR``); ``GeoScheme``
    overrides it for lon/lat (``GEO``).

    ``axes`` names the coordinates: PIP zones carry ``<axis>min`` /
    ``<axis>max`` bbox columns, kNN aliases ``_t<axis>``/``_p<axis>``.
    Level L holds ``n_cells(L)`` cells; ``extent`` is the world extent
    along ``span_axis`` (the auto-level span cap), ``max_level`` the
    auto-level ceiling."""

    axes, span_axis, extent, max_level, root_cells = ("x", "y"), "x", WORLD_SIZE, 12, 1
    cell_id = staticmethod(cell_id)
    cover = staticmethod(cover_cells_bbox)
    ring = staticmethod(ring_cells)

    def n_cells(self, level: int) -> int:
        return self.root_cells * 4**level

    def ring_covers_grid(self, level: int, radius: int) -> bool:
        """A ring holds every cell once its radius reaches the 2^L cells
        per axis (planar) or latitude rows (geographic)."""
        return radius >= (1 << level)

    def safe_radius(self, level: int, radius: int, x: str, y: str) -> float | Column:
        """Lower bound on the distance from the probe at (x, y) to any
        target OUTSIDE its ring — the k-th neighbour is exact within it.
        Planar: the inradius of the ring box from the probe's own cell."""
        return float(radius) * cell_size(level)

    def zone_cover(self, level: int) -> Column:
        """Cover of a PIP zone's bbox columns."""
        ax, ay = self.axes
        return self.cover(f"{ax}min", f"{ay}min", f"{ax}max", f"{ay}max", level)

    def zone_frame_x(self, x: str) -> Column | None:
        """The point's x in a PIP zone's own frame; None when unshifted."""
        return None


class GeoScheme(CellScheme):
    """Equal-degree lon/lat cells with date-line wrap. Distances are
    metres on a sphere of radius ``a``; ``shrink_f`` turns the sphere
    bound into one on the ellipsoid of that flattening (None: rank on
    the sphere itself).

    PIP zone convention: polygon coords and bbox columns are UNWRAPPED
    — a zone crossing the date line continues past +180 (e.g. lon
    170..190), so lonmax may exceed 180 and always lonmax >= lonmin.
    Candidate cells come from the wrapped cover; each candidate point
    is shifted into the zone's frame (p' = lonmin + pmod(p - lonmin,
    360)) before the bbox prefilter and the kernel, so date-line zones
    need no special casing in the geometry test."""

    axes, span_axis, extent, max_level, root_cells = ("lon", "lat"), "lat", 180.0, 10, 2
    cell_id = staticmethod(geo_cell_id)
    cover = staticmethod(geo_cover_cells_bbox)
    ring = staticmethod(geo_ring_cells)

    def __init__(self, a: float = WGS84_A, shrink_f: float | None = None):
        self.a, self.shrink_f = a, shrink_f

    def zone_cover(self, level):
        span = F.col("lonmax") - F.col("lonmin")
        wrapped_max = F.when(span >= F.lit(360.0), F.col("lonmin") + F.lit(360.0)).otherwise(
            F.pmod(F.col("lonmax") + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)
        )
        return geo_cover_cells_bbox(
            F.col("lonmin"), F.col("latmin"), wrapped_max, F.col("latmax"), level
        )

    def zone_frame_x(self, x):
        return F.col("lonmin") + F.pmod(F.col(x) - F.col("lonmin"), F.lit(360.0))

    def safe_radius(self, level, radius, x, y):
        """Any geodesic escaping the covered region crosses one of its
        bounding curves, so the bound is the minimum over
          - the latitude-circle edges:  a * Δφ_edge   (∞ past a covered pole)
          - the meridian edges:  a * asin(cos φ_p * |sin Δλ_edge|)
            (distance to the full meridian great circle — conservative),
        computed on the guaranteed-covered sub-box (half-width r cells
        in lon: every row's rx >= r)."""
        nlon, nlat = _ncells(level)
        dlat = 180.0 / nlat
        a = self.a
        ix, iy = geo_cell_ix(x, level), geo_cell_iy(y, level)
        touches_pole, iy0, iy1 = _ring_rows(iy, nlat, radius)
        lat_s_edge = F.lit(-90.0) + iy0.cast("double") * F.lit(dlat)
        lat_n_edge = F.lit(-90.0) + (iy1 + 1).cast("double") * F.lit(dlat)
        inf = F.lit(float("inf"))
        bound_s = F.when(touches_pole & (iy0 == 0), inf).otherwise(
            F.lit(a) * F.radians(F.col(y) - lat_s_edge)
        )
        bound_n = F.when(touches_pole & (iy1 == nlat - 1), inf).otherwise(
            F.lit(a) * F.radians(lat_n_edge - F.col(y))
        )
        full_wrap = touches_pole | (2 * radius + 1 >= nlon)
        dlon_deg = 360.0 / nlon
        # sub-box lon edges at half-width `radius` cells (covered in every
        # row since rx(row) >= radius)
        edge_e = (ix + radius + 1).cast("double") * F.lit(dlon_deg) - F.lit(180.0)
        edge_w = (ix - radius).cast("double") * F.lit(dlon_deg) - F.lit(180.0)
        dl_e = F.pmod(edge_e - F.col(x), F.lit(360.0))
        dl_w = F.pmod(F.col(x) - edge_w, F.lit(360.0))

        def meridian_bound(dl: Column) -> Column:
            return F.lit(a) * F.asin(
                F.least(F.lit(1.0), F.cos(F.radians(y)) * F.abs(F.sin(F.radians(dl))))
            )

        bound_lon = F.when(full_wrap, inf).otherwise(
            F.least(meridian_bound(dl_e), meridian_bound(dl_w))
        )
        safe = F.least(bound_s, bound_n, bound_lon)
        if self.shrink_f is not None:
            # sphere bound -> conservative ellipsoid bound (join/geo_knn.py)
            safe = (safe - F.lit(2.0 * a * self.shrink_f)) * F.lit(1.0 - self.shrink_f)
        return safe


PLANAR = CellScheme()
GEO = GeoScheme()


def _raw_level(per_cell: float, scheme: CellScheme) -> float:
    return 0.5 * (math.log2(max(1.0, per_cell)) - math.log2(scheme.n_cells(0)))


def auto_level(
    n_points: int,
    scheme: CellScheme = PLANAR,
    points_per_cell: float = 16.0,
    lo: int = 1,
    min_cell: float | None = None,
) -> int:
    """Density-derived default cell level for PIP/bbox joins (VERDICT
    r05 task #5).

    Picks L so the grid holds ~``points_per_cell`` points per cell
    (``scheme.n_cells(L)`` ≈ n / ppc): candidate blowup per covered cell
    stays bounded while the broadcast cover stays coarse.  The level
    grows with log4(n), which is exactly the scaling you want at
    100 TB — and it reproduces the hand-tuned level 5 for the driver's
    15k-point / 64-zone planar PIP shape and level 3 for its
    4000-point / 21-diamond-zone geographic one.  ``min_cell`` (e.g.
    median zone span / 8, in scheme units) caps the refinement so a
    cell's extent (``scheme.extent`` / 2^L) never drops below it and
    tiny cells never explode a zone's cover.
    """
    level = int(round(_raw_level(n_points / points_per_cell, scheme)))
    if min_cell is not None and min_cell > 0:
        cap = int(math.floor(math.log2(max(1.0, scheme.extent / min_cell))))
        level = min(level, cap)
    return max(lo, min(scheme.max_level, level))


def auto_level_knn(
    n_targets: int, k: int, radius: int, scheme: CellScheme = PLANAR, lo: int = 0
) -> int:
    """Coarsest level whose initial (2r+1)^2 ring window holds ≥ k
    targets in expectation (``scheme.n_cells(L)`` ≤ n_targets*(2r+1)^2/k,
    floored, so the expectation is a guarantee, not a coin flip) —
    too-fine grids multiply whole-join ring-expansion passes (measured
    2x on the 16-hub geographic driver shape: level 2 beats level 3).
    Reproduces the hand-picked geographic level 2 for 16 hubs at k=3,
    radius=1."""
    w = (2 * radius + 1) ** 2
    return max(lo, min(scheme.max_level, int(_raw_level(n_targets * w / max(1, k), scheme))))
