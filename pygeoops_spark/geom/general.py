"""General utilities: collect, collection_extract, get_parts_recursive,
remove_inner_rings, subdivide — type algebra over our Geometry model.

Behavioral parity targets (studied, not copied):
/root/reference/pygeoops/_general.py — collect type promotion
(:16-91), collection_extract recursion (:102-222), get_parts_recursive
(:340-381), remove_inner_rings (:482-564, planar branch), subdivide
(:567-602).
"""

from __future__ import annotations

import math

import numpy as np

from pygeoops_spark.geom.clip import clip_geom_rect
from pygeoops_spark.geom.grid import create_grid_bboxes, grid_shape_squarish
from pygeoops_spark.geom.kernels import get_primitivetype_id, ring_signed_area
from pygeoops_spark.geom.wkb import (
    GEOMETRYCOLLECTION,
    Geometry,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    bounds,
    get_coordinates,
    get_parts,
    multi,
    require_finite,
)

_TO_MULTI = {POINT: MULTIPOINT, LINESTRING: MULTILINESTRING, POLYGON: MULTIPOLYGON}


def _segments_share_segment(r1: np.ndarray, r2: np.ndarray) -> bool:
    """Do two rings share a collinear overlapping segment (not just a
    point)? Used for the MultiPolygon-validity heuristic in collect."""
    a1, a2 = r1[:-1, :2], r1[1:, :2]
    for b1, b2 in zip(r2[:-1, :2], r2[1:, :2]):
        d = b2 - b1
        # collinear test: both endpoints of each a-seg on the b-line
        cr1 = d[0] * (a1[:, 1] - b1[1]) - d[1] * (a1[:, 0] - b1[0])
        cr2 = d[0] * (a2[:, 1] - b1[1]) - d[1] * (a2[:, 0] - b1[0])
        col = (cr1 == 0) & (cr2 == 0)
        if not col.any():
            continue
        # overlap test along the dominant axis
        axis = 0 if abs(d[0]) >= abs(d[1]) else 1
        lo, hi = min(b1[axis], b2[axis]), max(b1[axis], b2[axis])
        s1 = np.minimum(a1[col, axis], a2[col, axis])
        s2 = np.maximum(a1[col, axis], a2[col, axis])
        if ((np.maximum(s1, lo) < np.minimum(s2, hi))).any():
            return True
    return False


def _multipolygon_invalid(parts: list[Geometry]) -> bool:
    """Heuristic validity: invalid when two member polygons share a
    boundary segment or one's vertex lies strictly inside another
    (covers the reference's adjacent-boxes case; point-touching stays
    valid)."""
    from pygeoops_spark.geom.kernels import points_in_polygon

    for i in range(len(parts)):
        for j in range(i + 1, len(parts)):
            bi, bj = bounds(parts[i]), bounds(parts[j])
            if bi[2] < bj[0] or bj[2] < bi[0] or bi[3] < bj[1] or bj[3] < bi[1]:
                continue
            ri = [np.asarray(r) for r in parts[i].data]
            rj = [np.asarray(r) for r in parts[j].data]
            for a in ri:
                for b in rj:
                    if _segments_share_segment(a, b):
                        return True
            ci = get_coordinates(parts[i])
            cj = get_coordinates(parts[j])
            if points_in_polygon(ci[:, 0], ci[:, 1], parts[j]).any():
                return True
            if points_in_polygon(cj[:, 0], cj[:, 1], parts[i]).any():
                return True
    return False


def collect(geometries: list[Geometry | None]) -> Geometry | None:
    """List -> narrowest multitype; None/empties dropped; single element
    returned as-is; mixed or nested-multi -> GeometryCollection; an
    invalid MultiPolygon (shared boundaries) -> GeometryCollection."""
    geoms = [g for g in geometries if g is not None and not g.is_empty]
    if not geoms:
        return None
    if len(geoms) == 1:
        return geoms[0]
    target: int | None = None
    for g in geoms:
        if g.type_id >= 4:
            target = GEOMETRYCOLLECTION
            break
        m = _TO_MULTI[g.type_id]
        if target is None:
            target = m
        elif m != target:
            target = GEOMETRYCOLLECTION
            break
    if target == MULTIPOLYGON and _multipolygon_invalid(geoms):
        target = GEOMETRYCOLLECTION
    return multi(target, geoms)


def collection_extract(geom: Geometry | None, primitivetype_id: int) -> Geometry | None:
    """Keep only parts matching the primitive type (0=all, 1=pt, 2=line,
    3=poly); recurses into collections then re-collects."""
    if geom is None or primitivetype_id == 0:
        return geom
    if primitivetype_id not in (0, 1, 2, 3):
        raise ValueError(f"Invalid value for primitivetype: {primitivetype_id}")
    t = geom.type_id
    if t in (POINT, MULTIPOINT):
        return geom if primitivetype_id == 1 else None
    if t in (LINESTRING, MULTILINESTRING):
        return geom if primitivetype_id == 2 else None
    if t in (POLYGON, MULTIPOLYGON):
        return geom if primitivetype_id == 3 else None
    kept = [collection_extract(g, primitivetype_id) for g in geom.data]
    kept = [g for g in kept if g is not None]
    if not kept:
        return None
    return collect(kept)


def explode(geom: Geometry | None) -> list[Geometry] | None:
    """Deprecated alias: parts of the input as a list (the reference's
    `explode`, /root/reference/pygeoops/_general.py:243-259, which
    warns and delegates to shapely.get_parts). None passes through."""
    import warnings

    warnings.warn(
        "Deprecated: use get_parts() instead", DeprecationWarning, stacklevel=2
    )
    if geom is None:
        return None
    return get_parts(geom)


def get_parts_recursive(geom: Geometry | None) -> list[Geometry]:
    """Flatten nested multiparts into simple geometries."""
    if geom is None:
        return []
    if geom.type_id < 4:
        return [geom]
    out: list[Geometry] = []
    for p in geom.data:
        out.extend(get_parts_recursive(p))
    return out


def remove_inner_rings(
    geom: Geometry | None,
    min_area_to_keep: float,
    crs_geographic: bool = False,
) -> Geometry | None:
    """Drop interior rings with |area| <= min_area_to_keep (0 => drop
    all). With crs_geographic=True, ring areas are exact ellipsoidal
    geodesic m^2 on WGS84 (lon/lat degree coords) — the reference's
    geographic-CRS branch (/root/reference/pygeoops/_general.py:530-537
    uses pyproj Geod = Karney's ellipsoidal area; ours evaluates the
    same quantity via the auxiliary-sphere integrals, see
    geom.geodesic.ring_area_ellipsoidal).
    """
    if geom is None:
        return None

    def ring_area(ring) -> float:
        arr = np.asarray(ring)
        if crs_geographic:
            from pygeoops_spark.geom.geodesic import ring_area_ellipsoidal

            return ring_area_ellipsoidal(arr)
        return abs(ring_signed_area(arr))

    def one(p: Geometry) -> Geometry:
        if not p.data:
            return p
        if min_area_to_keep == 0.0:
            return Geometry(POLYGON, [p.data[0]], p.dims)
        rings = [p.data[0]]
        for ring in p.data[1:]:
            if ring_area(ring) > min_area_to_keep:
                rings.append(ring)
        return Geometry(POLYGON, rings, p.dims)

    if geom.type_id == POLYGON:
        return one(geom)
    if geom.type_id == MULTIPOLYGON:
        return multi(MULTIPOLYGON, [one(p) for p in geom.data])
    raise ValueError(f"remove_inner_rings impossible on {geom.geom_type}")


def subdivide(geom: Geometry, num_coords_max: int = 1000) -> list[Geometry]:
    """Split a big geometry into ~squarish tiles of <= num_coords_max
    coords on average: create_grid2(ceil(n/max)) over the bounds, clip
    per tile, keep input primitive type, drop empties."""
    n = len(require_finite(geom, "subdivide"))
    if num_coords_max <= 0:
        return [geom]
    if n <= num_coords_max:
        return [geom]
    xmin, ymin, xmax, ymax = bounds(geom)
    k = math.ceil(n / num_coords_max)
    if xmin < xmax and ymin < ymax:
        cols, rows = grid_shape_squarish((xmin, ymin, xmax, ymax), k)
        tiles = create_grid_bboxes((xmin, ymin, xmax, ymax), cols, rows)[:, 2:]
    elif xmin < xmax or ymin < ymax:
        # a flat bbox (an axis-parallel line, a collapsed polygon) has no
        # squarish grid: split it along its one nonzero extent only
        xs = np.linspace(xmin, xmax, k + 1) if xmin < xmax else np.array([xmin, xmax])
        ys = np.linspace(ymin, ymax, k + 1) if ymin < ymax else np.array([ymin, ymax])
        tiles = [
            (x0, y0, x1, y1) for x0, x1 in zip(xs[:-1], xs[1:]) for y0, y1 in zip(ys[:-1], ys[1:])
        ]
    else:
        return [geom]
    want = get_primitivetype_id(geom)
    out: list[Geometry] = []
    for tx0, ty0, tx1, ty1 in tiles:
        c = clip_geom_rect(geom, tx0, ty0, tx1, ty1)
        if c is None:
            continue
        c = collection_extract(c, want)
        if c is not None and not c.is_empty:
            out.append(c)
    return out
