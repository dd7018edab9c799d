"""Vectorized numeric geometry kernels (numpy only).

These are the primitives the reference delegates to GEOS for; rebuilt
here from scratch (reference behavior cited per function for parity
checks, no code taken from it).
"""

from __future__ import annotations

import math

import numpy as np

from pygeoops_spark.geom.wkb import (
    Geometry,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    get_parts,
)


# -- ring / line measures -------------------------------------------------
def ring_signed_area(ring: np.ndarray) -> float:
    """Shoelace signed area of a closed ring (CCW positive).

    Coordinates are shifted by the first vertex before the shoelace:
    (a) it removes the catastrophic cancellation of raw x*y products at
    projected-CRS magnitudes (|x| ~ 1e5-1e6), and (b) it makes the
    formula exact for rings whose closing vertex is within tolerance of
    but not bit-equal to the first (overlay stitching can leave a
    sub-snap gap): with the first vertex at the origin the implicit
    closing-edge term vanishes identically, whereas the unshifted
    unclosed sum carries an offset*gap error (0.25 area units for a
    1e-6 gap at |x| = 5e5)."""
    x = ring[:, 0] - ring[0, 0]
    y = ring[:, 1] - ring[0, 1]
    return 0.5 * float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1]))


def polygon_area(geom: Geometry) -> float:
    """Unsigned area: |shell| minus |holes| summed over parts.

    Matches the reference's use of shapely `.area` (e.g. its
    `_centerline.py` average-width formula)."""
    total = 0.0
    for part in get_parts(geom):
        if part.type_id != POLYGON or not part.data:
            continue
        total += abs(ring_signed_area(part.data[0]))
        for hole in part.data[1:]:
            total -= abs(ring_signed_area(hole))
    return total


# WGS84 authalic radius (the sphere with the ellipsoid's surface area)
WGS84_AUTHALIC_RADIUS_M = 6371007.1809


def ring_area_geodesic(
    ring: np.ndarray, radius: float = WGS84_AUTHALIC_RADIUS_M
) -> float:
    """Unsigned great-circle spherical polygon area of a lon/lat ring
    (degrees), in radius^2 units (m^2 with the default radius).

    EXACT for great-circle-edge polygons via Gauss-Bonnet: on the unit
    sphere, Area = 2*pi - sum(exterior turn angles), with the turn at
    each vertex computed from the adjacent edge-plane normals
    (atan2 of their cross/dot projected on the vertex vector — no
    small-angle approximations, unlike the lat/lon trapezoid formulas).

    Parity target: the reference's geographic-CRS branch
    (/root/reference/pygeoops/_general.py:530-537, pyproj
    Geod.geometry_area_perimeter = Karney ellipsoidal area). On the
    authalic sphere regional areas agree with the ellipsoid to ~0.1%
    at mid latitudes — adequate for remove_inner_rings' threshold
    semantics; documented spherical approximation, not Karney.

    Polygons spanning more than a hemisphere are returned as the
    complement (the smaller cap) — same convention as most GIS area
    helpers for rings.
    """
    arr = np.asarray(ring, dtype=float)[:, :2]
    if len(arr) >= 2 and np.array_equal(arr[0], arr[-1]):
        arr = arr[:-1]
    # drop consecutive duplicates (degenerate edge normals)
    if len(arr) >= 2:
        keep = np.ones(len(arr), dtype=bool)
        keep[1:] = np.any(arr[1:] != arr[:-1], axis=1)
        arr = arr[keep]
    if len(arr) < 3:
        return 0.0
    lon = np.radians(arr[:, 0])
    lat = np.radians(arr[:, 1])
    cl = np.cos(lat)
    v = np.column_stack([cl * np.cos(lon), cl * np.sin(lon), np.sin(lat)])
    nxt = np.roll(v, -1, axis=0)
    n = np.cross(v, nxt)  # plane normal of edge i: v_i -> v_{i+1}
    nn = np.linalg.norm(n, axis=1)
    if (nn == 0).any():  # antipodal edge: undefined great circle
        return 0.0
    n /= nn[:, None]
    n_prev = np.roll(n, 1, axis=0)  # edge arriving at vertex i
    sin_t = np.einsum("ij,ij->i", np.cross(n_prev, n), v)
    cos_t = np.einsum("ij,ij->i", n_prev, n)
    excess = 2.0 * math.pi - float(np.arctan2(sin_t, cos_t).sum())
    excess = abs(excess)
    if excess > 2.0 * math.pi:
        excess = 4.0 * math.pi - excess
    return excess * radius * radius


def line_length(coords: np.ndarray) -> float:
    if len(coords) < 2:
        return 0.0
    d = np.diff(coords[:, :2], axis=0)
    return float(np.sqrt((d * d).sum(axis=1)).sum())


def geom_length(geom: Geometry) -> float:
    """Perimeter for polygons, length for lines (shapely `.length`)."""
    total = 0.0
    for part in get_parts(geom):
        if part.type_id == POLYGON:
            for ring in part.data:
                total += line_length(np.asarray(ring))
        elif part.type_id == LINESTRING:
            total += line_length(np.asarray(part.data))
    return total


# -- point-in-polygon -----------------------------------------------------
# pair budget of points_in_ring: the edges run in chunks of at most
# _MAX_PAIRS (point, edge) pairs, or one edge's span where that is larger,
# so a chunk's arrays stay cache-sized whatever the ring and batch sizes
_MAX_PAIRS = 1 << 16


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized crossing-number test of many points vs one closed ring.

    The points are sorted by y, so each edge's half-open y-span
    [min(y1, y2), max(y1, y2)) is one slice of them, and the crossing
    test runs only on the (point, spanning edge) pairs: cost is the pair
    count, and comb-like rings whose every edge spans every point are
    the worst case. Boundary points may report either side; join
    recipes that need boundary-inclusive semantics add an explicit
    on-edge test.
    """
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    dx, dy = x2 - x1, y2 - y1
    order = py.argsort()
    sx, sy = px[order], py[order]
    lo, hi = sy.searchsorted(np.minimum(y1, y2)), sy.searchsorted(np.maximum(y1, y2))
    cnt = hi - lo
    end = cnt.cumsum()
    off = hi - end  # the k-th pair overall, on edge e, is point off[e] + k
    hits = np.zeros(len(sy), dtype=np.intp)
    k = e1 = 0
    while e1 < len(end):
        e0, e1 = e1, max(end.searchsorted(k + _MAX_PAIRS, "right"), e1 + 1)
        e = np.arange(e0, e1).repeat(cnt[e0:e1])
        p = off[e] + np.arange(k, k + len(e))
        k += len(e)
        cross = sx[p] < dx[e] * (sy[p] - y1[e]) / dy[e] + x1[e]
        hits += np.bincount(p[cross], minlength=len(sy))
    inside = np.empty(len(sy), dtype=bool)
    inside[order] = hits & 1
    return inside


def polygon_rings(geom: Geometry | None) -> list[tuple[np.ndarray, bool]]:
    """Decode a polygon/multipolygon into [(ring, is_hole), ...] for
    point_in_polygon_prepared; [] for a null or empty geometry."""
    rings: list[tuple[np.ndarray, bool]] = []
    if geom is None:
        return rings
    for part in get_parts(geom):
        if part.type_id != POLYGON or not part.data:
            continue
        rings.append((np.asarray(part.data[0]), False))
        for hole in part.data[1:]:
            rings.append((np.asarray(hole), True))
    return rings


def points_in_polygon(px: np.ndarray, py: np.ndarray, poly: Geometry) -> np.ndarray:
    """Points strictly inside polygon (shell minus holes), any part."""
    return point_in_polygon_prepared(polygon_rings(poly))(px, py)


def point_in_polygon_prepared(rings: list[tuple[np.ndarray, bool]]):
    """Build a reusable closure over decoded rings: [(ring, is_hole)].

    The spatial-join layer decodes each polygon once per executor and
    reuses it for every candidate batch (the Spark analog of the
    reference's prepared-geometry optimization in its difference
    prefilter, /root/reference/pygeoops/_difference.py:157-165).
    """

    def test(px: np.ndarray, py: np.ndarray) -> np.ndarray:
        res = np.zeros(len(px), dtype=bool)
        cur = None
        for ring, is_hole in rings:
            m = points_in_ring(px, py, ring)
            if not is_hole:
                if cur is not None:
                    res |= cur
                cur = m
            else:
                if cur is not None:
                    cur &= ~m
        if cur is not None:
            res |= cur
        return res

    return test


# -- segment math ---------------------------------------------------------
def point_segment_distance(
    px: np.ndarray, py: np.ndarray, ax, ay, bx, by
) -> np.ndarray:
    """Distance from points to segment AB (true segment, not line).
    All of px/py/ax/ay/bx/by may be scalars or broadcastable arrays."""
    dx, dy = bx - ax, by - ay
    seg_len2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.clip(
            np.where(seg_len2 == 0, 0.0, ((px - ax) * dx + (py - ay) * dy) / np.where(seg_len2 == 0, 1.0, seg_len2)),
            0.0,
            1.0,
        )
    return np.hypot(px - (ax + t * dx), py - (ay + t * dy))


def segments_touch(p1: np.ndarray, p2: np.ndarray, q1: np.ndarray, q2: np.ndarray) -> np.ndarray:
    """Does segment p1-p2 intersect segment q1-q2, touching and collinear
    contact included? Elementwise over broadcast (..., 2) endpoints."""

    def cross(o, a, b):
        return (a[..., 0] - o[..., 0]) * (b[..., 1] - o[..., 1]) - (
            a[..., 1] - o[..., 1]
        ) * (b[..., 0] - o[..., 0])

    d1 = cross(q1, q2, p1)
    d2 = cross(q1, q2, p2)
    d3 = cross(p1, p2, q1)
    d4 = cross(p1, p2, q2)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))

    def on_seg(a, b, c, dsign):
        return (
            (dsign == 0)
            & (np.minimum(a[..., 0], b[..., 0]) <= c[..., 0])
            & (c[..., 0] <= np.maximum(a[..., 0], b[..., 0]))
            & (np.minimum(a[..., 1], b[..., 1]) <= c[..., 1])
            & (c[..., 1] <= np.maximum(a[..., 1], b[..., 1]))
        )

    touch = (
        on_seg(q1, q2, p1, d1)
        | on_seg(q1, q2, p2, d2)
        | on_seg(p1, p2, q1, d3)
        | on_seg(p1, p2, q2, d4)
    )
    return proper | touch


def segments_cross_chain_batch(edges: np.ndarray, chain: np.ndarray) -> np.ndarray:
    """(E,) bool: does each edge (edges[(E,2,2)]) intersect any segment
    of the coordinate chain? Fully vectorized (E x S broadcast),
    inclusive of touching/collinear contact."""
    E = len(edges)
    if E == 0 or len(chain) < 2:
        return np.zeros(E, dtype=bool)
    return segments_touch(
        edges[:, None, 0], edges[:, None, 1], chain[None, :-1], chain[None, 1:]
    ).any(axis=1)


def geom_intersects_segment(geom: Geometry, seg_a, seg_b) -> bool:
    """Does geometry intersect segment? For polygons: boundary crossing
    or either endpoint inside (sufficient because the segment is a
    connected set)."""
    edge = np.array([[seg_a[:2], seg_b[:2]]], dtype=np.float64)
    for part in get_parts(geom):
        if part.type_id == POINT:
            if part.data is not None and point_segment_distance(
                part.data[0], part.data[1], seg_a[0], seg_a[1], seg_b[0], seg_b[1]
            ) == 0:
                return True
        elif part.type_id in (LINESTRING, POLYGON):
            chains = [part.data] if part.type_id == LINESTRING else part.data
            if any(segments_cross_chain_batch(edge, np.asarray(c))[0] for c in chains):
                return True
            if part.type_id == POLYGON and points_in_polygon(
                edge[0, :, 0], edge[0, :, 1], part
            ).any():
                return True
    return False


# -- hulls ---------------------------------------------------------------
def convex_hull_coords(coords: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain; returns closed CCW hull ring."""
    pts = np.unique(coords[:, :2], axis=0)
    if len(pts) <= 2:
        return pts
    # lexicographic sort is given by np.unique. The chain walks plain
    # Python floats (tolist once): numpy scalar indexing inside the
    # loop was the profiled cost, and np.cross pays moveaxis overhead
    # per call.
    plist = pts.tolist()

    def half(points):
        out: list[list[float]] = []
        for px, py in points:
            while len(out) >= 2:
                bx_, by_ = out[-1]
                ox, oy = out[-2]
                if (bx_ - ox) * (py - oy) - (by_ - oy) * (px - ox) <= 0:
                    out.pop()
                else:
                    break
            out.append([px, py])
        return out

    lower = half(plist)
    upper = half(plist[::-1])
    hull = np.array(lower[:-1] + upper[:-1])
    return np.vstack([hull, hull[:1]])


# -- primitive type algebra ----------------------------------------------
def get_primitivetype_id(geom: Geometry) -> int:
    """0 collection, 1 point, 2 line, 3 polygon — the reference's rule
    'dimensions + 1' (/root/reference/pygeoops/_general.py:384-412)."""
    t = geom.type_id
    if t in (POINT, 4):
        return 1
    if t in (LINESTRING, MULTILINESTRING):
        return 2
    if t in (POLYGON, MULTIPOLYGON):
        return 3
    return 0
