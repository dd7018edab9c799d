"""Clipping kernels against axis-aligned rectangles.

The tiling operators (subdivide, difference_all_tiled) only ever clip
against grid tiles, so rectangle clippers are sufficient — this is the
observation SURVEY.md §7 makes about the reference's tile pipeline
(/root/reference/pygeoops/_general.py:567-602 clips with
shapely.intersection against create_grid2 tiles).

* polygons: Sutherland-Hodgman against each of the 4 half-planes
* polylines: per-segment parametric clip (Liang-Barsky style), emitting
  a new linestring part whenever the line leaves the window
"""

from __future__ import annotations

import numpy as np

from pygeoops_spark.geom.wkb import (
    Geometry,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    get_parts,
    multi,
)


def _crossing(cur: np.ndarray, nxt: np.ndarray, axis: int, bound: float) -> np.ndarray:
    """Where the edge cur -> nxt crosses the cut line ``axis == bound``,
    its ``axis`` coordinate set to the bound EXACTLY: the interpolation
    alone misses the line by an ulp on about 6% of crossings, and the
    pieces either side of a cut must share the line bit for bit."""
    p = cur + (bound - cur[axis]) / (nxt[axis] - cur[axis]) * (nxt - cur)
    p[axis] = bound
    return p


def _clip_ring_halfplane(ring: np.ndarray, axis: int, bound: float, keep_le: bool) -> np.ndarray:
    """Sutherland-Hodgman step: keep side axis<=bound (keep_le) or >=."""
    if len(ring) == 0:
        return ring
    pts = ring[:-1] if len(ring) > 1 and np.array_equal(ring[0], ring[-1]) else ring
    out: list[np.ndarray] = []
    n = len(pts)
    for i in range(n):
        cur, nxt = pts[i], pts[(i + 1) % n]
        cin = (cur[axis] <= bound) if keep_le else (cur[axis] >= bound)
        nin = (nxt[axis] <= bound) if keep_le else (nxt[axis] >= bound)
        if cin:
            out.append(cur)
            if not nin:
                out.append(_crossing(cur, nxt, axis, bound))
        elif nin:
            out.append(_crossing(cur, nxt, axis, bound))
    if len(out) < 3:
        return np.empty((0, ring.shape[1]))
    arr = np.array(out)
    return np.vstack([arr, arr[:1]])


def clip_ring_rect(ring: np.ndarray, xmin: float, ymin: float, xmax: float, ymax: float) -> np.ndarray:
    r = ring
    for axis, bound, keep_le in ((0, xmax, True), (0, xmin, False), (1, ymax, True), (1, ymin, False)):
        r = _clip_ring_halfplane(r, axis, bound, keep_le)
        if len(r) == 0:
            return r
    return r


def clip_polygon_rect(poly: Geometry, xmin, ymin, xmax, ymax) -> Geometry | None:
    """Clip polygon to rect. Holes are clipped independently; a hole
    that survives stays a hole (valid because the clip window is convex).
    """
    shell = clip_ring_rect(np.asarray(poly.data[0]), xmin, ymin, xmax, ymax)
    if len(shell) == 0:
        return None
    rings = [shell]
    for hole in poly.data[1:]:
        h = clip_ring_rect(np.asarray(hole), xmin, ymin, xmax, ymax)
        if len(h) >= 4:
            rings.append(h)
    return Geometry(POLYGON, rings, poly.dims)


def clip_line_rect(coords: np.ndarray, xmin, ymin, xmax, ymax) -> list[np.ndarray]:
    """Clip a polyline to rect; returns list of coordinate chains."""
    chains: list[list[np.ndarray]] = []
    cur: list[np.ndarray] = []
    for i in range(len(coords) - 1):
        p, q = coords[i].astype(float), coords[i + 1].astype(float)
        seg = _clip_segment(p, q, xmin, ymin, xmax, ymax)
        if seg is None:
            if len(cur) >= 2:
                chains.append(cur)
            cur = []
            continue
        a, b = seg
        if cur and np.allclose(cur[-1], a):
            cur.append(b)
        else:
            if len(cur) >= 2:
                chains.append(cur)
            cur = [a, b]
    if len(cur) >= 2:
        chains.append(cur)
    return [np.array(c) for c in chains]


def _clip_segment(p, q, xmin, ymin, xmax, ymax):
    """Liang-Barsky parametric segment clip; None if fully outside."""
    d = q - p
    t0, t1 = 0.0, 1.0
    for delta, lo, hi in ((d[0], xmin - p[0], xmax - p[0]), (d[1], ymin - p[1], ymax - p[1])):
        if delta == 0:
            if lo > 0 or hi < 0:
                return None
            continue
        ta, tb = lo / delta, hi / delta
        if ta > tb:
            ta, tb = tb, ta
        t0, t1 = max(t0, ta), min(t1, tb)
        if t0 > t1:
            return None
    return (p + t0 * d, p + t1 * d)


def clip_geom_rect(geom: Geometry, xmin, ymin, xmax, ymax) -> Geometry | None:
    """Clip any geometry to a rectangle; returns None when empty."""
    t = geom.type_id
    if t == POINT:
        if geom.data is None:
            return None
        x, y = geom.data[0], geom.data[1]
        return geom if (xmin <= x <= xmax and ymin <= y <= ymax) else None
    if t == LINESTRING:
        chains = clip_line_rect(np.asarray(geom.data), xmin, ymin, xmax, ymax)
        if not chains:
            return None
        if len(chains) == 1:
            return Geometry(LINESTRING, chains[0], geom.dims)
        return multi(MULTILINESTRING, [Geometry(LINESTRING, c, geom.dims) for c in chains])
    if t == POLYGON:
        if not geom.data:
            return None
        return clip_polygon_rect(geom, xmin, ymin, xmax, ymax)
    parts = []
    for p in get_parts(geom):
        c = clip_geom_rect(p, xmin, ymin, xmax, ymax)
        if c is not None and not c.is_empty:
            parts.extend(get_parts(c))
    if not parts:
        return None
    if len(parts) == 1:
        return parts[0]
    tid = {POINT: MULTIPOINT, LINESTRING: MULTILINESTRING, POLYGON: MULTIPOLYGON}.get(
        parts[0].type_id, 7
    )
    if any(p.type_id != parts[0].type_id for p in parts):
        tid = 7
    return multi(tid, parts)
