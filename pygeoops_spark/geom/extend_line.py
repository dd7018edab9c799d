"""extend_line kernels: by-distance extrapolation and extend-to-geometry.

Behavioral parity: /root/reference/pygeoops/_extend_line.py —
extend_line_by_distance (:7-35), extend_line_to_geometry (:38-128, with
MultiLineString sibling-branch blocking), closest-intersection search
(:131-168) and segment extrapolation helpers (:171-284). Re-implemented
on our numpy segment kernels.
"""

from __future__ import annotations

import math

import numpy as np

from pygeoops_spark.geom.kernels import (
    point_segment_distance,
    points_in_polygon,
)
from pygeoops_spark.geom.wkb import (
    Geometry,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOLYGON,
    POLYGON,
    bounds,
    get_parts,
    multi,
)


def extend_line_by_distance(line: Geometry, start_distance: float, end_distance: float) -> Geometry:
    """Linear extrapolation of the first/last segment by the distances;
    an empty line has no segment and comes back as it is."""
    if line.type_id != LINESTRING:
        raise ValueError(f"line must be a LineString, not {line.geom_type}")
    if line.is_empty or (start_distance == 0 and end_distance == 0):
        return line
    coords = np.asarray(line.data, dtype=float).copy()
    coords[0] = _extend_point(coords[1], coords[0], start_distance)
    coords[-1] = _extend_point(coords[-2], coords[-1], end_distance)
    return Geometry(LINESTRING, coords, line.dims)


def _extend_point(p1: np.ndarray, p2: np.ndarray, distance: float) -> np.ndarray:
    if distance < 0:
        raise ValueError(f"distance must be >= 0, received: {distance}")
    seg_len = math.hypot(p1[0] - p2[0], p1[1] - p2[1])
    if seg_len == 0:
        raise ValueError("length of input segment cannot be 0")
    ratio = distance / seg_len
    return p2 + (p2 - p1) * ratio


def extend_segment_by_ratio(
    p1: tuple[float, float], p2: tuple[float, float], ratio: float
) -> tuple[tuple[float, float], tuple[float, float]]:
    """Extend segment p1->p2 past p2 by `ratio` of its own length
    (reference `_extend_line._extend_segment_by_ratio`, behavior pinned
    by its tests/test_extend_line.py:262-293 table incl. the
    'ratio must be >= 0' contract)."""
    if ratio < 0:
        raise ValueError(f"ratio must be >= 0, received: {ratio}")
    q = (
        p2[0] + (p2[0] - p1[0]) * ratio,
        p2[1] + (p2[1] - p1[1]) * ratio,
    )
    return ((p1[0], p1[1]), q)


def _boundary_chains(extend_to: Geometry) -> list[np.ndarray]:
    """Coordinate chains forming the boundary of the target geometry."""
    chains = []
    for part in get_parts(extend_to):
        if part.type_id == POLYGON:
            chains.extend(np.asarray(r)[:, :2] for r in part.data)
        elif part.type_id == LINESTRING:
            chains.append(np.asarray(part.data)[:, :2])
    return chains


def extend_line_to_geometry(line: Geometry, extend_to: Geometry) -> Geometry:
    """Extend each endpoint of the line to its nearest intersection with
    the target's boundary; MultiLineString branches are blocked from
    extending into sibling branches; no intersection => endpoint kept."""
    if extend_to.type_id not in (POLYGON, MULTIPOLYGON, LINESTRING, MULTILINESTRING):
        raise ValueError("geometry must be a (Multi)Polygon (Multi)LineString")
    chains = _boundary_chains(extend_to)
    ext_bounds = bounds(extend_to)

    if line.type_id == LINESTRING:
        return _extend_linestring(line, chains, ext_bounds, blockers=[])
    if line.type_id == MULTILINESTRING:
        parts = list(line.data)
        out = []
        for i, part in enumerate(parts):
            blockers = [np.asarray(p.data)[:, :2] for j, p in enumerate(parts) if j != i]
            out.append(_extend_linestring(part, chains, ext_bounds, blockers))
        return multi(MULTILINESTRING, out)
    raise ValueError(f"line must be (Multi)LineString, not {line.geom_type}")


def _point_on_chains(pt: np.ndarray, chains: list[np.ndarray], tol: float = 0.0) -> bool:
    for c in chains:
        if len(c) == 1:
            if c[0][0] == pt[0] and c[0][1] == pt[1]:
                return True
            continue
        d = point_segment_distance(
            np.full(len(c) - 1, pt[0]), np.full(len(c) - 1, pt[1]),
            c[:-1, 0], c[:-1, 1], c[1:, 0], c[1:, 1],
        )
        if (d <= tol).any():
            return True
    return False


def _extend_linestring(
    line: Geometry, chains: list[np.ndarray], ext_bounds, blockers: list[np.ndarray]
) -> Geometry:
    coords = np.asarray(line.data, dtype=float).copy()
    if not len(coords):
        return line
    if not _point_on_chains(coords[0, :2], blockers):
        coords[0, :2] = _closest_extend_point(coords[1, :2], coords[0, :2], chains, ext_bounds)
    if not _point_on_chains(coords[-1, :2], blockers):
        coords[-1, :2] = _closest_extend_point(coords[-2, :2], coords[-1, :2], chains, ext_bounds)
    return Geometry(LINESTRING, coords, line.dims)


def _closest_extend_point(p1, p2, chains: list[np.ndarray], ext_bounds) -> np.ndarray:
    """Nearest intersection of ray p1->p2 extended to the target bbox
    with any boundary chain; p2 unchanged if already on the boundary or
    no intersection exists."""
    if _point_on_chains(p2, chains):
        return p2
    p_ext = _extend_to_bbox(p1, p2, ext_bounds)
    if p_ext is None or (p_ext[0] == p2[0] and p_ext[1] == p2[1]):
        return p2
    best, best_d = None, np.inf
    for c in chains:
        for k in range(len(c) - 1):
            ip = _segment_intersection(p2, p_ext, c[k], c[k + 1])
            if ip is None:
                continue
            d = math.hypot(ip[0] - p2[0], ip[1] - p2[1])
            if d < best_d:
                best, best_d = ip, d
    return np.asarray(best) if best is not None else p2


def _extend_to_bbox(p1, p2, bbox) -> np.ndarray | None:
    """Extrapolate segment p1->p2 forward until the bbox boundary (the
    far end in the direction of travel)."""
    minx, miny, maxx, maxy = bbox
    d = np.asarray(p2, dtype=float) - np.asarray(p1, dtype=float)
    if d[0] == 0 and d[1] == 0:
        return None
    ts = []
    if d[0] != 0:
        ts += [(minx - p2[0]) / d[0], (maxx - p2[0]) / d[0]]
    if d[1] != 0:
        ts += [(miny - p2[1]) / d[1], (maxy - p2[1]) / d[1]]
    fwd = [t for t in ts if t > 0]
    t = max(fwd) if fwd else 0.0
    return np.asarray(p2) + t * d


def _segment_intersection(p1, p2, q1, q2) -> tuple[float, float] | None:
    """Intersection point of segments [p1,p2] and [q1,q2] (inclusive);
    None if they don't meet. Collinear overlaps return the q-endpoint
    nearest p1."""
    p1 = np.asarray(p1, dtype=float)
    p2 = np.asarray(p2, dtype=float)
    q1 = np.asarray(q1, dtype=float)
    q2 = np.asarray(q2, dtype=float)
    r, s = p2 - p1, q2 - q1
    denom = r[0] * s[1] - r[1] * s[0]
    qp = q1 - p1
    if denom == 0:
        if qp[0] * r[1] - qp[1] * r[0] != 0:
            return None
        # collinear: pick nearest q endpoint within the p-range
        cands = []
        rr = float(r @ r)
        for q in (q1, q2):
            t = float((q - p1) @ r) / rr if rr else 0.0
            if 0 <= t <= 1:
                cands.append((t, q))
        if not cands:
            return None
        q = min(cands, key=lambda c: c[0])[1]
        return (float(q[0]), float(q[1]))
    t = (qp[0] * s[1] - qp[1] * s[0]) / denom
    u = (qp[0] * r[1] - qp[1] * r[0]) / denom
    if 0 <= t <= 1 and 0 <= u <= 1:
        ip = p1 + t * r
        return (float(ip[0]), float(ip[1]))
    return None


__all__ = [
    "extend_line_by_distance",
    "extend_line_to_geometry",
    "points_in_polygon",
]
