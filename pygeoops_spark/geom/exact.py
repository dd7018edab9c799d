"""Exact rational-arithmetic area oracle for polygon overlays.

Computes area(A) and area(A1 ∩ ... ∩ Ak) — hence difference, pairwise
union, symmetric-difference and (via inclusion-exclusion) small-N union
areas — EXACTLY over arbitrary (multi)polygons with float coordinates.
``Fraction(float)`` is exact (floats are dyadic rationals), so every
intermediate quantity below is a closed-form rational and the returned
areas carry zero rounding error. Areas cannot tell which shell owns a
hole, so hole_nesting_faults adds that one structural check, in the
same exact arithmetic.

This module is deliberately structure-independent of geom/overlay.py:
no noding, no boundary classification, no ring stitching, no snapping.
It exists to grade the float overlay kernel on absolute areas — in
particular on inputs engineered to evade the kernel's retry-ladder
triggers (lost-edge fraction and area envelopes), the residual risk
called out in round-5 review. A wrong overlay that preserves edge
length and stays inside the area envelopes cannot also match an exact
rational area.

Method — signed-trapezoid decomposition. Orient every ring so the
winding indicator of polygon P satisfies 1_P(x, y) = Σ_e χ_e(x, y)
over all directed edges e of all rings (exterior CCW, holes CW), where
χ_e is the ±1-signed indicator of the trapezoid between edge e and a
horizontal baseline y0 ≤ min_y (sign +1 for leftward edges: for a CCW
ring the leftward top edges cover the interior, the rightward bottom
edges cancel the strip below it). Then

    area(∩_i P_i) = ∬ Π_i 1_{P_i} = Σ_{(e_1..e_k)} ∬ Π_i χ_{e_i},

and each k-tuple term is ± the area between the baseline and the lower
envelope of k non-vertical lines over the common x-interval of the k
edges — an integral that splits at the (rational) pairwise crossings
into trapezoids with rational corners. Every step is closed under
rational arithmetic.

Cost is O(Π_i n_i) per k-way term set — an oracle for test-scale
geometry (tens of vertices), not a production kernel.

Reference semantics anchor: pygeoops delegates overlay correctness to
GEOS (reference pygeoops/_difference.py:171-181 keeps the subject
whenever the subtrahend leaves anything); this module supplies the
independent ground truth those semantics are graded against.
"""

from __future__ import annotations

import math
from fractions import Fraction
from itertools import combinations, product

import numpy as np

from .wkb import POLYGON, Geometry, get_parts

__all__ = [
    "exact_area",
    "exact_intersection_area",
    "exact_difference_area",
    "exact_union_pair_area",
    "exact_symmetric_difference_area",
    "exact_union_area",
    "exact_line_clip_length",
    "exact_line_difference_length",
    "hole_nesting_faults",
]

_F = Fraction


def _frac_rings(geom: Geometry) -> list[list[tuple[Fraction, Fraction]]]:
    """All rings of all POLYGON parts as open vertex lists of exact
    Fractions, canonically signed: shell (ring 0 of each part) CCW,
    holes CW. Degenerate rings (fewer than 3 distinct vertices or zero
    exact area) are dropped."""
    out: list[list[tuple[Fraction, Fraction]]] = []
    for part in get_parts(geom):
        if part.type_id != POLYGON or not part.data:
            continue
        for ri, ring in enumerate(part.data):
            arr = np.asarray(ring, dtype=float)
            pts = [(_F(float(x)), _F(float(y))) for x, y in arr[:, :2]]
            # drop an exactly-repeated closing vertex; edges wrap below
            while len(pts) > 1 and pts[-1] == pts[0]:
                pts.pop()
            # collapse consecutive exact duplicates
            dedup: list[tuple[Fraction, Fraction]] = []
            for p in pts:
                if not dedup or p != dedup[-1]:
                    dedup.append(p)
            if len(dedup) < 3:
                continue
            a2 = _shoelace2(dedup)
            if a2 == 0:
                continue
            want_ccw = ri == 0
            if (a2 > 0) != want_ccw:
                dedup.reverse()
            out.append(dedup)
    return out


def _shoelace2(pts: list[tuple[Fraction, Fraction]]) -> Fraction:
    """Twice the signed area of a closed ring given as open points."""
    s = _F(0)
    n = len(pts)
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return s


def exact_area(geom: Geometry | None) -> Fraction:
    """Exact area of a (multi)polygon: shells minus holes."""
    if geom is None:
        return _F(0)
    return sum((_shoelace2(r) / 2 for r in _frac_rings(geom)), _F(0))


# -- edges -----------------------------------------------------------------
# edge record: (xlo, xhi, x1, y1, slope, sign); vertical edges (zero
# x-extent) contribute no trapezoid and are dropped.


def _edges(rings):
    es = []
    for pts in rings:
        n = len(pts)
        for i in range(n):
            x1, y1 = pts[i]
            x2, y2 = pts[(i + 1) % n]
            if x1 == x2:
                continue
            sign = 1 if x1 > x2 else -1  # leftward edges cover interiors
            xlo, xhi = (x2, x1) if x1 > x2 else (x1, x2)
            slope = (y2 - y1) / (x2 - x1)
            es.append((xlo, xhi, x1, y1, slope, sign))
    return es


def _line_at(e, x: Fraction) -> Fraction:
    _, _, x1, y1, slope, _ = e
    return y1 + (x - x1) * slope


def _tuple_term(edges, y0: Fraction) -> Fraction:
    """∬ Π χ_e for one k-tuple of edges: ± area between y0 and the
    lower envelope of the edge lines over the common x-interval."""
    xlo = max(e[0] for e in edges)
    xhi = min(e[1] for e in edges)
    if xlo >= xhi:
        return _F(0)
    sign = 1
    for e in edges:
        sign *= e[5]
    # breakpoints: pairwise line crossings interior to the interval
    cuts = {xlo, xhi}
    for a, b in combinations(edges, 2):
        if a[4] == b[4]:
            continue  # parallel lines never swap the envelope
        # y1a + (x - x1a) sa = y1b + (x - x1b) sb
        x = (a[3] - b[3] - a[2] * a[4] + b[2] * b[4]) / (b[4] - a[4])
        if xlo < x < xhi:
            cuts.add(x)
    xs = sorted(cuts)
    total = _F(0)
    for p, q in zip(xs, xs[1:]):
        mid = (p + q) / 2
        low = min(edges, key=lambda e: _line_at(e, mid))
        total += (q - p) * ((_line_at(low, p) - y0) + (_line_at(low, q) - y0)) / 2
    return sign * total


def exact_intersection_area(*geoms: Geometry | None) -> Fraction:
    """Exact area of the k-way intersection of (multi)polygons."""
    ring_sets = []
    for g in geoms:
        if g is None:
            return _F(0)
        rings = _frac_rings(g)
        if not rings:
            return _F(0)
        ring_sets.append(rings)
    if len(ring_sets) == 1:
        return sum((_shoelace2(r) / 2 for r in ring_sets[0]), _F(0))
    edge_sets = [_edges(rs) for rs in ring_sets]
    ymin = min(y for rs in ring_sets for pts in rs for _, y in pts)
    y0 = _F(math.floor(ymin) - 1)
    total = _F(0)
    for tup in product(*edge_sets):
        total += _tuple_term(tup, y0)
    return total


def exact_difference_area(a: Geometry | None, b: Geometry | None) -> Fraction:
    """Exact area of A \\ B."""
    return exact_area(a) - exact_intersection_area(a, b)


def exact_union_pair_area(a: Geometry | None, b: Geometry | None) -> Fraction:
    """Exact area of A ∪ B."""
    return exact_area(a) + exact_area(b) - exact_intersection_area(a, b)


def exact_symmetric_difference_area(
    a: Geometry | None, b: Geometry | None
) -> Fraction:
    """Exact area of A △ B."""
    return exact_area(a) + exact_area(b) - 2 * exact_intersection_area(a, b)


# -- exact line-vs-polygon measure -----------------------------------------
# The inside/outside t-measure of each line segment is fully rational:
# crossing parameters solve linear systems, and sub-interval midpoints
# classify by an exact even-odd crossing test. Only the final
# conversion to metric length multiplies the exact fraction by one
# float segment length — "exact up to one sqrt". Generic-position
# inputs only: a sub-segment collinear ON the boundary has an
# ambiguous midpoint and is not handled (float kernels are equally
# ambiguous there).


def _pip_even_odd(x: Fraction, y: Fraction, rings) -> bool:
    inside = False
    for pts in rings:
        n = len(pts)
        for i in range(n):
            x1, y1 = pts[i]
            x2, y2 = pts[(i + 1) % n]
            if (y1 > y) != (y2 > y):
                xi = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
                if xi > x:
                    inside = not inside
    return inside


def _segment_inside_fraction(
    p: tuple[Fraction, Fraction], q: tuple[Fraction, Fraction], rings
) -> Fraction:
    """Exact t-measure of [p, q] strictly inside the even-odd region."""
    dx, dy = q[0] - p[0], q[1] - p[1]
    if dx == 0 and dy == 0:
        return _F(0)
    cuts = {_F(0), _F(1)}
    for pts in rings:
        n = len(pts)
        for i in range(n):
            a = pts[i]
            b = pts[(i + 1) % n]
            ex, ey = b[0] - a[0], b[1] - a[1]
            denom = dx * ey - dy * ex
            if denom == 0:
                continue
            qpx, qpy = a[0] - p[0], a[1] - p[1]
            t = (qpx * ey - qpy * ex) / denom
            u = (qpx * dy - qpy * dx) / denom
            if 0 < t < 1 and 0 <= u <= 1:
                cuts.add(t)
    ts = sorted(cuts)
    total = _F(0)
    for t1, t2 in zip(ts, ts[1:]):
        tm = (t1 + t2) / 2
        if _pip_even_odd(p[0] + tm * dx, p[1] + tm * dy, rings):
            total += t2 - t1
    return total


def _line_frac(coords) -> list[tuple[Fraction, Fraction]]:
    arr = np.asarray(coords, dtype=float)
    return [(_F(float(x)), _F(float(y))) for x, y in arr[:, :2]]


def exact_line_clip_length(coords, geom: Geometry | None) -> float:
    """Length of the polyline inside the (multi)polygon: exact
    per-segment inside fractions x one float segment length each."""
    if geom is None:
        return 0.0
    rings = _frac_rings(geom)
    if not rings:
        return 0.0
    pts = _line_frac(coords)
    total = 0.0
    for p, q in zip(pts, pts[1:]):
        frac = _segment_inside_fraction(p, q, rings)
        if frac:
            seg = math.hypot(float(q[0] - p[0]), float(q[1] - p[1]))
            total += float(frac) * seg
    return total


def exact_line_difference_length(coords, geom: Geometry | None) -> float:
    """Length of the polyline outside the (multi)polygon."""
    pts = _line_frac(coords)
    full = sum(
        math.hypot(float(q[0] - p[0]), float(q[1] - p[1]))
        for p, q in zip(pts, pts[1:])
    )
    return full - exact_line_clip_length(coords, geom)


def exact_union_area(geoms: list[Geometry | None], max_n: int = 6) -> Fraction:
    """Exact area of a small-N union via inclusion-exclusion over exact
    k-way intersections. Exponential in N by design — an oracle, capped
    at ``max_n`` inputs."""
    gs = [g for g in geoms if g is not None and _frac_rings(g)]
    if not gs:
        return _F(0)
    if len(gs) > max_n:
        raise ValueError(f"exact_union_area caps at {max_n} inputs, got {len(gs)}")
    total = _F(0)
    for k in range(1, len(gs) + 1):
        for combo in combinations(gs, k):
            total += (-1) ** (k + 1) * exact_intersection_area(*combo)
    return total


def _ring_probe(ring: list[tuple[Fraction, Fraction]]) -> tuple[Fraction, Fraction]:
    """A point strictly inside a simple ring: the ear centroid at its
    rightmost (then lowest) vertex, a strictly convex corner, halved
    toward that vertex until the even-odd test holds."""
    m = max(range(len(ring)), key=lambda m: (ring[m][0], -ring[m][1]))
    (px, py), (vx, vy), (nx, ny) = ring[m - 1], ring[m], ring[(m + 1) % len(ring)]
    dx, dy = (px + nx - 2 * vx) / 3, (py + ny - 2 * vy) / 3
    for _ in range(64):
        if _pip_even_odd(vx + dx, vy + dy, [ring]):
            break
        dx, dy = dx / 2, dy / 2
    return vx + dx, vy + dy


def hole_nesting_faults(geom: Geometry | None) -> list[tuple[int, int]]:
    """(part, ring) indices of the holes of a (multi)polygon that break
    the OGC nesting rule (ISO 19125-1 §6.1.11): a point strictly inside
    the hole lies inside its own shell and outside every other part,
    save islands inside the hole (parts whose shell encloses less area
    than the hole). Every area above is blind to which shell owns a
    hole — a frame's hole moved onto an island inside it leaves each
    area unchanged — so structure has its own check. Exact arithmetic
    throughout, like the areas."""
    if geom is None:
        return []
    parts = [
        [(_frac_rings(Geometry(POLYGON, [ring])) or [[]])[0] for ring in p.data]
        for p in get_parts(geom)
        if p.type_id == POLYGON and p.data
    ]
    shell_area = [abs(_shoelace2(rings[0])) if rings[0] else 0 for rings in parts]
    faults = []
    for i, rings in enumerate(parts):
        for k, hole in enumerate(rings[1:], 1):
            if not hole:
                continue
            x, y = _ring_probe(hole)
            hole_area = abs(_shoelace2(hole))
            if not _pip_even_odd(x, y, rings[:1]) or any(
                shell_area[j] >= hole_area and _pip_even_odd(x, y, [r for r in q if r])
                for j, q in enumerate(parts)
                if j != i
            ):
                faults.append((i, k))
    return faults
