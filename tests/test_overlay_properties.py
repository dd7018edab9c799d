"""Property-based overlay tests (hypothesis): algebraic invariants of
union/intersection/difference over random axis-aligned and convex
inputs — the robustness net under the golden tests."""

import os

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pygeoops_spark.geom import polygon
from pygeoops_spark.geom.exact import hole_nesting_faults
from pygeoops_spark.geom.kernels import polygon_area
from pygeoops_spark.geom.overlay import (
    polygon_difference,
    polygon_intersection,
    polygon_union,
)

# OVERLAY_SOAK=1000 pytest tests/test_overlay_properties.py — raise every
# sweep to >= that many fresh-seed examples (the round-5 hardening
# protocol after the near-collinear noding fix). Default keeps the suite
# fast.
_SOAK = int(os.environ.get("OVERLAY_SOAK", "0"))


def _n(base: int) -> int:
    return max(base, _SOAK)


coords = st.integers(min_value=0, max_value=40)


@st.composite
def boxes(draw):
    x0 = draw(coords)
    y0 = draw(coords)
    w = draw(st.integers(min_value=1, max_value=15))
    h = draw(st.integers(min_value=1, max_value=15))
    return polygon([(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)])


def _area(g):
    """Area of an overlay result, after the structure check the area
    oracle cannot make: every hole inside its own shell and outside
    every other part but the islands inside it
    (geom/exact.py:hole_nesting_faults)."""
    if g is None:
        return 0.0
    assert hole_nesting_faults(g) == [], g
    return polygon_area(g)


def _rect_intersection_area(a, b) -> float:
    (ax0, ay0), (ax1, ay1) = a.data[0][0], a.data[0][2]
    (bx0, by0), (bx1, by1) = b.data[0][0], b.data[0][2]
    w = min(ax1, bx1) - max(ax0, bx0)
    h = min(ay1, by1) - max(ay0, by0)
    return max(w, 0.0) * max(h, 0.0)


@settings(max_examples=_n(120), deadline=None)
@given(boxes(), boxes())
def test_intersection_area_matches_rect_formula(a, b):
    expected = _rect_intersection_area(a, b)
    got = _area(polygon_intersection(a, b))
    assert abs(got - expected) < 1e-9


@settings(max_examples=_n(120), deadline=None)
@given(boxes(), boxes())
def test_difference_area_identity(a, b):
    # |A \ B| = |A| - |A ∩ B|
    expected = polygon_area(a) - _rect_intersection_area(a, b)
    got = _area(polygon_difference(a, b))
    assert abs(got - expected) < 1e-9


@settings(max_examples=_n(80), deadline=None)
@given(st.lists(boxes(), min_size=2, max_size=5))
def test_union_inclusion_exclusion_bounds(parts):
    u = polygon_union(parts)
    total = sum(polygon_area(p) for p in parts)
    biggest = max(polygon_area(p) for p in parts)
    got = _area(u)
    assert got <= total + 1e-9
    assert got >= biggest - 1e-9


@settings(max_examples=_n(80), deadline=None)
@given(boxes(), boxes())
def test_union_pair_inclusion_exclusion_exact(a, b):
    # |A ∪ B| = |A| + |B| - |A ∩ B| for two rectangles
    expected = polygon_area(a) + polygon_area(b) - _rect_intersection_area(a, b)
    got = _area(polygon_union([a, b]))
    assert abs(got - expected) < 1e-9


@settings(max_examples=_n(60), deadline=None)
@given(boxes(), boxes(), boxes())
def test_difference_then_union_disjoint(a, b, c):
    # (A \ B) must not intersect B
    d = polygon_difference(a, b)
    if d is None:
        return
    i = polygon_intersection(d, b)
    assert _area(i) < 1e-9
    # and differencing twice is idempotent in area
    d2 = polygon_difference(d, b)
    assert abs(_area(d2) - _area(d)) < 1e-9


@st.composite
def convex_polys(draw):
    from pygeoops_spark.geom.kernels import convex_hull_coords

    n = draw(st.integers(min_value=4, max_value=9))
    pts = np.array(
        [
            (draw(st.integers(0, 30)) + draw(st.integers(0, 9)) / 10.0,
             draw(st.integers(0, 30)) + draw(st.integers(0, 9)) / 10.0)
            for _ in range(n)
        ]
    )
    hull = convex_hull_coords(pts)
    if len(hull) < 4:
        # collinear sample: fall back to a triangle around the points
        x, y = pts[0]
        hull = np.array([(x, y), (x + 3, y), (x, y + 3), (x, y)])
    return polygon(hull)


@settings(max_examples=_n(100), deadline=None)
@given(convex_polys(), convex_polys())
def test_convex_difference_intersection_identity(a, b):
    # |A \ B| + |A ∩ B| = |A| — ties the difference and intersection
    # code paths together on arbitrary convex inputs
    inter = _area(polygon_intersection(a, b))
    diff = _area(polygon_difference(a, b))
    assert abs((diff + inter) - polygon_area(a)) < 1e-6


@settings(max_examples=_n(100), deadline=None)
@given(convex_polys(), convex_polys())
def test_convex_union_inclusion_exclusion(a, b):
    inter = _area(polygon_intersection(a, b))
    u = _area(polygon_union([a, b]))
    assert abs(u - (polygon_area(a) + polygon_area(b) - inter)) < 1e-6


# -- dissolve_partition properties -----------------------------------------
@st.composite
def grid_partitions(draw):
    """A rectangle split into a ragged grid of tiles (random cut lines),
    i.e. exactly the interior-disjoint axis-aligned-cut shape
    dissolve_partition is specified for."""
    from pygeoops_spark.geom.overlay import dissolve_partition  # noqa: F401

    x_cuts = sorted(
        set([0, 40] + draw(st.lists(st.integers(1, 39), max_size=4)))
    )
    y_cuts = sorted(
        set([0, 30] + draw(st.lists(st.integers(1, 29), max_size=4)))
    )
    tiles = []
    for x0, x1 in zip(x_cuts[:-1], x_cuts[1:]):
        for y0, y1 in zip(y_cuts[:-1], y_cuts[1:]):
            tiles.append(polygon([(x0, y0), (x1, y0), (x1, y1), (x0, y1)]))
    return tiles


@settings(max_examples=_n(60), deadline=None)
@given(grid_partitions())
def test_dissolve_grid_partition_reassembles_rectangle(tiles):
    from pygeoops_spark.geom.overlay import dissolve_partition

    g = dissolve_partition(tiles)
    assert _area(g) == 40 * 30
    assert g.geom_type == "POLYGON"
    assert len(g.data) == 1  # no holes


@settings(max_examples=_n(40), deadline=None)
@given(grid_partitions(), st.lists(boxes(), min_size=1, max_size=4))
def test_dissolve_matches_union_after_tile_differences(tiles, subs):
    """Difference each tile against shared subtrahends, then dissolve:
    area must equal polygon_union of the same pieces (the general
    recombine) — and both equal total minus the covered area."""
    from pygeoops_spark.geom.difference import difference_all
    from pygeoops_spark.geom.overlay import dissolve_partition

    parts = [
        r
        for t in tiles
        if (r := difference_all(t, subs, check_intersects=True)) is not None
        and not r.is_empty
    ]
    if not parts:
        return
    d = dissolve_partition(parts)
    u = polygon_union(parts)
    assert _area(d) == pytest_approx(_area(u))


def pytest_approx(v):
    import pytest

    return pytest.approx(v, rel=1e-9, abs=1e-9)


# -- concave / holed inputs through the refactored classify path -----------
@st.composite
def l_shapes(draw):
    """Random axis-aligned L-shaped (concave) hexagon."""
    x0 = draw(coords)
    y0 = draw(coords)
    w = draw(st.integers(min_value=2, max_value=12))
    h = draw(st.integers(min_value=2, max_value=12))
    nw = draw(st.integers(min_value=1, max_value=w - 1))
    nh = draw(st.integers(min_value=1, max_value=h - 1))
    return polygon(
        [
            (x0, y0),
            (x0 + w, y0),
            (x0 + w, y0 + nh),
            (x0 + nw, y0 + nh),
            (x0 + nw, y0 + h),
            (x0, y0 + h),
        ]
    )


@settings(max_examples=_n(80), deadline=None)
@given(l_shapes(), l_shapes())
def test_union_concave_inclusion_exclusion(a, b):
    u = polygon_union([a, b])
    i = polygon_intersection(a, b)
    assert _area(u) == pytest_approx(_area(a) + _area(b) - _area(i))


@settings(max_examples=_n(60), deadline=None)
@given(l_shapes(), boxes(), boxes())
def test_union_concave_triple_monotone(a, b, c):
    # union area is monotone and bounded by the sum
    u2 = polygon_union([a, b])
    u3 = polygon_union([a, b, c])
    assert _area(u3) >= _area(u2) - 1e-9
    assert _area(u3) <= _area(a) + _area(b) + _area(c) + 1e-9


@settings(max_examples=_n(60), deadline=None)
@given(boxes(), st.integers(min_value=1, max_value=6), st.integers(min_value=1, max_value=6))
def test_union_with_holed_polygon(outer, hx, hy):
    # a polygon with a hole unioned with a box that plugs part of it
    from hypothesis import assume

    (x0, y0), (x1, y1) = outer.data[0][0], outer.data[0][2]
    w, h = x1 - x0, y1 - y0
    assume(w >= 3 and h >= 3)
    hole = [
        (x0 + 1, y0 + 1),
        (x0 + 1 + min(hx, w - 2), y0 + 1),
        (x0 + 1 + min(hx, w - 2), y0 + 1 + min(hy, h - 2)),
        (x0 + 1, y0 + 1 + min(hy, h - 2)),
    ]
    holed = polygon(
        [(x0, y0), (x1, y0), (x1, y1), (x0, y1)], holes=[hole]
    )
    plug = polygon(hole)
    u = polygon_union([holed, plug])
    assert _area(u) == pytest_approx(w * h)


# -- adjacent parcels: shared / near-shared boundaries ----------------------
@st.composite
def parcel_pairs(draw):
    """Two polygons sharing a boundary, as adjacent cadastral parcels do:
    a convex polygon chord-split into two pieces, with the second
    piece's chord vertices optionally perturbed by eps in
    {0, 1e-12, 1e-9, 1e-7} — spanning exactly-shared through
    near-coincident vertex-on-edge inputs (the class that used to make
    the noding drop whole faces; reference relies on GEOS here,
    _difference.py:171-181)."""
    from pygeoops_spark.geom.kernels import convex_hull_coords

    n = draw(st.integers(min_value=5, max_value=9))
    pts = np.array(
        [
            (draw(st.integers(0, 30)) + draw(st.integers(0, 9)) / 10.0,
             draw(st.integers(0, 30)) + draw(st.integers(0, 9)) / 10.0)
            for _ in range(n)
        ]
    )
    hull = convex_hull_coords(pts)
    if len(hull) < 5:
        x, y = pts[0]
        hull = np.array([(x, y), (x + 6, y), (x + 7, y + 5), (x, y + 4), (x, y)])
    ring = hull[:-1]
    m = len(ring)
    i = draw(st.integers(0, m - 1))
    j = (i + draw(st.integers(2, m - 2))) % m
    i, j = min(i, j), max(i, j)
    if j - i < 2 or (i == 0 and j == m - 1):
        j = (i + 2) % m
        i, j = min(i, j), max(i, j)
    side1 = list(ring[i : j + 1])
    side2 = list(ring[j:]) + list(ring[: i + 1])
    if len(side1) < 3 or len(side2) < 3:
        return None
    eps = draw(st.sampled_from([0.0, 1e-12, 1e-9, 1e-7]))
    sgn = draw(st.sampled_from([-1.0, 1.0]))
    side2 = [np.asarray(p, dtype=float).copy() for p in side2]
    # perturb the chord endpoints as seen by parcel B only
    side2[0] = side2[0] + np.array([sgn * eps, 0.0])
    side2[-1] = side2[-1] + np.array([0.0, sgn * eps])
    pa = polygon(np.vstack([side1, side1[0]]))
    pb = polygon(np.vstack([side2, side2[0]]))
    return (pa, pb, polygon(np.vstack([ring, ring[0]])), eps)


@settings(max_examples=_n(150), deadline=None)
@given(parcel_pairs())
def test_adjacent_parcels_identities(t):
    if t is None:
        return
    a, b, whole, eps = t
    aa, ab = polygon_area(a), polygon_area(b)
    if aa < 1e-6 or ab < 1e-6:
        return
    tol = 1e-6 + eps * 500  # perturbation sweeps area ~ eps * perimeter
    inter = _area(polygon_intersection(a, b))
    assert inter < tol  # interiors disjoint up to the perturbation
    # neither parcel loses area when differenced against its neighbour
    assert abs(_area(polygon_difference(a, b)) - aa) < tol
    assert abs(_area(polygon_difference(b, a)) - ab) < tol
    # and the union reassembles the original polygon
    assert abs(_area(polygon_union([a, b])) - polygon_area(whole)) < tol


@settings(max_examples=_n(150), deadline=None)
@given(parcel_pairs(), boxes())
def test_parcel_difference_box_identity(t, c):
    """|P \\ C| + |P ∩ C| == |P| must hold for each parcel even when its
    sibling's near-coincident boundary is also in play (3-way noding via
    the union of subtrahends, like difference_all does)."""
    if t is None:
        return
    a, b, _whole, eps = t
    for p in (a, b):
        ap = polygon_area(p)
        if ap < 1e-6:
            continue
        inter = _area(polygon_intersection(p, c))
        diff = _area(polygon_difference(p, c))
        assert abs((diff + inter) - ap) < 1e-6


# -- projected-metre-scale coordinates (scale-relative snap path) ----------
@settings(max_examples=_n(100), deadline=None)
@given(parcel_pairs(), st.sampled_from([1e5, 5e5, 1e6]))
def test_adjacent_parcels_projected_scale(t, offset):
    """The same parcel identities at Belgian-Lambert-like magnitudes
    (coords ~1e5-1e6): exercises the scale-relative snap (_op_snap) —
    an absolute 1e-9 grid would overflow the int64 key mantissa near
    1e7 and eat vertices ulps apart at 1e6."""
    if t is None:
        return
    a, b, whole, eps = t

    def shift(g):
        return polygon(np.asarray(g.data[0])[:, :2] + offset)

    a2, b2, w2 = shift(a), shift(b), shift(whole)
    aa, ab = polygon_area(a2), polygon_area(b2)
    if aa < 1e-6 or ab < 1e-6:
        return
    # honest error model at large absolute coordinates: (a) snap-scale
    # sliver absorption ~100*snap along the ~60-unit perimeter; (b) a
    # near-parallel crossing (angle ~ eps/L) is ill-conditioned — its
    # position slides along the chord by ~ulp(offset)/sin(angle), an
    # area term ~ ulp(offset)/max(eps, snap) * L^2. The guarantee under
    # test is NO CATASTROPHIC FACE LOSS (errors bounded by these
    # tolerance-physics terms), not micro-exactness.
    snap = max(1e-9, offset * 1e-12)
    tol = (
        1e-6
        + eps * 500
        + snap * 100 * 60
        + offset * 2.3e-16 / max(eps, snap) * 600
    )
    inter = _area(polygon_intersection(a2, b2))
    assert inter < tol
    assert abs(_area(polygon_difference(a2, b2)) - aa) < tol
    assert abs(_area(polygon_union([a2, b2])) - polygon_area(w2)) < tol


# -- concave adjacent parcels ----------------------------------------------
@st.composite
def concave_parcel_pairs(draw):
    """An L-shaped (concave) lot split by a vertical cut into two
    adjacent parcels sharing the cut segment, the right parcel's cut
    vertices perturbed by eps — shared boundaries that meet a CONCAVE
    corner, a class the convex chord-split sweep cannot produce."""
    x0 = draw(st.integers(0, 20))
    y0 = draw(st.integers(0, 20))
    w = draw(st.integers(min_value=4, max_value=14))
    h = draw(st.integers(min_value=4, max_value=14))
    nw = draw(st.integers(min_value=2, max_value=w - 2))
    nh = draw(st.integers(min_value=2, max_value=h - 2))
    # L-shape: big rect minus top-right notch
    # cut at x0+cx, with cx < nw so the cut crosses the TALL part
    cx = draw(st.integers(min_value=1, max_value=nw - 1))
    eps = draw(st.sampled_from([0.0, 1e-12, 1e-9, 1e-7]))
    sgn = draw(st.sampled_from([-1.0, 1.0]))
    whole = polygon(
        [(x0, y0), (x0 + w, y0), (x0 + w, y0 + nh), (x0 + nw, y0 + nh),
         (x0 + nw, y0 + h), (x0, y0 + h)]
    )
    left = polygon(
        [(x0, y0), (x0 + cx, y0), (x0 + cx, y0 + h), (x0, y0 + h)]
    )
    right = polygon(
        [(x0 + cx + sgn * eps, y0), (x0 + w, y0), (x0 + w, y0 + nh),
         (x0 + nw, y0 + nh), (x0 + nw, y0 + h), (x0 + cx, y0 + h - sgn * eps)]
    )
    return left, right, whole, eps


@settings(max_examples=_n(150), deadline=None)
@given(concave_parcel_pairs())
def test_concave_adjacent_parcels(t):
    left, right, whole, eps = t
    la, ra, wa = polygon_area(left), polygon_area(right), polygon_area(whole)
    tol = 1e-6 + eps * 500
    inter = _area(polygon_intersection(left, right))
    assert inter < tol
    assert abs(_area(polygon_difference(left, right)) - la) < tol
    assert abs(_area(polygon_difference(right, left)) - ra) < tol
    u = _area(polygon_union([left, right]))
    assert abs(u - wa) < tol


# -- symmetric-difference identity: two independent kernel paths ------------
# area(A △ B) computed CONSTRUCTIVELY as |(A\B) ∪ (B\A)| (difference +
# union kernels) must equal |A| + |B| − 2·|A ∩ B| (intersection kernel).
# The arrangement's signals (unnoded contacts, winding disagreements)
# are necessary-condition heuristics; a wrong result that preserves edge
# length would pass them silently — but it cannot satisfy this
# cross-path identity, because the two sides are different ops over
# different arrangements.
def _symdiff_area(a, b) -> float:
    ab = polygon_difference(a, b)
    ba = polygon_difference(b, a)
    parts = [g for g in (ab, ba) if g is not None]
    if not parts:
        return 0.0
    return _area(polygon_union(parts))


@settings(max_examples=_n(120), deadline=None)
@given(boxes(), boxes())
def test_symdiff_identity_boxes(a, b):
    expected = polygon_area(a) + polygon_area(b) - 2 * _rect_intersection_area(a, b)
    assert abs(_symdiff_area(a, b) - expected) < 1e-9


@settings(max_examples=_n(120), deadline=None)
@given(convex_polys(), convex_polys())
def test_symdiff_identity_convex(a, b):
    # error model for the constructive path: (A\B) and (B\A) share a
    # boundary whose vertices come from two different interpolation
    # paths (ulps apart), so their union absorbs connector slivers of
    # width <= 100*snap along the shared perimeter (<~130 here) —
    # honest bound ~1.3e-5, far below any face-loss failure mode
    inter = _area(polygon_intersection(a, b))
    expected = polygon_area(a) + polygon_area(b) - 2 * inter
    assert abs(_symdiff_area(a, b) - expected) < 2e-5


@settings(max_examples=_n(150), deadline=None)
@given(parcel_pairs())
def test_symdiff_identity_adjacent_parcels(t):
    # shared/near-shared boundary: A △ B must reassemble (to tolerance)
    # the whole polygon the parcels were split from
    if t is None:
        return
    a, b, whole, eps = t
    aa, ab = polygon_area(a), polygon_area(b)
    if aa < 1e-6 or ab < 1e-6:
        return
    tol = 2e-5 + eps * 500  # incl. shared-sliver absorption (see convex)
    inter = _area(polygon_intersection(a, b))
    got = _symdiff_area(a, b)
    assert abs(got - (aa + ab - 2 * inter)) < 2 * tol
    assert abs(got - polygon_area(whole)) < 2 * tol


@settings(max_examples=_n(100), deadline=None)
@given(concave_parcel_pairs())
def test_symdiff_identity_concave_parcels(t):
    left, right, whole, eps = t
    tol = 2e-5 + eps * 500  # incl. shared-sliver absorption (see convex)
    inter = _area(polygon_intersection(left, right))
    got = _symdiff_area(left, right)
    expected = polygon_area(left) + polygon_area(right) - 2 * inter
    assert abs(got - expected) < 2 * tol
    assert abs(got - polygon_area(whole)) < 2 * tol


# -- holes under jitter ------------------------------------------------------
@st.composite
def holed_jitter_cases(draw):
    """A holed square A vs one of {plug, half-plug, shell-to-hole
    bridge} B (the pinned shared-boundary-with-holes shapes,
    tests/test_overlay.py:359-394), with EVERY vertex of B — or of A's
    hole ring — independently jittered by eps ∈ {0, 1e-12, 1e-9, 1e-7}.
    The jittered operand turns every exactly-shared hole edge into the
    near-coincident class the tolerance machinery has to absorb."""
    x0 = float(draw(st.integers(0, 20)))
    y0 = float(draw(st.integers(0, 20)))
    w = float(draw(st.integers(8, 16)))
    hx0, hy0 = x0 + w * 0.3, y0 + w * 0.3
    hx1, hy1 = x0 + w * 0.7, y0 + w * 0.7
    kind = draw(st.sampled_from(["plug", "half", "bridge"]))
    eps = draw(st.sampled_from([0.0, 1e-12, 1e-9, 1e-7]))
    jitter_side = draw(st.sampled_from(["b", "hole"]))

    def jit(pts):
        out = []
        for px, py in pts:
            dx = draw(st.sampled_from([-1.0, 0.0, 1.0])) * eps
            dy = draw(st.sampled_from([-1.0, 0.0, 1.0])) * eps
            out.append((px + dx, py + dy))
        return out

    hole = [(hx0, hy0), (hx1, hy0), (hx1, hy1), (hx0, hy1)]
    if kind == "plug":
        bpts = list(hole)
    elif kind == "half":
        hmx = (hx0 + hx1) / 2
        bpts = [(hx0, hy0), (hmx, hy0), (hmx, hy1), (hx0, hy1)]
    else:  # bridge: shell edge -> hole edge
        bpts = [(x0, hy0), (hx0, hy0), (hx0, hy1), (x0, hy1)]
    if jitter_side == "b":
        bpts = jit(bpts)
    else:
        hole = jit(hole)
    shell = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + w), (x0, y0 + w)]
    a = polygon(shell, holes=[hole])
    b = polygon(bpts)
    return a, b, eps


@settings(max_examples=_n(200), deadline=None)
@given(holed_jitter_cases())
def test_holes_under_jitter_identities(t):
    """Inclusion-exclusion + difference + symmetric-difference
    identities over hole-sharing operands at every jitter scale — each
    identity ties kernel paths together with no shared post-noding
    code, so a silently wrong overlay cannot satisfy all of them."""
    a, b, eps = t
    aa, ab = polygon_area(a), polygon_area(b)
    # jitter moves each edge by <= eps; affected shared perimeter < 60;
    # constant term covers shared-sliver absorption on the constructive
    # symdiff path (see test_symdiff_identity_convex)
    tol = 2e-5 + eps * 500
    inter = _area(polygon_intersection(a, b))
    union = _area(polygon_union([a, b]))
    diff_ab = _area(polygon_difference(a, b))
    diff_ba = _area(polygon_difference(b, a))
    assert abs(union - (aa + ab - inter)) < 2 * tol
    assert abs(diff_ab - (aa - inter)) < 2 * tol
    assert abs(diff_ba - (ab - inter)) < 2 * tol
    got = _symdiff_area(a, b)
    assert abs(got - (aa + ab - 2 * inter)) < 3 * tol
