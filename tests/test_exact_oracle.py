"""Grade the float overlay kernel against the exact rational oracle.

geom/exact.py computes overlay AREAS in exact Fraction arithmetic via
signed-trapezoid decomposition — no noding, classification, stitching,
or snapping — so these tests judge geom/overlay.py on absolute values,
not just internal identities. This closes the round-5 residual risk:
a wrong overlay that preserves edge length and stays inside the
retry-ladder's area envelopes would pass the identity sweeps, but it
cannot also match an exact rational area.

Tolerances follow the kernel's documented snapping envelope: vertices
may move by up to the operation snap (max(1e-9, |coord|max * 1e-12)),
and the coarse-retry ladder by 200x that, shifting areas by at most
~grid * perimeter. Jittered inputs add eps * perimeter.

Reference anchor: pygeoops delegates overlay correctness to GEOS
(reference pygeoops/_difference.py:171-181); the oracle re-derives that
ground truth independently.

OVERLAY_SOAK=1000 scales every hypothesis sweep up for soak runs.
"""

import os
from fractions import Fraction

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pygeoops_spark.geom import polygon
from pygeoops_spark.geom.exact import (
    exact_area,
    exact_difference_area,
    exact_intersection_area,
    exact_symmetric_difference_area,
    exact_union_area,
    exact_union_pair_area,
    hole_nesting_faults,
)
from pygeoops_spark.geom.kernels import polygon_area
from pygeoops_spark.geom.overlay import (
    polygon_difference,
    polygon_intersection,
    polygon_union,
)
from pygeoops_spark.geom.wkb import MULTIPOLYGON, multi

_SOAK = int(os.environ.get("OVERLAY_SOAK", "0"))


def _n(base: int) -> int:
    return max(base, _SOAK)


def _area(g):
    """Area of an overlay result, after the structure check the area
    oracle cannot make: every hole inside its own shell and outside
    every other part but the islands inside it
    (geom/exact.py:hole_nesting_faults)."""
    if g is None:
        return 0.0
    assert hole_nesting_faults(g) == [], g
    return polygon_area(g)


# -- oracle self-tests (closed forms, no kernel involved) ------------------


def test_oracle_pinned_closed_forms():
    sq = lambda x0, y0, w, h: polygon(
        [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]
    )
    a, b = sq(0, 0, 2, 2), sq(1, 1, 2, 2)
    assert exact_area(a) == 4
    assert exact_intersection_area(a, b) == 1
    assert exact_difference_area(a, b) == 3
    assert exact_union_pair_area(a, b) == 7
    assert exact_symmetric_difference_area(a, b) == 6
    # disjoint and nested
    assert exact_intersection_area(a, sq(5, 5, 1, 1)) == 0
    assert exact_intersection_area(a, sq(0.5, 0.5, 1, 1)) == 1
    # holes subtract
    holed = polygon(
        [(0, 0), (4, 0), (4, 4), (0, 4)], holes=[[(1, 1), (3, 1), (3, 3), (1, 3)]]
    )
    assert exact_area(holed) == 12
    assert exact_intersection_area(holed, sq(0, 0, 2, 4)) == 6
    # shared-diagonal triangles: boundary-only contact has zero area
    t1 = polygon([(0, 0), (4, 0), (0, 4)])
    t2 = polygon([(4, 4), (0, 4), (4, 0)])
    assert exact_intersection_area(t1, t2) == 0
    # 3-way intersection and inclusion-exclusion union
    assert exact_intersection_area(sq(0, 0, 3, 3), sq(1, 0, 3, 3), sq(0, 1, 3, 3)) == 4
    assert exact_union_area([sq(0, 0, 2, 2), sq(1, 0, 2, 2), sq(10, 10, 1, 1)]) == 7
    # multipolygon parts sum
    mp = multi(MULTIPOLYGON, [sq(0, 0, 1, 1), sq(3, 0, 2, 1)])
    assert exact_area(mp) == 3
    assert exact_intersection_area(mp, sq(0, 0, 10, 10)) == 3


def test_oracle_is_exact_on_float_coordinates():
    # 0.1-style coords are dyadic rationals: the oracle result must be
    # the EXACT product of the exact spans, not a float approximation.
    sq = lambda x0, y0, w, h: polygon(
        [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]
    )
    i = exact_intersection_area(sq(0.1, 0.1, 0.3, 0.3), sq(0.2, 0.2, 0.3, 0.3))
    # the constructor adds 0.1+0.3 in FLOAT; the exact span is the
    # Fraction of that rounded float minus the exact 0.2
    span = Fraction(0.1 + 0.3) - Fraction(0.2)
    assert i == span * span
    assert i != Fraction(1, 25)  # and 0.04 is NOT representable: no rounding


def test_oracle_orientation_insensitive():
    # reversed shells / holes are re-canonicalized before decomposition
    shell = [(0, 0), (4, 0), (4, 4), (0, 4)]
    hole = [(1, 1), (3, 1), (3, 3), (1, 3)]
    a = polygon(shell, holes=[hole])
    b = polygon(shell[::-1], holes=[hole[::-1]])
    assert exact_area(a) == exact_area(b) == 12
    probe = polygon([(0, 0), (2, 0), (2, 4), (0, 4)])
    assert exact_intersection_area(a, probe) == exact_intersection_area(b, probe) == 6


# -- oracle vs oracle: independent exact method ----------------------------
# Sutherland-Hodgman halfplane clipping in pure Fractions — a SECOND
# exact algorithm sharing no code or structure with the trapezoid
# decomposition — must agree bit-for-bit on convex pairs.


def _frac_pts(g):
    ring = np.asarray(g.data[0], dtype=float)[:, :2]
    pts = [(Fraction(float(x)), Fraction(float(y))) for x, y in ring]
    if pts[0] == pts[-1]:
        pts.pop()
    # force CCW
    area2 = sum(
        pts[i][0] * pts[(i + 1) % len(pts)][1]
        - pts[(i + 1) % len(pts)][0] * pts[i][1]
        for i in range(len(pts))
    )
    return pts if area2 > 0 else pts[::-1]


def _sh_clip_exact(subject, clipper):
    """Exact Sutherland-Hodgman: clip CCW convex `subject` points by
    each CCW edge halfplane of convex `clipper`. All rational."""
    out = subject
    m = len(clipper)
    for i in range(m):
        (ax, ay), (bx, by) = clipper[i], clipper[(i + 1) % m]
        ex, ey = bx - ax, by - ay

        def side(p):
            return ex * (p[1] - ay) - ey * (p[0] - ax)  # >=0 is inside (left)

        cur, out = out, []
        for j in range(len(cur)):
            p, q = cur[j], cur[(j + 1) % len(cur)]
            sp, sq = side(p), side(q)
            if sp >= 0:
                out.append(p)
            if (sp > 0 and sq < 0) or (sp < 0 and sq > 0):
                t = sp / (sp - sq)
                out.append((p[0] + t * (q[0] - p[0]), p[1] + t * (q[1] - p[1])))
        if not out:
            return []
    return out


def _shoelace_frac(pts):
    n = len(pts)
    return (
        sum(
            pts[i][0] * pts[(i + 1) % n][1] - pts[(i + 1) % n][0] * pts[i][1]
            for i in range(n)
        )
        / 2
        if n >= 3
        else Fraction(0)
    )


def test_oracle_cross_check_pinned():
    sq = lambda x0, y0, w, h: polygon(
        [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]
    )
    cases = [
        (sq(0, 0, 2, 2), sq(1, 1, 2, 2)),
        (sq(0.1, 0.1, 0.3, 0.3), sq(0.2, 0.2, 0.3, 0.3)),
        (polygon([(0, 0), (4, 0), (0, 4)]), polygon([(1, 1), (5, 1), (1, 5)])),
        (polygon([(0, 0), (4, 0), (0, 4)]), polygon([(4, 4), (0, 4), (4, 0)])),
    ]
    for a, b in cases:
        sh = _shoelace_frac(_sh_clip_exact(_frac_pts(a), _frac_pts(b)))
        assert sh == exact_intersection_area(a, b)  # EXACT equality


def test_oracle_cross_check_sweep():
    """Randomized cross-check: both exact methods agree BIT-FOR-BIT on
    random convex pairs (rationals — no tolerance anywhere)."""
    rng = np.random.default_rng(11)
    n_pairs = max(200, _SOAK)
    for _ in range(n_pairs):
        polys = []
        for _k in range(2):
            cx, cy = rng.uniform(5, 35, 2)
            k = int(rng.integers(3, 9))
            angles = np.sort(rng.uniform(0, 2 * np.pi, k))
            rad = rng.uniform(2, 9)
            pts = [(cx + rad * np.cos(t), cy + rad * np.sin(t)) for t in angles]
            polys.append(polygon(pts))
        a, b = polys
        from pygeoops_spark.geom.kernels import polygon_area as _pa

        if _pa(a) <= 0 or _pa(b) <= 0:
            continue
        sh = _shoelace_frac(_sh_clip_exact(_frac_pts(a), _frac_pts(b)))
        trap = exact_intersection_area(a, b)
        assert sh == trap, (a.data[0], b.data[0])


def test_kernel_matches_exact_on_r04_counterexample():
    """The round-4 wrong answer, graded on ABSOLUTE area this time."""
    a = polygon([(10.0, 0.0), (24.8, 30.7), (12.1, 5.3)])
    b = polygon([(10.0, 0.0), (24.8, 30.7), (12.1, 5.287)])
    exact_i = float(exact_intersection_area(a, b))
    got = _area(polygon_intersection(a, b))
    assert got == pytest.approx(exact_i, abs=1e-6)
    for x, y in ((a, b), (b, a)):
        assert _area(polygon_difference(x, y)) == pytest.approx(
            float(exact_difference_area(x, y)), abs=1e-6
        )
    assert _area(polygon_union([a, b])) == pytest.approx(
        float(exact_union_pair_area(a, b)), abs=1e-6
    )


def test_kernel_matches_exact_on_vertex_on_edge():
    # vertex 1e-9 off the other polygon's edge — the snapping envelope
    # allows only ~snap * perimeter of area drift
    a = polygon([(0.0, 0.0), (10.0, 0.0), (5.0, 8.0)])
    b = polygon([(2.0, 1e-9), (8.0, 1e-9), (5.0, -6.0)])
    exact_i = float(exact_intersection_area(a, b))
    assert _area(polygon_intersection(a, b)) == pytest.approx(exact_i, abs=1e-6)
    assert _area(polygon_difference(a, b)) == pytest.approx(
        float(exact_difference_area(a, b)), abs=1e-6
    )


# -- hole nesting: which shell owns a hole ----------------------------------
# An island inside a hole must not take the hole (the area stays right,
# the structure does not), and a U-shaped hole, whose vertex mean lies
# outside it, must be kept.

_FRAME = polygon([(0, 0), (10, 0), (10, 10), (0, 10)], holes=[[(2, 2), (2, 8), (8, 8), (8, 2)]])
_ISLAND = polygon([(4, 4), (6, 4), (6, 6), (4, 6)])
# the 10x10 square minus a notch at x 3..7, y 3..10, and a width-1 U
# inside it; U with V as its hole has the exact area 50
_U = polygon([(0, 0), (10, 0), (10, 10), (7, 10), (7, 3), (3, 3), (3, 10), (0, 10)])
_V = [(1, 1), (9, 1), (9, 9), (8, 9), (8, 2), (2, 2), (2, 9), (1, 9)]
_U_HOLED = polygon(np.asarray(_U.data[0]), holes=[_V[::-1]])


def test_union_keeps_hole_off_island():
    got = polygon_union([_FRAME, _ISLAND])
    assert hole_nesting_faults(got) == []
    assert _area(got) == float(exact_union_pair_area(_FRAME, _ISLAND)) == 68


def test_difference_keeps_u_shaped_hole():
    v = polygon(_V)
    assert exact_difference_area(_U, v) == 50
    assert _area(polygon_difference(_U, v)) == pytest.approx(50, abs=1e-9)


def test_union_keeps_u_shaped_hole():
    far = polygon([(20, 0), (21, 0), (21, 1), (20, 1)])
    assert exact_union_pair_area(_U_HOLED, far) == 51
    assert _area(polygon_union([_U_HOLED, far])) == pytest.approx(51, abs=1e-9)


def test_dissolve_keeps_u_shaped_hole():
    from pygeoops_spark.geom.overlay import dissolve_partition

    tile = polygon([(10, 0), (12, 0), (12, 2), (10, 2)])
    assert exact_union_pair_area(_U_HOLED, tile) == 54
    assert _area(dissolve_partition([_U_HOLED, tile])) == pytest.approx(54, abs=1e-9)


# -- kernel vs oracle: hypothesis sweeps -----------------------------------

coords = st.integers(min_value=0, max_value=40)


@st.composite
def boxes(draw):
    x0, y0 = draw(coords), draw(coords)
    w = draw(st.integers(min_value=1, max_value=15))
    h = draw(st.integers(min_value=1, max_value=15))
    return polygon([(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)])


@st.composite
def l_shapes(draw):
    x0, y0 = draw(coords), draw(coords)
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


@st.composite
def convex_polys(draw):
    cx = draw(st.integers(min_value=5, max_value=35))
    cy = draw(st.integers(min_value=5, max_value=35))
    k = draw(st.integers(min_value=3, max_value=8))
    rad = draw(st.integers(min_value=2, max_value=9))
    angles = np.sort(draw(
        st.lists(
            st.floats(min_value=0.0, max_value=2 * np.pi - 1e-3),
            min_size=k, max_size=k, unique=True,
        )
    ))
    pts = [(cx + rad * np.cos(t), cy + rad * np.sin(t)) for t in angles]
    return polygon(pts)


@settings(max_examples=_n(150), deadline=None)
@given(boxes(), l_shapes())
def test_kernel_areas_match_exact_box_vs_lshape(a, b):
    exact_i = float(exact_intersection_area(a, b))
    assert _area(polygon_intersection(a, b)) == pytest.approx(exact_i, abs=1e-9)
    assert _area(polygon_difference(a, b)) == pytest.approx(
        float(exact_difference_area(a, b)), abs=1e-9
    )
    assert _area(polygon_union([a, b])) == pytest.approx(
        float(exact_union_pair_area(a, b)), abs=1e-9
    )


@settings(max_examples=_n(120), deadline=None)
@given(convex_polys(), convex_polys())
def test_kernel_constructive_symdiff_matches_exact(a, b):
    """union(A\\B, B\\A) — three chained kernel ops whose intermediate
    results share noded boundaries — graded on the absolute exact
    symmetric-difference area. Caught the phantom-crossing noding bug
    (near-parallel pieces sharing an endpoint)."""
    if polygon_area(a) < 1e-6 or polygon_area(b) < 1e-6:
        return
    u = polygon_union([polygon_difference(a, b), polygon_difference(b, a)])
    assert _area(u) == pytest.approx(
        float(exact_symmetric_difference_area(a, b)), abs=1e-6
    )


@settings(max_examples=_n(120), deadline=None)
@given(convex_polys(), convex_polys())
def test_kernel_areas_match_exact_convex(a, b):
    if polygon_area(a) < 1e-6 or polygon_area(b) < 1e-6:
        return
    exact_i = float(exact_intersection_area(a, b))
    assert _area(polygon_intersection(a, b)) == pytest.approx(exact_i, abs=1e-6)
    assert _area(polygon_difference(a, b)) == pytest.approx(
        float(exact_difference_area(a, b)), abs=1e-6
    )


@settings(max_examples=_n(80), deadline=None)
@given(st.lists(boxes(), min_size=2, max_size=4))
def test_kernel_nary_union_matches_exact(parts):
    got = _area(polygon_union(parts))
    assert got == pytest.approx(float(exact_union_area(parts)), abs=1e-9)


@settings(max_examples=_n(80), deadline=None)
@given(boxes(), st.integers(min_value=1, max_value=6), st.integers(min_value=1, max_value=6))
def test_kernel_holed_intersection_matches_exact(outer, hx, hy):
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
    holed = polygon([(x0, y0), (x1, y0), (x1, y1), (x0, y1)], holes=[hole])
    probe = polygon([(x0, y0), (x0 + w / 2, y0), (x0 + w / 2, y1), (x0, y1)])
    exact_i = float(exact_intersection_area(holed, probe))
    assert _area(polygon_intersection(holed, probe)) == pytest.approx(
        exact_i, abs=1e-9
    )
    assert _area(polygon_difference(holed, probe)) == pytest.approx(
        float(exact_difference_area(holed, probe)), abs=1e-9
    )


def test_difference_all_driver_corpus_matches_exact():
    """The driver `difference` query's full 64-zone corpus (synth_zones
    arithmetic, both variants) graded against exact rational areas at
    kernel level — v1: zone minus two interior boxes; v2: adversarial
    shared-boundary subtrahends (full-edge strip + triangle with an
    apex 1e-9 inside the right edge)."""
    from pygeoops_spark.geom.difference import difference_all

    for zid in range(64):
        zcol, zrow = zid % 8, zid // 8
        x0 = zcol * 125 + (zid * 37) % 20 - 10.0
        y0 = zrow * 125 + (zid * 53) % 20 - 10.0
        x1 = x0 + 100 + (zid * 29) % 40
        y1 = y0 + 100 + (zid * 41) % 40
        zone = polygon([(x0, y0), (x1, y0), (x1, y1), (x0, y1)])
        for subs in (
            [
                polygon([(x0 + 10, y0 + 10), (x0 + 30, y0 + 10), (x0 + 30, y0 + 30), (x0 + 10, y0 + 30)]),
                polygon([(x1 - 30, y1 - 30), (x1 - 10, y1 - 30), (x1 - 10, y1 - 10), (x1 - 30, y1 - 10)]),
            ],
            [
                polygon([(x0, y0), (x0 + 20, y0), (x0 + 20, y1), (x0, y1)]),
                polygon([(x1 - 40, y0), (x1, y0), (x1 - 1e-9, y0 + 30)]),
            ],
        ):
            got = _area(difference_all(zone, subs))
            i1 = exact_intersection_area(zone, subs[0])
            i2 = exact_intersection_area(zone, subs[1])
            i12 = exact_intersection_area(zone, subs[0], subs[1])
            want = float(exact_area(zone) - (i1 + i2 - i12))
            assert got == pytest.approx(want, abs=1e-6), (zid, got, want)


# coordinates generic by construction: never integer, never aligned
# with the integer-coordinate polygon edges (the documented non-generic
# collinear-on-boundary case is thereby excluded without filtering)
generic_coord = st.integers(min_value=-5000, max_value=45000).map(
    lambda n: n / 1000 + 0.0002718
)


def _chain_length(chains):
    total = 0.0
    for ch in chains:
        arr = np.asarray(ch, dtype=float)
        total += float(np.hypot(*(arr[1:] - arr[:-1]).T).sum())
    return total


def test_line_kernels_match_exact_pinned():
    from pygeoops_spark.geom.clip import clip_line_rect
    from pygeoops_spark.geom.exact import (
        exact_line_clip_length,
        exact_line_difference_length,
    )
    from pygeoops_spark.geom.overlay import line_difference, line_intersection

    box = polygon([(0, 0), (10, 0), (10, 10), (0, 10)])
    line = np.array([(-5.0, 5.0), (15.0, 5.0)])  # crosses straight through
    assert _chain_length(line_intersection(line, box)) == pytest.approx(10.0)
    assert exact_line_clip_length(line, box) == pytest.approx(10.0)
    assert _chain_length(line_difference(line, box)) == pytest.approx(10.0)
    assert exact_line_difference_length(line, box) == pytest.approx(10.0)
    # along each edge of the square, 1 unit past both corners: the
    # polygon is closed, so the edge span is on it whichever edge it is
    for edge in (
        [(-1.0, 0.0), (11.0, 0.0)],
        [(-1.0, 10.0), (11.0, 10.0)],
        [(0.0, -1.0), (0.0, 11.0)],
        [(10.0, -1.0), (10.0, 11.0)],
        [(11.0, 10.0), (4.0, 10.0), (-1.0, 10.0)],  # reversed, cut mid-edge
    ):
        along = np.array(edge)
        assert exact_line_clip_length(along, box) == pytest.approx(10.0), edge
        assert exact_line_difference_length(along, box) == pytest.approx(2.0), edge
        assert _chain_length(line_intersection(along, box)) == pytest.approx(10.0), edge
        assert _chain_length(line_difference(along, box)) == pytest.approx(2.0), edge
    # diagonal through a holed polygon: hole span excluded
    holed = polygon(
        [(0, 0), (10, 0), (10, 10), (0, 10)], holes=[[(4, 4), (6, 4), (6, 6), (4, 6)]]
    )
    diag = np.array([(-1.0, -1.0), (11.0, 11.0)])
    want = float(exact_line_clip_length(diag, holed))
    assert want == pytest.approx((10 - 2) * np.sqrt(2.0), abs=1e-9)
    assert _chain_length(line_intersection(diag, holed)) == pytest.approx(
        want, abs=1e-9
    )


@settings(max_examples=_n(120), deadline=None)
@given(l_shapes(), generic_coord, generic_coord, generic_coord, generic_coord)
def test_line_overlay_matches_exact(poly_g, x1, y1, x2, y2):
    """line_intersection / line_difference lengths graded against the
    exact rational t-measure oracle on random segments vs concave
    polygons (float endpoints are generic: no collinear overlaps)."""
    from hypothesis import assume

    from pygeoops_spark.geom.exact import (
        exact_line_clip_length,
        exact_line_difference_length,
    )
    from pygeoops_spark.geom.overlay import line_difference, line_intersection

    assume(abs(x1 - x2) + abs(y1 - y2) > 1e-6)
    line = np.array([(x1, y1), (x2, y2)])
    got_in = _chain_length(line_intersection(line, poly_g))
    got_out = _chain_length(line_difference(line, poly_g))
    assert got_in == pytest.approx(
        exact_line_clip_length(line, poly_g), abs=1e-7
    )
    assert got_out == pytest.approx(
        exact_line_difference_length(line, poly_g), abs=1e-7
    )


@settings(max_examples=_n(120), deadline=None)
@given(boxes(), generic_coord, generic_coord, generic_coord, generic_coord)
def test_clip_line_rect_matches_exact(rect, x1, y1, x2, y2):
    from hypothesis import assume

    from pygeoops_spark.geom.clip import clip_line_rect
    from pygeoops_spark.geom.exact import exact_line_clip_length

    assume(abs(x1 - x2) + abs(y1 - y2) > 1e-6)
    (rx0, ry0), (rx1, ry1) = rect.data[0][0], rect.data[0][2]
    line = np.array([(x1, y1), (x2, y2)])
    got = _chain_length(clip_line_rect(line, rx0, ry0, rx1, ry1))
    assert got == pytest.approx(exact_line_clip_length(line, rect), abs=1e-7)


@settings(max_examples=_n(100), deadline=None)
@given(l_shapes(), boxes())
def test_clip_polygon_rect_matches_exact(subject, rect):
    """The Sutherland-Hodgman rect clip (geom/clip.py, the kernel under
    subdivide and tiled difference) graded against the exact oracle:
    clip area == exact area of subject ∩ rect."""
    from pygeoops_spark.geom.clip import clip_polygon_rect

    (x0, y0), (x1, y1) = rect.data[0][0], rect.data[0][2]
    clipped = clip_polygon_rect(subject, x0, y0, x1, y1)
    assert _area(clipped) == pytest.approx(
        float(exact_intersection_area(subject, rect)), abs=1e-9
    )


# -- kernel vs oracle: near-coincident boundaries under jitter -------------
# The family the retry-ladder triggers cannot provably catch: two
# parcels split by a chord, parcel B's chord endpoints perturbed by
# eps. Graded on absolute exact areas, not identities.


@st.composite
def parcel_pairs(draw):
    w = draw(st.integers(min_value=6, max_value=20))
    h = draw(st.integers(min_value=6, max_value=20))
    cut1 = draw(st.integers(min_value=1, max_value=w - 1))
    cut2 = draw(st.integers(min_value=1, max_value=w - 1))
    eps = draw(st.sampled_from([0.0, 1e-12, 1e-9, 1e-7]))
    sgn = draw(st.sampled_from([-1.0, 1.0]))
    a = polygon([(0, 0), (cut1, 0), (cut2, h), (0, h)])
    b = polygon(
        [(cut1 + sgn * eps, 0.0), (w, 0.0), (w, h), (cut2 + sgn * eps, float(h))]
    )
    return a, b, eps


@settings(max_examples=_n(150), deadline=None)
@given(parcel_pairs())
def test_kernel_matches_exact_under_jitter(t):
    a, b, eps = t
    if polygon_area(a) < 1e-6 or polygon_area(b) < 1e-6:
        return
    tol = 1e-6 + eps * 500
    assert _area(polygon_intersection(a, b)) == pytest.approx(
        float(exact_intersection_area(a, b)), abs=tol
    )
    assert _area(polygon_difference(a, b)) == pytest.approx(
        float(exact_difference_area(a, b)), abs=tol
    )
    assert _area(polygon_difference(b, a)) == pytest.approx(
        float(exact_difference_area(b, a)), abs=tol
    )
    assert _area(polygon_union([a, b])) == pytest.approx(
        float(exact_union_pair_area(a, b)), abs=tol
    )


@st.composite
def holed_plug_pairs(draw):
    """A holed polygon and a plug hugging its hole at a signed eps
    offset — the shape family where the difference kernel's
    double-subtraction guards live, graded absolutely here."""
    w = draw(st.integers(min_value=8, max_value=20))
    h = draw(st.integers(min_value=8, max_value=20))
    hx = draw(st.integers(min_value=2, max_value=w - 5))
    hy = draw(st.integers(min_value=2, max_value=h - 5))
    hw = draw(st.integers(min_value=2, max_value=w - hx - 2))
    hh = draw(st.integers(min_value=2, max_value=h - hy - 2))
    eps = draw(st.sampled_from([0.0, 1e-12, 1e-9, 1e-7]))
    sgn = draw(st.sampled_from([-1.0, 1.0]))
    holed = polygon(
        [(0, 0), (w, 0), (w, h), (0, h)],
        holes=[[(hx, hy), (hx + hw, hy), (hx + hw, hy + hh), (hx, hy + hh)]],
    )
    d = sgn * eps
    plug = polygon(
        [
            (hx + d, hy + d),
            (hx + hw - d, hy + d),
            (hx + hw - d, hy + hh - d),
            (hx + d, hy + hh - d),
        ]
    )
    return holed, plug, eps


@settings(max_examples=_n(120), deadline=None)
@given(holed_plug_pairs())
def test_kernel_matches_exact_holed_plug(t):
    holed, plug, eps = t
    tol = 1e-6 + eps * 500
    assert _area(polygon_intersection(holed, plug)) == pytest.approx(
        float(exact_intersection_area(holed, plug)), abs=tol
    )
    assert _area(polygon_difference(holed, plug)) == pytest.approx(
        float(exact_difference_area(holed, plug)), abs=tol
    )
    assert _area(polygon_difference(plug, holed)) == pytest.approx(
        float(exact_difference_area(plug, holed)), abs=tol
    )
    assert _area(polygon_union([holed, plug])) == pytest.approx(
        float(exact_union_pair_area(holed, plug)), abs=tol
    )


@settings(max_examples=_n(80), deadline=None)
@given(parcel_pairs(), st.sampled_from([1e5, 5e5, 1e6]))
def test_kernel_matches_exact_under_jitter_projected(t, offset):
    """Same family at projected-CRS magnitudes: the scale-relative snap
    (offset * 1e-12, coarse retry 200x) widens the allowed drift by
    grid * perimeter."""
    a, b, eps = t
    if polygon_area(a) < 1e-6 or polygon_area(b) < 1e-6:
        return

    def shift(g):
        return polygon([(x + offset, y + offset) for x, y in np.asarray(g.data[0])])

    sa, sb = shift(a), shift(b)
    perim = 4 * (40 + 2 * offset)  # generous bound on both perimeters
    grid = 200 * max(1e-9, (offset + 40) * 1e-12)
    tol = 1e-6 + eps * 500 + grid * perim
    assert _area(polygon_intersection(sa, sb)) == pytest.approx(
        float(exact_intersection_area(sa, sb)), abs=tol
    )
    assert _area(polygon_difference(sa, sb)) == pytest.approx(
        float(exact_difference_area(sa, sb)), abs=tol
    )
