"""Overlay + difference kernel tests against reference expectations
(reference tests/test_difference.py, values derived geometrically)."""

import numpy as np
import pytest

from pygeoops_spark.geom import linestring, point, polygon
from pygeoops_spark.geom.difference import difference_all, difference_all_tiled
from pygeoops_spark.geom.general import collect
from pygeoops_spark.geom.kernels import geom_length, polygon_area
from pygeoops_spark.geom.overlay import (
    polygon_difference,
    polygon_intersection,
    polygon_union,
)


def box(x0, y0, x1, y1):
    return polygon([(x0, y0), (x1, y0), (x1, y1), (x0, y1)])


# -- primitive overlay ----------------------------------------------------
def test_union_disjoint():
    u = polygon_union([box(0, 0, 1, 1), box(2, 0, 3, 1)])
    assert u.geom_type == "MULTIPOLYGON"
    assert polygon_area(u) == pytest.approx(2.0)


def test_union_overlapping():
    u = polygon_union([box(0, 0, 2, 2), box(1, 1, 3, 3)])
    assert u.geom_type == "POLYGON"
    assert polygon_area(u) == pytest.approx(7.0)


def test_union_adjacent_edge_sharing():
    u = polygon_union([box(0, 0, 1, 1), box(1, 0, 2, 1)])
    assert polygon_area(u) == pytest.approx(2.0)
    assert u.geom_type == "POLYGON"  # shared edge dissolves


def test_union_many_tiles_reassemble():
    tiles = [box(i, j, i + 1, j + 1) for i in range(3) for j in range(3)]
    u = polygon_union(tiles)
    assert u.geom_type == "POLYGON"
    assert polygon_area(u) == pytest.approx(9.0)
    assert geom_length(u) == pytest.approx(12.0)


def test_intersection_basic():
    i = polygon_intersection(box(0, 0, 2, 2), box(1, 1, 3, 3))
    assert polygon_area(i) == pytest.approx(1.0)
    assert polygon_intersection(box(0, 0, 1, 1), box(5, 5, 6, 6)) is None


def test_difference_overlap():
    d = polygon_difference(box(0, 0, 2, 2), box(1, 1, 3, 3))
    assert polygon_area(d) == pytest.approx(3.0)


def test_difference_hole_punch():
    d = polygon_difference(box(0, 0, 10, 10), box(4, 4, 6, 6))
    assert d.geom_type == "POLYGON"
    assert len(d.data) == 2  # shell + hole
    assert polygon_area(d) == pytest.approx(96.0)


def test_difference_split_into_two():
    # vertical slab cuts the box into two parts
    d = polygon_difference(box(0, 0, 10, 10), box(4, -1, 6, 11))
    assert d.geom_type == "MULTIPOLYGON"
    assert polygon_area(d) == pytest.approx(80.0)


def test_difference_contained_empty():
    assert polygon_difference(box(2, 2, 3, 3), box(0, 0, 10, 10)) is None


# -- difference_all (reference tests/test_difference.py:12-75) ------------
def test_difference_all_single():
    small = box(0, 0, 5, 5)
    large = polygon([(0, 2), (50, 2), (50, 50), (0, 50)])
    d1 = difference_all(small, large)
    assert polygon_area(d1) == pytest.approx(10.0)  # box(0,0,5,2)
    d2 = difference_all(large, small)
    assert polygon_area(d2) == pytest.approx(2400 - 15)


def test_difference_all_line():
    line = linestring([(0, 0), (50, 0)])
    small = box(0, 0, 5, 5)
    d = difference_all(line, small)
    assert d.geom_type == "LINESTRING"
    assert geom_length(d) == pytest.approx(45.0)


def test_difference_all_multiple_subtrahends():
    large = polygon([(0, 2), (50, 2), (50, 50), (0, 50)])
    small = box(0, 0, 5, 5)
    small2 = box(45, 0, 50, 5)
    d = difference_all(large, [small, small2])
    assert polygon_area(d) == pytest.approx(2400 - 15 - 15)


def test_difference_all_keep_geom_type():
    line = linestring([(0, 0), (50, 0)])
    large = polygon([(0, 2), (50, 2), (50, 50), (0, 50)])
    coll = collect([line, large])
    small, small2 = box(0, 0, 5, 5), box(45, 0, 50, 5)
    assert difference_all(coll, [small, small2]).geom_type == "GEOMETRYCOLLECTION"
    assert (
        difference_all(coll, [small, small2], keep_geom_type=True).geom_type
        == "GEOMETRYCOLLECTION"
    )
    assert difference_all(coll, [small, small2], keep_geom_type=3).geom_type == "POLYGON"
    assert (
        difference_all(coll, [small, small2], keep_geom_type=2).geom_type == "LINESTRING"
    )
    assert difference_all(coll, [small, small2], keep_geom_type=1) is None


def test_difference_all_none_empty():
    assert difference_all(None, None) is None
    p = point(1, 1)
    assert difference_all(p, None) == p
    assert difference_all(p, [box(0, 0, 2, 2)]) is None
    assert difference_all(p, [box(5, 5, 6, 6)]) == p


# -- polygons are closed point sets (OGC Simple Features, as GEOS) ---------
# A line or point on ANY edge of a ring lies on the polygon: a difference
# removes it and an intersection keeps it, on the top and right edges as on
# the bottom and left ones.
_SQUARE = box(0, 0, 10, 10)
_EDGE_LINES = {  # each runs along one edge and 1 unit past both corners
    "bottom": [(-1, 0), (11, 0)],
    "top": [(-1, 10), (11, 10)],
    "left": [(0, -1), (0, 11)],
    "right": [(10, -1), (10, 11)],
}
_EDGE_POINTS = {
    "bottom": (5, 0),
    "top": (5, 10),
    "left": (0, 5),
    "right": (10, 5),
    "lower-left": (0, 0),
    "lower-right": (10, 0),
    "upper-right": (10, 10),
    "upper-left": (0, 10),
}


def _chains_length(chains):
    return sum(float(np.hypot(*np.diff(np.asarray(c), axis=0).T).sum()) for c in chains)


def test_line_on_any_square_edge_lies_on_the_polygon():
    from pygeoops_spark.geom.overlay import line_difference, line_intersection

    for name, coords in _EDGE_LINES.items():
        line = np.array(coords, dtype=float)
        inter = line_intersection(line, _SQUARE)
        assert len(inter) == 1 and _chains_length(inter) == pytest.approx(10.0), name
        diff = line_difference(line, _SQUARE)
        assert len(diff) == 2 and _chains_length(diff) == pytest.approx(2.0), name
        d = difference_all(linestring(coords), [_SQUARE])
        assert d.geom_type == "MULTILINESTRING", name
        assert geom_length(d) == pytest.approx(2.0), name


def test_point_on_any_square_edge_lies_on_the_polygon():
    from pygeoops_spark.geom.overlay import line_difference, line_intersection

    for name, (x, y) in _EDGE_POINTS.items():
        p = np.array([(x, y), (x, y)], dtype=float)  # a zero-length line
        assert line_difference(p, _SQUARE) == [], name
        assert [c.tolist() for c in line_intersection(p, _SQUARE)] == [[[x, y], [x, y]]], name
        assert difference_all(point(x, y), [_SQUARE]) is None, name
    assert difference_all(point(10, 10.5), [_SQUARE]) == point(10, 10.5)


# -- difference_all_tiled (reference tests/test_difference.py:83-153) -----
def test_difference_all_tiled_basic():
    small = box(0, 0, 5, 5)
    large = box(0, 0, 50, 50)
    d = difference_all_tiled(large, small)
    assert polygon_area(d) == pytest.approx(2500 - 25)
    d2 = difference_all_tiled(small, large)
    assert d2 is None or d2.is_empty


def test_difference_all_tiled_complex():
    # many-coord comb polygon forces subdivision; area must match the
    # untiled difference
    n = 120
    ring = [(0.0, 0.0)]
    for i in range(n):
        ring += [(i + 0.25, 0.0), (i + 0.25, 5.0), (i + 0.75, 5.0), (i + 0.75, 0.0)]
    ring += [(float(n), 0.0), (float(n), -5.0), (0.0, -5.0)]
    comb = polygon(ring)
    subs = [box(10 * k, -2, 10 * k + 3, 2) for k in range(10)]
    base = difference_all(comb, subs)
    tiled = difference_all_tiled(comb, subs, subdivide_coords=100)
    assert base is not None and tiled is not None
    assert polygon_area(tiled) == pytest.approx(polygon_area(base), rel=1e-9)
    assert polygon_area(tiled) < polygon_area(comb)


# -- stitch anti-parallel filter (ADVICE r01: dead `or True` made the
# filter a no-op; both members of a reversed duplicate pair must go) --
def test_stitch_drops_anti_parallel_duplicate_pair():
    from pygeoops_spark.geom.overlay import _stitch

    # one edge array [x1 y1 x2 y2]: the unit square, then an interior
    # seam traversed both ways from the (0,0) corner
    sq = [[0.0, 0.0, 1.0, 0.0], [1.0, 0.0, 1.0, 1.0], [1.0, 1.0, 0.0, 1.0], [0.0, 1.0, 0.0, 0.0]]
    seam = [[0.0, 0.0, 0.5, 0.5], [0.5, 0.5, 0.0, 0.0]]
    rings, _lost = _stitch(np.array(sq + seam))
    assert len(rings) == 1
    ring = rings[0]
    # the square survives intact; the seam vertex never appears
    assert len(ring) == 5
    assert not any(abs(p[0] - 0.5) < 1e-9 and abs(p[1] - 0.5) < 1e-9 for p in ring)


def test_union_shared_edge_squares_still_merges():
    # two squares sharing a full edge: union is one 2x1 rectangle (the
    # shared edge is an anti-parallel pair in the stitch input)
    u = polygon_union([box(0, 0, 1, 1), box(1, 0, 2, 1)])
    assert polygon_area(u) == pytest.approx(2.0)
    assert u.geom_type == "POLYGON"


# -- dissolve_partition (signed-coverage tile dissolve) --------------------
def _dp(parts):
    from pygeoops_spark.geom.overlay import dissolve_partition

    return dissolve_partition(parts)


def test_dissolve_grid_partition_rectangle():
    # 2x2 grid of unit tiles dissolves back into one square
    tiles = [box(i, j, i + 1, j + 1) for i in range(2) for j in range(2)]
    g = _dp(tiles)
    assert g.geom_type == "POLYGON"
    assert polygon_area(g) == pytest.approx(4.0)
    # all interior seams cancelled: only the 4 outer corners remain
    ring = np.asarray(g.data[0])
    assert len(ring) <= 9  # corners + possible collinear breakpoints


def test_dissolve_mismatched_shared_edge_splits():
    # left tile's right edge is one segment [0,2]; the two right tiles
    # split the same line at y=1 — signed coverage must still cancel
    left = box(0, 0, 1, 2)
    right_lo = box(1, 0, 2, 1)
    right_hi = box(1, 1, 2, 2)
    g = _dp([left, right_lo, right_hi])
    assert polygon_area(g) == pytest.approx(4.0)
    assert g.geom_type == "POLYGON"


def test_dissolve_partial_shared_edge():
    # shared edge covers only part of the line: the rest must survive
    a = box(0, 0, 1, 3)
    b = box(1, 1, 2, 2)  # touches only y in [1,2]
    g = _dp([a, b])
    assert polygon_area(g) == pytest.approx(4.0)
    assert g.geom_type == "POLYGON"


def test_dissolve_preserves_holes():
    # a tile with a hole (subtrahend strictly inside): the hole survives
    holed = polygon(
        [(0, 0), (2, 0), (2, 2), (0, 2)],
        holes=[[(0.5, 0.5), (1.5, 0.5), (1.5, 1.5), (0.5, 1.5)]],
    )
    g = _dp([holed, box(2, 0, 3, 2)])
    assert polygon_area(g) == pytest.approx(2 * 3 - 1.0)
    assert len(g.data) == 2  # shell + hole


def test_dissolve_disjoint_pieces_multipolygon():
    g = _dp([box(0, 0, 1, 1), box(5, 0, 6, 1)])
    assert g.geom_type == "MULTIPOLYGON"
    assert polygon_area(g) == pytest.approx(2.0)


def test_dissolve_duplicate_piece_falls_back_to_union():
    # coincident boundaries with |coverage| > 1 (here: the same tile
    # twice) violate the partition contract at the boundary level and
    # trigger the polygon_union fallback, keeping the result correct
    g = _dp([box(0, 0, 2, 2), box(0, 0, 2, 2)])
    assert polygon_area(g) == pytest.approx(4.0)
    assert g.geom_type == "POLYGON"


def test_dissolve_matches_union_on_tiled_difference():
    # end-to-end parity on the real pipeline shape: subdivide + per-tile
    # difference, dissolve vs general union (area + part/hole structure)
    from pygeoops_spark.geom.general import subdivide
    from pygeoops_spark.geom.wkb import POLYGON as PID, get_parts

    def struct(g):
        ps = [q for q in get_parts(g) if q.type_id == PID]
        return (len(ps), sum(len(q.data) - 1 for q in ps))

    rng = np.random.default_rng(11)
    for trial in range(6):
        w, h = 30 + trial * 7, 22 + trial * 5
        ring = []
        corners = [(0, 0), (w, 0), (w, h), (0, h)]
        for (ax, ay), (bx, by) in zip(corners, corners[1:] + corners[:1]):
            for t in np.linspace(0, 1, 41)[:-1]:
                ring.append((ax + (bx - ax) * t, ay + (by - ay) * t))
        poly = polygon(ring)
        subs = [
            box(x, y, x + rng.uniform(3, 12), y + rng.uniform(3, 12))
            for x, y in rng.uniform(0, max(w, h) * 0.8, size=(5, 2))
        ]
        tiles = subdivide(poly, 40)
        tiles = tiles if isinstance(tiles, list) else [tiles]
        parts = [
            r
            for t in tiles
            if (r := difference_all(t, subs, check_intersects=True)) is not None
        ]
        if len(parts) < 2:
            continue
        u_ref = polygon_union(parts)
        u_new = _dp(parts)
        assert polygon_area(u_new) == pytest.approx(polygon_area(u_ref), rel=1e-9)
        assert struct(u_new) == struct(u_ref)


def test_dissolve_fallback_tolerates_none_elements():
    # None elements are legal on the primary path; the polygon_union
    # fallback (triggered here by a duplicate piece) must filter them too
    g = _dp([box(0, 0, 2, 2), box(0, 0, 2, 2), None])
    assert polygon_area(g) == pytest.approx(4.0)


# -- shared-boundary / near-coincidence regression corpus (round 5) ---------
# Adjacent-parcel shapes: shared vertices plus vertices exactly on or
# ulps-to-1e-7 off the neighbour's edge. Every case below was a REAL
# falsified input (r04 VERDICT counterexample + this round's Hypothesis
# finds): the noding either produced no cut (collinear overlap with
# ulp-level cross products) or dropped a connector piece and the whole
# face vanished from BOTH intersection and difference. Reference
# behavior: GEOS never drops the subject (_difference.py:171-181).
SHARED_BOUNDARY_CASES = [
    # (A, B) vertex lists; identity |A ∩ B| + |A \ B| == |A| must hold
    # r04 VERDICT pinned counterexample: B's edge collinear-contained
    # in A's long edge (both slope exactly 2 through (12.1, 5.3))
    ([(10, 0), (24.8, 30.7), (12.1, 5.3)],
     [(10, 0), (23, 11), (24.6, 30.3), (12.1, 5.3)]),
    # chord-split parcels, chord endpoints perturbed by 1e-9
    ([(6, 0), (7, 5), (0, 4)],
     [(1e-09, 4), (0, 0), (6, 1e-09)]),
    ([(0, 0), (6, 0), (7, 5)],
     [(6.999999999, 5), (0, 4), (0, -1e-09)]),
    # near-parallel chords 1e-7 apart (outside the snap tolerance)
    ([(0.1, 0), (0.1, 0.1), (0, 0.5)],
     [(1e-07, 0.5), (0, 0), (0.1, 1e-07)]),
    ([(0, 0), (0.1, 0), (1, 0.1)],
     [(1.0000001, 0.1), (0, 0.2), (0, 1e-07)]),
    ([(0.1, 0), (1, 0.1), (0, 0.5)],
     [(1e-07, 0.5), (0, 0), (0.1, 1e-07)]),
    # micro-slivers at 1e-9 (the snap scale itself)
    ([(0.1, 0), (0.1, 0.1), (0, 0.5)],
     [(1e-09, 0.5), (0, 0), (0.1, 1e-09)]),
    # thin triangle at projected-CRS offset, eps below the op snap:
    # exposed the unclosed-ring shoelace error (0.255 vs 0.005)
    ([(500000, 500000), (500000.1, 500000), (500001, 500000.1)],
     [(500000.9999999, 500000.1), (500000, 500000.1), (500000, 499999.9999999)]),
]


@pytest.mark.parametrize("ab", SHARED_BOUNDARY_CASES, ids=range(len(SHARED_BOUNDARY_CASES)))
def test_shared_boundary_identities(ab):
    from pygeoops_spark.geom import polygon
    from pygeoops_spark.geom.kernels import polygon_area
    from pygeoops_spark.geom.overlay import (
        polygon_difference,
        polygon_intersection,
        polygon_union,
    )

    a = polygon(ab[0])
    b = polygon(ab[1])

    def area(g):
        return 0.0 if g is None else polygon_area(g)

    aa, abb = polygon_area(a), polygon_area(b)
    inter = area(polygon_intersection(a, b))
    # the subject never vanishes: |A \ B| + |A ∩ B| = |A| (both ways)
    assert abs(area(polygon_difference(a, b)) + inter - aa) < 1e-4 * max(aa, 1.0)
    assert abs(area(polygon_difference(b, a)) + inter - abb) < 1e-4 * max(abb, 1.0)
    # union inclusion-exclusion
    u = area(polygon_union([a, b]))
    assert abs(u - (aa + abb - inter)) < 1e-4 * max(aa + abb, 1.0)


def test_shared_boundary_with_holes():
    """Shared boundaries involving HOLES: a plug filling the hole
    exactly, a half-plug sharing hole edges, a bridge piece sharing
    both a shell edge and a hole edge, and an eps-perturbed half-plug
    (near-shared hole boundary)."""
    from pygeoops_spark.geom import polygon
    from pygeoops_spark.geom.kernels import polygon_area
    from pygeoops_spark.geom.overlay import (
        polygon_difference,
        polygon_intersection,
        polygon_union,
    )

    def area(g):
        return 0.0 if g is None else polygon_area(g)

    A = polygon([(0, 0), (10, 0), (10, 10), (0, 10)],
                holes=[[(3, 3), (7, 3), (7, 7), (3, 7)]])
    assert polygon_area(A) == 84.0
    plug = polygon([(3, 3), (7, 3), (7, 7), (3, 7)])
    assert area(polygon_union([A, plug])) == pytest.approx(100.0)
    assert area(polygon_difference(A, plug)) == pytest.approx(84.0)
    assert area(polygon_intersection(A, plug)) == pytest.approx(0.0, abs=1e-9)

    half = polygon([(3, 3), (5, 3), (5, 7), (3, 7)])
    assert area(polygon_union([A, half])) == pytest.approx(92.0)
    assert area(polygon_difference(A, half)) == pytest.approx(84.0)

    bridge = polygon([(0, 3), (3, 3), (3, 7), (0, 7)])  # shell edge -> hole edge
    assert area(polygon_difference(A, bridge)) == pytest.approx(72.0)
    assert area(polygon_union([A, bridge])) == pytest.approx(84.0)
    assert area(polygon_intersection(A, bridge)) == pytest.approx(12.0)

    half_eps = polygon([(3 - 1e-9, 3), (5, 3 - 1e-9), (5, 7), (3, 7 + 1e-9)])
    assert area(polygon_union([A, half_eps])) == pytest.approx(92.0, abs=1e-6)
    assert area(polygon_difference(A, half_eps)) == pytest.approx(84.0, abs=1e-6)


def test_shared_boundary_multipolygon_cases():
    """Multi-part operands sharing boundaries: a gap filler touching
    both parts of a multipolygon, a filler overlapping into both parts
    along collinear shared edges, an eps-off filler, and multipolygon
    minus multipolygon with shared internal edges."""
    from pygeoops_spark.geom import polygon
    from pygeoops_spark.geom.kernels import polygon_area
    from pygeoops_spark.geom.overlay import (
        polygon_difference,
        polygon_intersection,
        polygon_union,
    )
    from pygeoops_spark.geom.wkb import MULTIPOLYGON, multi

    def area(g):
        return 0.0 if g is None else polygon_area(g)

    A = multi(MULTIPOLYGON, [
        polygon([(0, 0), (4, 0), (4, 4), (0, 4)]),
        polygon([(6, 0), (10, 0), (10, 4), (6, 4)]),
    ])
    filler = polygon([(4, 0), (6, 0), (6, 4), (4, 4)])
    assert area(polygon_union([A, filler])) == pytest.approx(40.0)
    assert area(polygon_difference(A, filler)) == pytest.approx(32.0)
    assert area(polygon_difference(filler, A)) == pytest.approx(8.0)
    assert area(polygon_intersection(A, filler)) == pytest.approx(0.0, abs=1e-9)

    wide = polygon([(3, 0), (7, 0), (7, 4), (3, 4)])
    assert area(polygon_union([A, wide])) == pytest.approx(40.0)
    assert area(polygon_difference(A, wide)) == pytest.approx(24.0)
    assert area(polygon_intersection(A, wide)) == pytest.approx(8.0)

    eps_filler = polygon([(4 + 1e-9, 0), (6 - 1e-9, 0), (6, 4), (4, 4)])
    assert area(polygon_union([A, eps_filler])) == pytest.approx(40.0, abs=1e-6)
    assert area(polygon_difference(A, eps_filler)) == pytest.approx(32.0, abs=1e-6)

    C = multi(MULTIPOLYGON, [
        polygon([(0, 0), (4, 0), (4, 2), (0, 2)]),
        polygon([(6, 2), (10, 2), (10, 4), (6, 4)]),
    ])
    assert area(polygon_difference(A, C)) == pytest.approx(16.0)
    assert area(polygon_difference(C, A)) == pytest.approx(0.0, abs=1e-9)


@pytest.mark.parametrize("n,eps", [(4, 0.0), (6, 0.0), (6, 1e-9), (6, 1e-7), (8, 1e-7), (12, 1e-7)])
def test_pie_slice_parcels_union(n, eps):
    """N parcels around one center point (pie slices): every pair
    shares a radial edge and ALL share the center vertex, per-slice
    perturbed by eps. With eps at ~100*snap the pairwise overlap/gap
    signs disagree and the boundary graph goes classification-
    inconsistent — the lost-edge fraction triggers the coarse-grid
    retry (exactly-coincident inputs), which used to be a catastrophic
    5/6-area loss."""
    import math

    from pygeoops_spark.geom import polygon
    from pygeoops_spark.geom.kernels import polygon_area
    from pygeoops_spark.geom.overlay import polygon_difference, polygon_union

    cx, cy, R = 10.0, 10.0, 5.0
    slices = []
    for k in range(n):
        a0 = 2 * math.pi * k / n
        a1 = 2 * math.pi * (k + 1) / n
        p0 = (cx + R * math.cos(a0), cy + R * math.sin(a0))
        p1 = (cx + R * math.cos(a1), cy + R * math.sin(a1))
        c = (cx + (k % 3 - 1) * eps, cy + (k % 2) * eps)
        slices.append(polygon([c, p0, p1]))
    want = sum(polygon_area(s) for s in slices)
    u = polygon_union(slices)
    assert u is not None
    assert abs(polygon_area(u) - want) < 1e-6 + eps * 5000
    # a slice differenced against the union of the others keeps ~its area
    rest = polygon_union(slices[1:])
    d = polygon_difference(slices[0], rest)
    assert d is not None
    assert abs(polygon_area(d) - polygon_area(slices[0])) < 1e-6 + eps * 5000


@pytest.mark.parametrize("eps", [0.0, 1e-9, 1e-8, 1e-7])
def test_near_identical_operands(eps):
    """A vs a per-vertex-jittered copy of itself: at snap-scale jitter
    BOTH co-directed boundaries used to survive the clean stitch walk
    and the intersection/union reported DOUBLE the area; the area
    invariants (inter <= min, union <= hull) now trigger the
    coarse-grid retry."""
    from pygeoops_spark.geom import polygon
    from pygeoops_spark.geom.kernels import polygon_area
    from pygeoops_spark.geom.overlay import (
        polygon_difference,
        polygon_intersection,
        polygon_union,
    )

    def area(g):
        return 0.0 if g is None else polygon_area(g)

    A = polygon([(0, 0), (7, 0), (9, 6), (2, 8)])
    B = polygon([(0 + eps, 0), (7, 0 - eps), (9 - eps, 6), (2, 8 + eps)])
    tol = 1e-6 + eps * 100
    assert area(polygon_difference(A, B)) < tol
    assert abs(area(polygon_intersection(A, B)) - 51.0) < tol
    assert abs(area(polygon_union([A, B])) - 51.0) < tol


def test_hole_plug_jitter_difference_no_double_subtract():
    """Round-6 counterexample (found by the symdiff/holes-under-jitter
    sweeps): B = the plug of A's hole shifted by eps < noding tolerance.
    Both shared-edge rules kept a complete co-directed ring (A's hole
    ring AND B's reversed boundary), double-subtracting the hole area —
    and the result being SMALLER than A evaded the area trigger. The
    co-directed near-duplicate detector now routes this onto the
    coarse-grid retry ladder."""
    from pygeoops_spark.geom import polygon
    from pygeoops_spark.geom.kernels import polygon_area
    from pygeoops_spark.geom.overlay import (
        polygon_difference,
        polygon_intersection,
        polygon_union,
    )

    def area(g):
        return 0.0 if g is None else polygon_area(g)

    for eps in (0.0, 1e-12, 1e-9, 1e-7):
        for sgn in (-1.0, 1.0):
            d = eps * sgn
            A = polygon(
                [(0, 0), (8, 0), (8, 8), (0, 8)],
                holes=[[(2.4, 2.4), (5.6, 2.4), (5.6, 5.6), (2.4, 5.6)]],
            )
            B = polygon(
                [(2.4 + d, 2.4 + d), (5.6 + d, 2.4 + d),
                 (5.6 + d, 5.6 + d), (2.4 + d, 5.6 + d)]
            )
            tol = 1e-6 + eps * 100
            assert abs(area(polygon_difference(A, B)) - 53.76) < tol, (eps, sgn)
            assert abs(area(polygon_difference(B, A)) - 10.24) < tol, (eps, sgn)
            assert abs(area(polygon_union([A, B])) - 64.0) < tol, (eps, sgn)
            assert area(polygon_intersection(A, B)) < tol, (eps, sgn)
