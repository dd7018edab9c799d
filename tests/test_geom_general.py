"""Kernel tests: collect/collection_extract/get_parts_recursive/
remove_inner_rings/subdivide/clip/extend_line vs reference goldens
(cited per case; semantics re-asserted on our kernels)."""

import math

import numpy as np
import pytest

from pygeoops_spark.geom import linestring, point, polygon, wkt_dumps, wkt_loads
from pygeoops_spark.geom.clip import clip_geom_rect
from pygeoops_spark.geom.extend_line import (
    extend_line_by_distance,
    extend_line_to_geometry,
)
from pygeoops_spark.geom.general import (
    collect,
    collection_extract,
    get_parts_recursive,
    remove_inner_rings,
    subdivide,
)
from pygeoops_spark.geom.kernels import polygon_area
from pygeoops_spark.geom.wkb import GEOMETRYCOLLECTION, MULTIPOLYGON, get_coordinates


def box(x0, y0, x1, y1):
    return polygon([(x0, y0), (x1, y0), (x1, y1), (x0, y1)])


# -- collect (reference tests/test_general.py:37-96) ----------------------
def test_collect_none_empty():
    assert collect([None]) is None
    assert collect([None, polygon([]), None]) is None


def test_collect_points_lines():
    p = point(0, 0)
    assert collect([p]) == p
    assert collect([p, p]).geom_type == "MULTIPOINT"
    ln = linestring([(0, 0), (0, 1)])
    assert collect([ln, ln]).geom_type == "MULTILINESTRING"


def test_collect_polygons():
    poly23, poly45 = box(2, 0, 3, 1), box(4, 0, 5, 1)
    poly34 = box(3, 0, 4, 1)
    assert collect([poly23, poly45]).type_id == MULTIPOLYGON
    # adjacent (edge-sharing) polygons -> invalid multipolygon -> collection
    assert collect([poly34, poly45]).type_id == GEOMETRYCOLLECTION


def test_collect_mixed_and_nested():
    p, ln, poly = point(0, 0), linestring([(0, 0), (0, 1)]), box(0, 0, 1, 1)
    assert collect([p, ln, poly]).type_id == GEOMETRYCOLLECTION
    mp = collect([box(2, 0, 3, 1), box(4, 0, 5, 1)])
    assert collect([poly, mp]).type_id == GEOMETRYCOLLECTION


# -- collection_extract (reference tests/test_general.py:100-180) ---------
def test_collection_extract():
    p, ln, poly = point(0, 0), linestring([(0, 0), (0, 1)]), box(0, 0, 1, 1)
    gc = collect([p, ln, poly])
    assert collection_extract(gc, 0) == gc
    assert collection_extract(gc, 1) == p
    assert collection_extract(gc, 2) == ln
    assert collection_extract(gc, 3) == poly
    assert collection_extract(p, 2) is None
    with pytest.raises(ValueError, match="Invalid value for primitivetype"):
        collection_extract(gc, 5)


def test_get_parts_recursive():
    p, ln = point(0, 0), linestring([(0, 0), (0, 1)])
    nested = collect([collect([p, ln]), box(0, 0, 1, 1)])
    parts = get_parts_recursive(nested)
    assert len(parts) == 3
    assert all(g.type_id < 4 for g in parts)


# -- remove_inner_rings (reference tests/test_general.py:547-606) ---------
def test_remove_inner_rings():
    # 2 holes: 4 m2 (2x2) and 2 m2 (2x1)
    poly = polygon(
        [(0, 0), (10, 0), (10, 10), (0, 10)],
        [
            [(2, 2), (4, 2), (4, 4), (2, 4)],
            [(6, 6), (8, 6), (8, 7), (6, 7)],
        ],
    )
    # min_area 1: both holes kept
    assert len(remove_inner_rings(poly, 1).data) == 3
    # min_area 3: only the 4 m2 hole kept
    out = remove_inner_rings(poly, 3)
    assert len(out.data) == 2
    assert polygon_area(out) == 100 - 4
    # 0: all holes removed
    assert len(remove_inner_rings(poly, 0.0).data) == 1
    with pytest.raises(ValueError, match="remove_inner_rings impossible"):
        remove_inner_rings(point(0, 0), 1)


# -- clip ------------------------------------------------------------------
def test_clip_polygon_rect():
    poly = box(0, 0, 10, 10)
    c = clip_geom_rect(poly, 5, 5, 15, 15)
    assert c is not None
    assert polygon_area(c) == 25.0
    assert clip_geom_rect(poly, 20, 20, 30, 30) is None


def test_clip_polygon_with_hole():
    poly = polygon(
        [(0, 0), (10, 0), (10, 10), (0, 10)], [[(4, 4), (6, 4), (6, 6), (4, 6)]]
    )
    c = clip_geom_rect(poly, 0, 0, 5, 10)
    # half the shell minus half the hole
    assert polygon_area(c) == pytest.approx(50 - 2)


def test_clip_line_rect():
    ln = linestring([(0, 5), (20, 5)])
    c = clip_geom_rect(ln, 5, 0, 10, 10)
    assert c.geom_type == "LINESTRING"
    assert c.data[0].tolist() == [5, 5] and c.data[-1].tolist() == [10, 5]
    # line leaving and re-entering -> multilinestring
    zig = linestring([(0, 5), (4, 5), (4, 20), (8, 20), (8, 5), (10, 5)])
    c2 = clip_geom_rect(zig, 0, 0, 10, 10)
    assert c2.geom_type == "MULTILINESTRING"
    assert len(c2.data) == 2


def _star(rng, k):
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    rad = rng.uniform(3, 10, k)
    return polygon(np.column_stack([rad * np.cos(ang), rad * np.sin(ang)]))


def test_clip_cut_points_lie_exactly_on_the_rect_lines():
    """Every vertex a clip makes lies bit-exactly on one of the
    rectangle's four lines: interpolation alone misses the line by an
    ulp on some crossings (34 of these 2206), and the two tiles either
    side of a cut must share their seam exactly."""
    from pygeoops_spark.geom.clip import clip_polygon_rect

    rng = np.random.default_rng(17)
    made = 0
    for _ in range(300):
        g = _star(rng, int(rng.integers(8, 60)))
        x0, y0 = rng.uniform(-8, 4, 2)
        x1, y1 = x0 + rng.uniform(1, 12), y0 + rng.uniform(1, 12)
        c = clip_polygon_rect(g, x0, y0, x1, y1)
        if c is None:
            continue
        given = {tuple(p) for p in np.asarray(g.data[0]).tolist()}
        for p in np.asarray(c.data[0]).tolist():
            if tuple(p) not in given:
                made += 1
                assert p[0] in (x0, x1) or p[1] in (y0, y1), p
    assert made > 1000


def test_subdivide_pieces_meet_their_tile_edges_exactly():
    """A subdivide piece's vertex within 1e-7 of its bbox edge lies on
    it, unless it is an input vertex that happens to lie that close."""
    rng = np.random.default_rng(23)
    for _ in range(30):
        g = _star(rng, 60)
        given = {tuple(p) for p in np.asarray(g.data[0]).tolist()}
        for piece in subdivide(g, num_coords_max=15):
            xy = np.vstack([np.asarray(r) for r in piece.data])
            lo, hi = xy.min(axis=0), xy.max(axis=0)
            near = ((np.abs(xy - lo) < 1e-7) & (xy != lo)) | ((np.abs(xy - hi) < 1e-7) & (xy != hi))
            assert all(tuple(p) in given for p in xy[near.any(axis=1)].tolist())


# -- subdivide (reference tests/test_general.py:616-651) -------------------
def test_subdivide():
    # lattice-ish polygon with many coords
    n = 40
    ring = []
    for i in range(n):
        ring.append((i, i % 2))
    for i in range(n):
        ring.append((n - 1 - i, 10 + (i % 2)))
    poly = polygon(ring)
    ncoords = len(get_coordinates(poly))
    parts = subdivide(poly, num_coords_max=30)
    assert len(parts) > 1
    assert subdivide(poly, num_coords_max=0) == [poly]
    assert subdivide(poly, num_coords_max=ncoords) == [poly]
    # all parts keep the input primitive type
    from pygeoops_spark.geom.kernels import get_primitivetype_id

    assert all(get_primitivetype_id(p) == 3 for p in parts)


@pytest.mark.parametrize(
    "wkt, left",
    [
        # zero height: the squarish grid shape was NaN
        ("LINESTRING (-1 10, 4 10, 11 10)", "MULTILINESTRING ((-1 10, 0 10), (10 10, 11 10))"),
        # zero width: the grid shape overflowed
        ("LINESTRING (3 -1, 3 4, 3 11)", "MULTILINESTRING ((3 -1, 3 0), (3 10, 3 11))"),
        ("POLYGON ((0 5, 5 5, 12 5, 0 5))", None),  # a flat polygon
        ("MULTIPOINT ((1 1), (1 1), (1 1))", None),  # no extent at all
    ],
)
def test_subdivide_flat_bbox(wkt, left):
    """A bbox with a zero extent has no squarish grid: subdivide splits
    it along its nonzero extent only (or returns it whole), and the
    tiled difference equals the untiled one."""
    from pygeoops_spark.geom.difference import difference_all, difference_all_tiled

    g = wkt_loads(wkt)
    parts = subdivide(g, num_coords_max=2)
    xs = np.vstack([get_coordinates(p) for p in parts])
    assert np.allclose(xs.min(axis=0), get_coordinates(g).min(axis=0))
    assert np.allclose(xs.max(axis=0), get_coordinates(g).max(axis=0))
    square = box(0, 0, 10, 10)
    whole = difference_all(g, [square])
    tiled = difference_all_tiled(g, [square], subdivide_coords=2)
    if left is None:
        assert whole is None and tiled.is_empty
    else:
        assert wkt_dumps(whole) == wkt_dumps(tiled) == left


@pytest.mark.parametrize(
    "case",
    [
        "centerline_flat",
        "extend_to_empty_line",
        "extend_empty_line_by_distance",
        "extend_polygon_by_distance",
    ],
)
def test_degenerate_inputs(case):
    """Degenerate inputs get the kernel's documented empty result or a
    ValueError that names the problem, never an IndexError: a zero-area
    polygon has no centerline, an empty line extends to itself (to a
    geometry or by a distance), and a polygon is not a line to
    extend."""
    from pygeoops_spark.geom.centerline import centerline

    square = box(0, 0, 10, 10)
    if case == "centerline_flat":
        assert centerline(wkt_loads("POLYGON ((0 0, 5 0, 10 0, 0 0))")) is None
    elif case == "extend_to_empty_line":
        got = extend_line_to_geometry(wkt_loads("LINESTRING EMPTY"), square)
        assert got.is_empty and got.type_id == 2
    elif case == "extend_empty_line_by_distance":
        got = extend_line_by_distance(wkt_loads("LINESTRING EMPTY"), 1.0, 1.0)
        assert got.is_empty and got.type_id == 2
    else:
        with pytest.raises(ValueError, match="POLYGON"):
            extend_line_by_distance(square, 1.0, 1.0)


# -- extend_line (reference tests/test_extend_line.py) ---------------------
def test_extend_line_by_distance_goldens():
    # reference tests/test_extend_line.py:20-55
    ln = linestring([(1, 1), (2, 2)])
    out = extend_line_by_distance(ln, math.sqrt(2), 2 * math.sqrt(2))
    assert np.allclose(out.data, [(0, 0), (4, 4)])
    out = extend_line_by_distance(ln, math.sqrt(2), math.sqrt(2))
    assert np.allclose(out.data, [(0, 0), (3, 3)])
    ln3 = linestring([(2, 3), (2, 2), (3, 2), (3, 1)])
    out = extend_line_by_distance(ln3, 1, 2)
    assert np.allclose(out.data, [(2, 4), (2, 2), (3, 2), (3, -1)])
    assert extend_line_by_distance(ln, 0, 0) == ln
    with pytest.raises(ValueError, match="distance must be >= 0"):
        extend_line_by_distance(ln, -1, 0)


def test_extend_line_to_geometry_singleline():
    # reference tests/test_extend_line.py:135-180
    ln = linestring([(4, 3), (5, 5), (6, 5)])
    out = extend_line_to_geometry(ln, box(0, 0, 10, 10))
    assert np.allclose(out.data, [(2.5, 0), (5, 5), (10, 5)])
    # to multiline boundaries
    ml = collect([linestring([(0, 0), (0, 10)]), linestring([(10, 0), (10, 10)])])
    out = extend_line_to_geometry(linestring([(4, 5), (5, 5), (6, 5)]), ml)
    assert np.allclose(out.data, [(0, 5), (5, 5), (10, 5)])
    # nearest of multiple intersections
    target = polygon([(3, 0), (3, 10), (7, 10), (7, 3), (10, 10), (10, 0)])
    out = extend_line_to_geometry(ln, target)
    assert np.allclose(out.data, [(3, 1), (5, 5), (7, 5)])
    # already on the polygon -> unchanged
    out = extend_line_to_geometry(linestring([(3, 1), (5, 5), (7, 5)]), target)
    assert np.allclose(out.data, [(3, 1), (5, 5), (7, 5)])
    # no intersection -> unchanged
    out = extend_line_to_geometry(ln, box(4, 0, 5, 1))
    assert np.allclose(out.data, [(4, 3), (5, 5), (6, 5)])


def test_extend_line_to_geometry_multiline_blocking():
    # reference tests/test_extend_line.py:78-113 — Y shape: shared
    # endpoints block extension into sibling branches
    y = collect(
        [
            linestring([(3, 5), (5, 5)]),
            linestring([(5, 5), (7, 7)]),
            linestring([(5, 5), (7, 3)]),
        ]
    )
    out = extend_line_to_geometry(y, box(0, 0, 10, 10))
    got = [p.data.tolist() for p in out.data]
    assert got == [
        [[0, 5], [5, 5]],
        [[5, 5], [10, 10]],
        [[5, 5], [10, 0]],
    ]
    # island blocking: parallel line extending right stops at the hole
    island = polygon(
        [(0, 0), (10, 0), (10, 10), (0, 10)], [[(6, 4), (7, 4), (7, 6), (6, 6)]]
    )
    par = collect(
        [
            linestring([(3, 5), (5, 5)]),
            linestring([(3, 3), (5, 3)]),
            linestring([(3, 7), (5, 7)]),
        ]
    )
    out = extend_line_to_geometry(par, island)
    got = [p.data.tolist() for p in out.data]
    assert got == [
        [[0, 5], [6, 5]],
        [[0, 3], [10, 3]],
        [[0, 7], [10, 7]],
    ]


def test_extend_line_to_geometry_errors():
    with pytest.raises(ValueError, match=r"geometry must be a \(Multi\)Polygon"):
        extend_line_to_geometry(linestring([(3, 5), (5, 5)]), point(0, 0))
    with pytest.raises(ValueError, match=r"line must be \(Multi\)LineString"):
        extend_line_to_geometry(point(0, 0), linestring([(3, 5), (5, 5)]))


# -- geodesic area (reference _general.py:530-537 geographic branch) ------
def test_ring_area_geodesic_pole_triangle_exact():
    import math

    import numpy as np

    from pygeoops_spark.geom.kernels import ring_area_geodesic

    for dl in (1.0, 8.0, 45.0, 120.0):
        tri = np.array([[10.0, 0.0], [10.0 + dl, 0.0], [10.0, 90.0], [10.0, 0.0]])
        a = ring_area_geodesic(tri, radius=1.0)
        assert a == pytest.approx(math.radians(dl), rel=1e-12)
        # orientation-independent (unsigned)
        assert ring_area_geodesic(tri[::-1], radius=1.0) == pytest.approx(a, rel=1e-12)


def test_ring_area_geodesic_small_square_planar_limit():
    import math

    import numpy as np

    from pygeoops_spark.geom.kernels import (
        WGS84_AUTHALIC_RADIUS_M,
        ring_area_geodesic,
    )

    s = 0.01  # ~1.1 km square at the equator
    sq = np.array([[0, 0], [s, 0], [s, s], [0, s], [0, 0]], dtype=float)
    a = ring_area_geodesic(sq)
    planar = (math.radians(s) * WGS84_AUTHALIC_RADIUS_M) ** 2
    assert a == pytest.approx(planar, rel=1e-6)


def test_remove_inner_rings_geodesic_threshold():
    """Hole areas are geodesic m^2 when crs_geographic=True: a ~1.1 km
    hole (1.23e6 m^2) survives a 1e6 threshold but not 2e6 — planar
    degree^2 area (1e-4) would always be dropped by both."""
    import numpy as np

    from pygeoops_spark.geom import polygon as mk_poly
    from pygeoops_spark.geom.general import remove_inner_rings

    s = 0.01
    shell = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
    hole = [(0.5, 0.5), (0.5 + s, 0.5), (0.5 + s, 0.5 + s), (0.5, 0.5 + s)]
    poly = mk_poly(shell, [hole])

    kept = remove_inner_rings(poly, 1e6, crs_geographic=True)
    assert len(kept.data) == 2
    dropped = remove_inner_rings(poly, 2e6, crs_geographic=True)
    assert len(dropped.data) == 1
    # planar interpretation would drop it at any metre-scale threshold
    planar = remove_inner_rings(poly, 1e6, crs_geographic=False)
    assert len(planar.data) == 1


def test_extend_segment_by_ratio_table():
    """Reference tests/test_extend_line.py:262-293 parameter table."""
    from pygeoops_spark.geom.extend_line import extend_segment_by_ratio

    cases = [
        ((0, 0), (1, 1), 0, ((0, 0), (1, 1))),
        ((0, 0), (1, 1), 1, ((0, 0), (2, 2))),
        ((0, 0), (1, 1), 0.5, ((0, 0), (1.5, 1.5))),
        ((1, 1), (0, 0), 0, ((1, 1), (0, 0))),
        ((1, 1), (0, 0), 1, ((1, 1), (-1, -1))),
        ((1, 1), (0, 0), 0.5, ((1, 1), (-0.5, -0.5))),
        ((1, 0), (0, 1), 1, ((1, 0), (-1, 2))),
        ((0, 1), (1, 0), 1, ((0, 1), (2, -1))),
        ((0, 0), (1, 0), 0, ((0, 0), (1, 0))),
        ((0, 0), (1, 0), 1, ((0, 0), (2, 0))),
        ((0, 0), (1, 0), 0.5, ((0, 0), (1.5, 0))),
        ((0, 0), (0, 1), 0, ((0, 0), (0, 1))),
        ((0, 0), (0, 1), 1, ((0, 0), (0, 2))),
        ((0, 0), (0, 1), 0.5, ((0, 0), (0, 1.5))),
    ]
    for p1, p2, ratio, exp in cases:
        assert extend_segment_by_ratio(p1, p2, ratio) == exp
    with pytest.raises(ValueError, match="ratio must be >= 0"):
        extend_segment_by_ratio((0, 0), (1, 1), -1)


def _nan_ring_polygon(bad):
    """A 60-vertex polygon (more than one subdivide tile) with ``bad`` as
    its x at vertex 3."""
    tail = [(0, 10 - i * 0.2) for i in range(1, 50)]
    return polygon([(0, 0), (10, 0), (10, 10), (bad, 10)] + tail)


def _kernels():
    from pygeoops_spark.geom.centerline import centerline
    from pygeoops_spark.geom.geodesic import polygon_area_ellipsoidal

    return {
        "polygon_area_ellipsoidal": polygon_area_ellipsoidal,
        "subdivide": lambda g: subdivide(g, 8),
        "centerline": centerline,
    }


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
@pytest.mark.parametrize("kernel", ["polygon_area_ellipsoidal", "subdivide", "centerline"])
def test_non_finite_vertex_is_named(kernel, bad):
    """A vertex with a non-finite x raises a ValueError that names the
    kernel and the vertex (the area kernel raised an unrelated error,
    subdivide returned no tiles, centerline a line), while an empty
    geometry, whose WKB holds NaN coordinates, still passes."""
    from pygeoops_spark.geom.wkb import POINT, POLYGON, Geometry, empty, wkb_dumps, wkb_loads

    run = _kernels()[kernel]
    with pytest.raises(ValueError, match=rf"{kernel}: vertex 3 is not finite: \({bad}, 10\.0\)"):
        run(_nan_ring_polygon(bad))
    run(empty(POLYGON))
    run(wkb_loads(wkb_dumps(Geometry(POINT, None))))
    run(box(0, 0, 10, 10))
