"""Byte-level pins for the geometry predicates of geom/kernels.py and
the point-in-polygon join built on them.

- point-in-polygon masks over a seeded corpus: holes, multipolygons,
  empty parts, Z/M rings, points on vertices and edges, and batch
  sizes on both ``points_in_ring`` branches (m·n below 64, inside the
  2-D crossing-matrix window, above 2M);
- ``geom_intersects_segment`` booleans on random segments plus
  collinear, touching, endpoint-on-edge and zero-length segments;
- ``view_angles`` and ``centerline`` outputs on seeded shapes;
- the row digest of ``pip_join_polygons`` in both ``ship`` modes.

Each group is pinned by its case count and one sha256, so a change to
a single mask bit, boolean or coordinate bit shows here. A refactor of
the predicates must leave every digest unchanged.
"""

import hashlib
import math

import numpy as np

from pygeoops_spark.geom.centerline import centerline
from pygeoops_spark.geom.kernels import (
    geom_intersects_segment,
    point_in_polygon_prepared,
    points_in_polygon,
)
from pygeoops_spark.geom.view_angles import view_angles
from pygeoops_spark.geom.wkb import (
    GEOMETRYCOLLECTION,
    MULTIPOLYGON,
    POLYGON,
    bounds,
    empty,
    linestring,
    multi,
    point,
    polygon,
    wkb_dumps,
)


def _star(rng, cx, cy, r, n):
    t = np.sort(rng.uniform(0.0, 2.0 * math.pi, n))
    rad = r * rng.uniform(0.35, 1.0, n)
    return np.column_stack([cx + rad * np.cos(t), cy + rad * np.sin(t)])


def _box(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]


def _with_dims(ring, k, rng):
    extra = rng.uniform(-5.0, 5.0, (len(ring), k - 2))
    return np.column_stack([np.asarray(ring, dtype=float), extra])


def _pip_corpus():
    """(polygon, px, py) cases; batch sizes chosen per points_in_ring
    branch: m·n < 64, 64 <= m·n <= 2M, m·n > 2M."""
    rng = np.random.default_rng(20261017)
    polys = []
    for n in (5, 12, 40, 256):
        shell = _star(rng, 50.0, 50.0, 40.0, n)
        polys.append(polygon(shell))
        polys.append(polygon(shell, holes=[_star(rng, 50.0, 50.0, 12.0, max(n // 4, 3))]))
    polys.append(polygon(_box(0, 0, 10, 10), holes=[_box(2, 2, 4, 4), _box(6, 6, 8, 8)]))
    polys.append(
        multi(
            MULTIPOLYGON,
            [
                polygon(_box(0, 0, 10, 10), holes=[_box(3, 3, 7, 7)]),
                empty(POLYGON),
                polygon(_box(4, 4, 6, 6)),
                polygon(_star(rng, 20.0, 5.0, 4.0, 9)),
            ],
        )
    )
    polys.append(multi(MULTIPOLYGON, [empty(POLYGON)]))
    polys.append(empty(POLYGON))
    for k, dims in ((3, "xyz"), (3, "xym"), (4, "xyzm")):
        polys.append(
            polygon(
                _with_dims(_box(0, 0, 10, 10), k, rng),
                holes=[_with_dims(_box(2, 2, 8, 8), k, rng)],
                dims=dims,
            )
        )
    polys.append(
        multi(
            GEOMETRYCOLLECTION,
            [polygon(_box(0, 0, 5, 5)), linestring([(0, 0), (9, 9)]), point(1.0, 1.0)],
        )
    )
    cases = []
    for poly in polys:
        for m in (3, 400, 12_000):
            px = rng.uniform(-5.0, 95.0, m)
            py = rng.uniform(-5.0, 95.0, m)
            # a share of points on the integer lattice: vertices and
            # edges of the box families, exact ties on horizontal edges
            q = m // 4
            px[:q] = np.round(px[:q])
            py[:q] = np.round(py[:q])
            cases.append((poly, px, py))
    return cases


def _digest(chunks) -> str:
    h = hashlib.sha256()
    for c in chunks:
        h.update(c)
    return h.hexdigest()


PIP_CASES = 48
PIP_SHA = "0f0babd37d231fee5736452202b2f0ff34aca3b1bb511e05d10cb9610f85df12"
PIP_TRUES = 16452


def test_points_in_polygon_mask_pins():
    cases = _pip_corpus()
    masks = [points_in_polygon(px, py, poly) for poly, px, py in cases]
    assert len(masks) == PIP_CASES
    assert all(m.dtype == bool and m.shape == px.shape for m, (_, px, _) in zip(masks, cases))
    assert sum(int(m.sum()) for m in masks) == PIP_TRUES
    assert _digest(np.packbits(m).tobytes() for m in masks) == PIP_SHA


PREPARED_TRUES = [0, 0, 196, 183, 279, 266]
PREPARED_SHA = "c088f88eb00218fd2a533b4a740e018dbfac05c9f7c28c1fd77011c5ab4a268f"


def test_point_in_polygon_prepared_pins():
    """The prepared ring walk on hand-built ring lists, including a
    hole listed before any shell (ignored) and two shells in a row."""
    rng = np.random.default_rng(7)
    a = np.asarray(polygon(_box(0, 0, 10, 10)).data[0])
    h = np.asarray(polygon(_box(2, 2, 5, 5)).data[0])
    b = np.asarray(polygon(_box(8, 8, 14, 14)).data[0])
    ring_lists = [
        [],
        [(h, True)],
        [(h, True), (a, False)],
        [(a, False), (h, True)],
        [(a, False), (b, False)],
        [(a, False), (h, True), (b, False), (h, True)],
    ]
    px = rng.uniform(-1.0, 15.0, 500)
    py = rng.uniform(-1.0, 15.0, 500)
    masks = [point_in_polygon_prepared(rings)(px, py) for rings in ring_lists]
    assert [int(m.sum()) for m in masks] == PREPARED_TRUES
    assert _digest(np.packbits(m).tobytes() for m in masks) == PREPARED_SHA


def _segment_corpus():
    rng = np.random.default_rng(11)
    sq = polygon(_box(0, 0, 10, 10), holes=[_box(4, 4, 6, 6)])
    star = polygon(_star(rng, 0.0, 0.0, 10.0, 30))
    zig = linestring([(0, 0), (3, 4), (6, 0), (9, 4), (12, 0)])
    zig_z = linestring(_with_dims([(0, 0), (3, 4), (6, 0)], 3, rng), dims="xyz")
    pt = point(2.0, 2.0)
    geoms = [sq, star, zig, zig_z, pt, multi(MULTIPOLYGON, [sq, polygon(_box(20, 20, 30, 30))])]
    segs = []
    for _ in range(60):
        a = tuple(rng.uniform(-15.0, 15.0, 2))
        b = tuple(rng.uniform(-15.0, 15.0, 2))
        segs.append((a, b))
    for v in np.asarray(star.data[0])[:24:3]:
        v = tuple(v[:2])
        # from the star's centre to a vertex, vertex to outside, a
        # zero-length segment on the vertex
        segs += [((0.0, 0.0), v), (v, (v[0] * 2.0, v[1] * 2.0)), (v, v)]
    segs += [
        # collinear with an edge: overlapping, disjoint, end-to-end
        ((2.0, 0.0), (8.0, 0.0)),
        ((11.0, 0.0), (15.0, 0.0)),
        ((10.0, 0.0), (15.0, 0.0)),
        ((-5.0, 0.0), (0.0, 0.0)),
        ((0.0, -3.0), (0.0, -1.0)),
        ((1.5, 2.0), (4.5, 6.0)),
        # touching a vertex / an edge from outside
        ((10.0, 10.0), (15.0, 15.0)),
        ((5.0, 10.0), (5.0, 14.0)),
        ((-3.0, 5.0), (0.0, 5.0)),
        ((3.0, 4.0), (3.0, 9.0)),
        # endpoint on an edge, segment inside the hole
        ((4.0, 5.0), (5.0, 5.0)),
        ((4.5, 4.5), (5.5, 5.5)),
        # zero-length: on a vertex, on an edge, inside, outside, on the point
        ((0.0, 0.0), (0.0, 0.0)),
        ((5.0, 0.0), (5.0, 0.0)),
        ((1.0, 1.0), (1.0, 1.0)),
        ((20.0, 5.0), (20.0, 5.0)),
        ((2.0, 2.0), (2.0, 2.0)),
        ((4.5, 6.0), (4.5, 6.0)),
        # through a point geometry / grazing it
        ((0.0, 0.0), (4.0, 4.0)),
        ((0.0, 0.0), (4.0, 4.000001)),
        # long probe rays of view_angles shape
        ((0.0, 0.0), (5_000_000.0, 0.0)),
        ((0.0, -1e-10), (5_000_000.0, -1e-10)),
        ((0.0, 1e-10), (5_000_000.0, 1e-10)),
    ]
    return geoms, segs


SEGMENT_CASES = 642
SEGMENT_SHA = "b640301c369189c2110e77ba181eccce86338d58193a7f741e8d6dcc699a032c"
SEGMENT_TRUES = 249


def test_geom_intersects_segment_pins():
    geoms, segs = _segment_corpus()
    bits = "".join(
        "1" if geom_intersects_segment(g, a, b) else "0" for g in geoms for a, b in segs
    )
    assert len(bits) == SEGMENT_CASES
    assert bits.count("1") == SEGMENT_TRUES
    assert hashlib.sha256(bits.encode()).hexdigest() == SEGMENT_SHA


def _angle_corpus():
    rng = np.random.default_rng(5)
    cases = []
    for _ in range(40):
        c, r, n = rng.uniform(-20.0, 20.0, 2), rng.uniform(2.0, 15.0), int(rng.integers(4, 20))
        shell = _star(rng, c[0], c[1], r, n)
        vp = tuple(rng.uniform(-20.0, 20.0, 2))
        cases.append((vp, polygon(shell)))
        cases.append((vp, linestring(shell[: max(2, len(shell) // 2)])))
    cases += [
        ((0.0, 0.0), polygon(_box(5, -2, 8, 2))),
        ((0.0, 0.0), polygon(_box(-5, -5, 5, 5))),
        ((0.0, 0.0), polygon(_box(5, 0, 8, 2))),
        ((0.0, 0.0), polygon(_box(5, -2, 8, 0))),
        ((0.0, 0.0), linestring([(5, -1), (5, 1)])),
        ((0.0, 0.0), linestring([(5, 0), (8, 0)])),
        ((0.0, 0.0), linestring([(-3, 1), (3, 1), (3, -1), (-3, -1)])),
        ((0.0, 0.0), point(4.0, 0.0)),
        ((1.0, 1.0), polygon(_box(-5, -5, 5, 5), holes=[_box(0, 0, 2, 2)])),
    ]
    return cases


ANGLE_CASES = 89
ANGLE_SHA = "3c40a5b1b87ed69a90452de66aa89b8dba2f97a309ec8a5ab24929f1fa515567"


def test_view_angles_pins():
    out = [view_angles(vp, g) for vp, g in _angle_corpus()]
    assert len(out) == ANGLE_CASES
    assert hashlib.sha256(repr(out).encode()).hexdigest() == ANGLE_SHA


CENTERLINE_CASES = 8
CENTERLINE_SHA = "617638a43c2cd49bbeff31dccd24e90d5edabea7da128ccc9e1e6ef2d6f401d6"


def test_centerline_pins():
    rng = np.random.default_rng(3)
    shapes = [
        polygon(_box(0, 0, 20, 4)),
        polygon([(0, 0), (12, 0), (12, 3), (3, 3), (3, 12), (0, 12)]),
        polygon(_box(0, 0, 20, 20), holes=[_box(5, 5, 15, 15)]),
        polygon(_star(rng, 0.0, 0.0, 10.0, 9)),
        polygon(_star(rng, 0.0, 0.0, 10.0, 14)),
        multi(MULTIPOLYGON, [polygon(_box(0, 0, 10, 2)), polygon(_box(0, 5, 2, 15))]),
        polygon(_with_dims(_box(0, 0, 15, 3), 3, rng), dims="xyz"),
        polygon([(0, 0), (10, 0), (10, 1), (1, 1), (1, 10), (0, 10)]),
    ]
    out = [centerline(g) for g in shapes]
    assert len(out) == CENTERLINE_CASES
    assert _digest(b"-" if g is None else wkb_dumps(g) for g in out) == CENTERLINE_SHA


JOIN_ROWS = 1657
JOIN_SHA = "508b1a339cc9464e11f05bc293f4f3e850e11e5b3cc2ecaad5a0c665c69fd3da"


def test_pip_join_polygons_row_pins(spark):
    """Seeded star zones (some holed, one multipolygon) against seeded
    points with a lattice share; both ship modes emit the same rows."""
    from pygeoops_spark.join.pip import pip_join_polygons

    rng = np.random.default_rng(99)
    zones = []
    for zid in range(12):
        c = rng.uniform(10.0, 90.0, 2)
        shell = _star(rng, c[0], c[1], rng.uniform(4.0, 20.0), int(rng.integers(5, 60)))
        holes = [_star(rng, c[0], c[1], 2.0, 6)] if zid % 3 == 0 else []
        zones.append(polygon(shell, holes=holes))
    donut = polygon(_box(0, 0, 10, 10), holes=[_box(4, 4, 6, 6)])
    zones.append(multi(MULTIPOLYGON, [donut, polygon(_box(20, 0, 30, 10))]))
    zdf = spark.createDataFrame(
        [
            (zid, *(float(v) for v in bounds(g)), bytearray(wkb_dumps(g)))
            for zid, g in enumerate(zones)
        ],
        "zone_id long, xmin double, ymin double, xmax double, ymax double, zone_wkb binary",
    )
    n = 6000
    px = rng.uniform(0.0, 100.0, n)
    py = rng.uniform(0.0, 100.0, n)
    px[: n // 5] = np.round(px[: n // 5])
    py[: n // 5] = np.round(py[: n // 5])
    pdf = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(px, py))],
        "pid long, x double, y double",
    )
    for ship in ("prepared", "wkb"):
        out = pip_join_polygons(pdf, zdf, level=4, ship=ship).select("pid", "zone_id")
        got = sorted((r[0], r[1]) for r in out.collect())
        assert len(got) == JOIN_ROWS, ship
        assert hashlib.sha256(repr(got).encode()).hexdigest() == JOIN_SHA, ship
