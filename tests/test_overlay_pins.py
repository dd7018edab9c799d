"""Byte-level pins for the overlay kernel (geom/overlay.py) and its
callers.

A seeded numpy corpus covering the shape families of
tests/test_exact_oracle.py (box vs L-shape, convex pairs, parcel pairs
under eps jitter, holed plugs, n-ary box unions, axis-aligned tile
partitions, bowties, lines, the driver `difference` corpus) plus the
near-coincident counterexamples of tests/test_overlay.py is run through
every overlay entry point. Each op is pinned by its case count and one
sha256 over the concatenated result WKB, so any change to ring order,
start vertex, part order or a single coordinate bit shows here.

The exact-oracle tests grade areas; these pins grade bytes. A refactor
of the overlay core must leave every digest unchanged.
"""

import functools
import hashlib
import math
from typing import Callable

import numpy as np
import pytest

from pygeoops_spark.geom import polygon
from pygeoops_spark.geom.clip import clip_polygon_rect
from pygeoops_spark.geom.difference import difference_all, difference_all_tiled
from pygeoops_spark.geom.overlay import (
    dissolve_partition,
    line_difference,
    line_intersection,
    polygon_difference,
    polygon_intersection,
    polygon_union,
)
from pygeoops_spark.geom.validity import make_valid
from pygeoops_spark.geom.wkb import (
    LINESTRING,
    MULTIPOLYGON,
    Geometry,
    multi,
    wkb_dumps,
    wkt_loads,
)


def _box(x0, y0, w, h):
    return polygon([(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)])


def _rand_box(rng):
    x0, y0 = (int(v) for v in rng.integers(0, 41, 2))
    w, h = (int(v) for v in rng.integers(1, 16, 2))
    return _box(x0, y0, w, h)


def _l_shape(rng):
    x0, y0 = (int(v) for v in rng.integers(0, 41, 2))
    w, h = (int(v) for v in rng.integers(2, 13, 2))
    nw, nh = int(rng.integers(1, w)), int(rng.integers(1, h))
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


def _convex(rng):
    cx, cy = rng.integers(5, 36, 2)
    k = int(rng.integers(3, 9))
    rad = int(rng.integers(2, 10))
    angles = np.sort(rng.uniform(0.0, 2 * np.pi - 1e-3, k))
    return polygon([(cx + rad * np.cos(t), cy + rad * np.sin(t)) for t in angles])


def _parcel_pair(rng, eps, offset=0.0):
    w, h = (int(v) for v in rng.integers(6, 21, 2))
    cut1, cut2 = (int(v) for v in rng.integers(1, w, 2))
    d = eps * float(rng.choice([-1.0, 1.0]))
    a = [(0, 0), (cut1, 0), (cut2, h), (0, h)]
    b = [(cut1 + d, 0.0), (w, 0.0), (w, h), (cut2 + d, float(h))]
    return tuple(
        polygon([(x + offset, y + offset) for x, y in ring]) for ring in (a, b)
    )


def _holed_plug(rng, eps):
    w, h = (int(v) for v in rng.integers(8, 21, 2))
    hx, hy = int(rng.integers(2, w - 4)), int(rng.integers(2, h - 4))
    hw, hh = int(rng.integers(2, w - hx - 1)), int(rng.integers(2, h - hy - 1))
    d = eps * float(rng.choice([-1.0, 1.0]))
    holed = polygon(
        [(0, 0), (w, 0), (w, h), (0, h)],
        holes=[[(hx, hy), (hx + hw, hy), (hx + hw, hy + hh), (hx, hy + hh)]],
    )
    plug = polygon(
        [
            (hx + d, hy + d),
            (hx + hw - d, hy + d),
            (hx + hw - d, hy + hh - d),
            (hx + d, hy + hh - d),
        ]
    )
    return holed, plug


def _pie_slices(n, eps):
    cx, cy, r = 10.0, 10.0, 5.0
    out = []
    for k in range(n):
        a0, a1 = 2 * math.pi * k / n, 2 * math.pi * (k + 1) / n
        c = (cx + (k % 3 - 1) * eps, cy + (k % 2) * eps)
        out.append(
            polygon(
                [
                    c,
                    (cx + r * math.cos(a0), cy + r * math.sin(a0)),
                    (cx + r * math.cos(a1), cy + r * math.sin(a1)),
                ]
            )
        )
    return out


# The union of pie slices 1..n for (6, 1e-9), (6, 1e-7) and (12, 1e-7)
# as polygon_union returned it when the binary-op digests were
# recorded: the binary ops take it as a fixed operand, so a change in
# the union's ring starts or ring order does not move their digests
# (the union's own bytes are pinned below).
_PIE_RESTS = (
    (
        "POLYGON ((10 10.000000001, 12.5 14.330127018922193, "
        "7.500000000000001 14.330127018922195, 5 10, "
        "7.499999999999998 5.669872981077808, 12.5 5.669872981077807, "
        "15 9.999999999999998, 10.000000001 10.000000001, 10 10.000000001))"
    ),
    (
        "MULTIPOLYGON (((10.000000021132484 10.000000136602536, "
        "12.5 14.330127018922193, 7.500000000000001 14.330127018922195, 5 10, "
        "7.499999999999998 5.669872981077808, 9.999999842264977 10, 10 10, "
        "10.0000001 10, 10.000000021132484 10.000000136602536)), ((10 10, "
        "7.499999999999998 5.669872981077808, 12.5 5.669872981077807, 10 10)), "
        "((10.0000001 10.0000001, 12.5 5.669872981077807, 15 9.999999999999998, "
        "10.0000001 10.0000001)))"
    ),
    (
        "POLYGON ((14.330127018922191 7.499999999999998, 15 9.999999999999998, "
        "10.000000157735023 10.000000099999998, "
        "10.000000236602526 10.000000236602526, 14.330127018922195 12.5, "
        "12.5 14.330127018922193, 10 15, 7.500000000000001 14.330127018922195, "
        "5.669872981077806 12.5, 5 10, 5.6698729810778055 7.500000000000002, "
        "7.499999999999998 5.669872981077808, 9.999999999999998 5, "
        "12.5 5.669872981077807, 14.330127018922191 7.499999999999998), (10 15, "
        "10.000000099999994 10.000000273205066, "
        "10.000000024999999 10.000000143301268, "
        "9.999999900000002 10.000000215470044, 10 15), (5 10, "
        "9.99999982679493 10.000000099999994, 9.999999900000002 10.000000057735026, "
        "9.999999900000002 10.000000042264972, 9.999999826794927 10, 5 10), "
        "(7.499999999999998 5.669872981077808, 9.999999900000004 9.99999992679492, "
        "9.99999990000001 9.99999965358987, 7.499999999999998 5.669872981077808), "
        "(12.5 5.669872981077807, 10.000000099999994 9.999999753589854, "
        "10.000000099999996 9.999999826794927, 12.5 5.669872981077807), "
        "(10.0000001 10, 10.000000143301268 10.000000074999999, "
        "14.330127018922191 7.499999999999998, 10.000000099999998 9.999999942264974, "
        "10.0000001 10))"
    ),
)


def _pairs():
    """(A, B) operand pairs for the binary polygon ops."""
    rng = np.random.default_rng(20261017)
    pairs = [(_rand_box(rng), _l_shape(rng)) for _ in range(60)]
    pairs += [(_convex(rng), _convex(rng)) for _ in range(60)]
    for eps in (0.0, 1e-12, 1e-9, 1e-7):
        pairs += [_parcel_pair(rng, eps) for _ in range(12)]
        pairs += [_parcel_pair(rng, eps, offset=5e5) for _ in range(4)]
        pairs += [_holed_plug(rng, eps) for _ in range(10)]
    for eps in (0.0, 1e-9, 1e-8, 1e-7):
        a = polygon([(0, 0), (7, 0), (9, 6), (2, 8)])
        b = polygon([(eps, 0), (7, -eps), (9 - eps, 6), (2, 8 + eps)])
        pairs.append((a, b))
    for (n, eps), rest in zip(((6, 1e-9), (6, 1e-7), (12, 1e-7)), _PIE_RESTS):
        pairs.append((_pie_slices(n, eps)[0], wkt_loads(rest)))
    # near-identical triangles: the jitter that sent intersection and
    # union onto the coarse-grid retry, before it was deleted
    for eps in (2e-8, 3e-8, 4e-8):
        for _ in range(40):
            pts = rng.uniform(0, 40, (3, 2))
            pairs.append((polygon(pts), polygon(pts + rng.uniform(-eps, eps, pts.shape))))
    # both operand orders: the two rules of each op are not symmetric
    return pairs + [(b, a) for a, b in pairs]


def _union_sets():
    rng = np.random.default_rng(7)
    sets = [[_rand_box(rng) for _ in range(int(rng.integers(2, 5)))] for _ in range(40)]
    sets += [[a, b] for a, b in _pairs()]
    sets += [_pie_slices(n, eps) for n, eps in ((4, 0.0), (6, 1e-9), (8, 1e-7))]
    # three jittered copies of one polygon: the n-ary case the
    # coarse-grid retry used to catch
    for eps in (1e-8, 2e-8):
        for _ in range(20):
            pts = np.asarray(_convex(rng).data[0])[:-1]
            sets.append(
                [polygon(pts)]
                + [polygon(pts + rng.uniform(-eps, eps, pts.shape)) for _ in range(2)]
            )
    return sets


def _tile_partitions():
    """Interior-disjoint tile pieces of one polygon, cut on an
    axis-aligned grid (the shape subdivide + per-tile difference
    produces)."""
    rng = np.random.default_rng(3)
    out = []
    for i in range(30):
        g = _l_shape(rng) if i % 2 else _convex(rng)
        xs = np.asarray(g.data[0])[:, 0]
        ys = np.asarray(g.data[0])[:, 1]
        nx, ny = int(rng.integers(2, 5)), int(rng.integers(2, 5))
        gx = np.linspace(xs.min() - 0.5, xs.max() + 0.5, nx + 1)
        gy = np.linspace(ys.min() - 0.5, ys.max() + 0.5, ny + 1)
        pieces = [
            clip_polygon_rect(g, gx[c], gy[r], gx[c + 1], gy[r + 1])
            for c in range(nx)
            for r in range(ny)
        ]
        out.append([p for p in pieces if p is not None])
    # not partitions: overlapping pieces take the polygon_union fallback
    out += [[_rand_box(rng) for _ in range(3)] for _ in range(10)]
    out.append([_box(0, 0, 4, 4), _box(0, 0, 4, 4)])
    out.append([polygon([(0, 0), (4, 0), (0, 4)]), polygon([(4, 0), (4, 4), (0, 4)])])
    return out


def _bowties():
    rng = np.random.default_rng(5)
    out = [
        polygon([(0, 0), (4, 4), (4, 0), (0, 4)]),
        polygon([(0, 0), (10, 0), (10, 10), (0, 10)], holes=[[(2, 2), (8, 8), (8, 2), (2, 8)]]),
    ]
    for _ in range(40):
        k = int(rng.integers(4, 9))
        out.append(polygon([tuple(p) for p in rng.integers(0, 20, (k, 2)).astype(float)]))
    return out


def _invalid_shapes():
    """The make_valid families of tests/test_validity.py: figure-eight,
    a hole made by self-touch, an island inside that hole, a spiral, a
    pentagram, collapsed rings, non-simple holes, multi-part and
    collection inputs, Z/M lifts, valid shapes (the only_if_invalid
    pass-through) and seeded random self-intersecting rings."""
    figure8 = polygon([(0, 0), (4, 0), (2, 2), (4, 4), (0, 4), (2, 2)])
    annulus = wkt_loads(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0, 2 2, 2 8, 8 8, 8 2, 2 2, 0 0))"
    )
    island = wkt_loads(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0, 2 2, 2 8, 8 8, 8 2, 2 2, "
        "0 0, 4 4, 6 4, 6 6, 4 6, 4 4, 0 0))"
    )
    t = np.linspace(0.0, 4 * np.pi, 33)[:-1]
    spiral = polygon(np.column_stack([(10 - 0.6 * t) * np.cos(t), (10 - 0.6 * t) * np.sin(t)]))
    star = polygon(
        [
            (math.cos(math.radians(90 + 144 * i)), math.sin(math.radians(90 + 144 * i)))
            for i in range(5)
        ]
    )
    flat = polygon([(0, 0), (2, 0), (5, 0)])
    dot = polygon([(3, 4), (3, 4), (3, 4)])
    square = _box(0, 0, 4, 4)
    holed = polygon(
        [(0, 0), (10, 0), (10, 10), (0, 10)], holes=[[(2, 2), (2, 8), (8, 8), (8, 2)]]
    )
    bad_hole = polygon(
        [(0, 0), (10, 0), (10, 10), (0, 10)], holes=[[(2, 2), (8, 8), (8, 2), (2, 8)]]
    )
    bowtie = polygon([(0, 0), (4, 4), (4, 0), (0, 4)])
    out = [figure8, annulus, island, spiral, star, flat, dot, square, holed, bad_hole]
    out.append(multi(MULTIPOLYGON, [square, polygon([(10, 0), (12, 0), (14, 0)])]))
    out.append(multi(MULTIPOLYGON, [bowtie, polygon([(10, 10), (11, 10), (11, 11)])]))
    out.append(
        wkt_loads(
            "GEOMETRYCOLLECTION (POLYGON ((0 0, 10 10, 10 0, 0 10, 0 0)), "
            "LINESTRING (3 3, 3 3), POINT (7 7))"
        )
    )
    for g in (figure8, bowtie, square, island):
        for dims in ("xyz", "xym"):
            rings = [
                np.column_stack([np.asarray(r), np.full(len(r), 7.0)]) for r in g.data
            ]
            out.append(polygon(rings[0], rings[1:], dims=dims))
    rng = np.random.default_rng(42)
    for _ in range(30):
        pts = rng.uniform(0.0, 10.0, (int(rng.choice([4, 6, 8])), 2)).round(3)
        out.append(polygon([tuple(p) for p in pts]))
    return out


def _lines():
    rng = np.random.default_rng(9)
    out = []
    for i in range(60):
        poly = _l_shape(rng) if i % 2 else _convex(rng)
        k = int(rng.integers(2, 5))
        line = rng.integers(-5000, 45001, (k, 2)) / 1000 + 0.0002718
        out.append((line, poly))
    holed = polygon(
        [(0, 0), (10, 0), (10, 10), (0, 10)], holes=[[(4, 4), (6, 4), (6, 6), (4, 6)]]
    )
    out.append((np.array([(-1.0, -1.0), (11.0, 11.0)]), holed))
    out.append((np.array([(-5.0, 5.0), (15.0, 5.0)]), _box(0, 0, 10, 10)))
    return out


def _driver_difference_corpus():
    out = []
    for zid in range(64):
        zcol, zrow = zid % 8, zid // 8
        x0 = zcol * 125 + (zid * 37) % 20 - 10.0
        y0 = zrow * 125 + (zid * 53) % 20 - 10.0
        x1 = x0 + 100 + (zid * 29) % 40
        y1 = y0 + 100 + (zid * 41) % 40
        zone = polygon([(x0, y0), (x1, y0), (x1, y1), (x0, y1)])
        out.append((zone, [_box(x0 + 10, y0 + 10, 20, 20), _box(x1 - 30, y1 - 30, 20, 20)]))
        out.append(
            (
                zone,
                [
                    polygon([(x0, y0), (x0 + 20, y0), (x0 + 20, y1), (x0, y1)]),
                    polygon([(x1 - 40, y0), (x1, y0), (x1 - 1e-9, y0 + 30)]),
                ],
            )
        )
    return out


def _tiled_cases():
    rng = np.random.default_rng(13)
    out = []
    for _ in range(10):
        k = 40
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(6, 10, k)
        g = polygon([(20 + r * np.cos(t), 20 + r * np.sin(t)) for r, t in zip(rad, ang)])
        out.append((g, [_convex(rng), _rand_box(rng)]))
    return out


def _enc(result) -> bytes:
    if result is None:
        return b"None;"
    if isinstance(result, list):
        return b"".join(wkb_dumps(Geometry(LINESTRING, np.asarray(c))) for c in result) + b";"
    return wkb_dumps(result) + b";"


def _cases(op: str) -> list[tuple[Callable, tuple]]:
    """Each case of ``op`` as (function, arguments)."""
    if op == "polygon_difference":
        return [(polygon_difference, ab) for ab in _pairs()]
    if op == "polygon_intersection":
        return [(polygon_intersection, ab) for ab in _pairs()]
    if op == "polygon_union":
        return [(polygon_union, (s,)) for s in _union_sets()]
    if op == "dissolve_partition":
        return [(dissolve_partition, (s,)) for s in _tile_partitions()]
    if op == "make_valid":
        return [(make_valid, (g,)) for g in _bowties()]
    if op == "make_valid_shapes":
        return [
            (make_valid, (g, k, o))
            for g in _invalid_shapes()
            for k in (True, False)
            for o in (False, True)
        ]
    if op == "line_difference":
        return [(line_difference, lp) for lp in _lines()]
    if op == "line_intersection":
        return [(line_intersection, lp) for lp in _lines()]
    if op == "difference_all":
        return [(difference_all, zs) for zs in _driver_difference_corpus()]
    if op == "difference_all_tiled":
        tiled = functools.partial(difference_all_tiled, subdivide_coords=12)
        return [(tiled, gs) for gs in _tiled_cases()]
    raise KeyError(op)


# (case count, sha256 over the concatenated result WKB), recorded on
# the tree before the overlay core was factored out of the ops
PINS = {
    # the five digests below that say so were re-recorded when the
    # binary ops and dissolve_partition read their faces from the one
    # winding arrangement (_winding_region over the kept edges) instead
    # of the stitch walk; the counts are scripts/pin_moves.py's, and
    # CHANGES.md lists every case that moved further from exact.
    # Re-recorded: 418 cases moved, 85 in exact area (65 closer, 20
    # further, by at most 9.0e-7); coarse retries 74 -> 7.
    # Re-recorded again when the binary ops kept faces by the two
    # winding counts of one arrangement over both operands' edges
    # instead of classifying edges: 15 cases moved, all in exact area
    # (6 closer, 9 further, by at most 2.4e-7; worst error 9e-7 ->
    # 9e-7); coarse retries 7 -> 0
    "polygon_difference": (
        702,
        "ea9ff9277462b3a0b02caec45bc23e4850766fbf97f30a29c7856ec546569eec",
    ),
    # re-recorded: 227 cases moved, 19 in exact area (16 closer, 3
    # further, by at most 8.6e-7); coarse retries 12 -> 14. Re-recorded
    # again with the two winding counts: 28 cases moved, 20 in exact
    # area (16 closer, 4 further, by at most 7.8e-14; worst error
    # 2.46e-6 -> 9e-7); coarse retries 14 -> 0
    "polygon_intersection": (
        702,
        "4926801e5e1663def4d26a363e53bcca7e423d106ae8a14e9ec7e9276a33b6e6",
    ),
    # re-recorded when union's faces came from one winding arrangement:
    # rings start at the lowest boundary half-edge instead of the first
    # kept edge, and near-coincident sets take the clustered pass instead
    # of the stitch's robust walk or the coarse retry. 595 cases moved,
    # 65 of them in exact area, by at most 3.0e-6 (CHANGES.md lists them)
    "polygon_union": (
        785,
        "b3cf497f45b1d414da20ef15dd3d6d1101066f003dcecae189c1a522f60e1616",
    ),
    # re-recorded: 41 cases moved (ring starts), 1 in exact area: case
    # 30, three overlapping boxes, now takes the union fallback (area
    # 216 -> 180, the exact union). Re-recorded again when the seams
    # cancelled in the winding arrangement instead of by 1-D interval
    # coverage (every case now polygon_union's bytes): 15 cases moved
    # (vertices kept on axis-aligned edges), none in exact area
    "dissolve_partition": (
        42,
        "5762ebf1bdd968106ec11454bdbd9ad79cb7bdc49dc9b6e05f46b5d23ea9f2bc",
    ),
    "make_valid": (
        42,
        "b0679f51ce66d3d953c11181fa6d3d91bdffddb9c364f9ab55caca864efc609e",
    ),
    # recorded on the tree whose overlay edge sets were tuple lists
    "make_valid_shapes": (
        204,
        "52f152f78fff373279cf78fee08a587a32b17fc5bc1093b8819ba6f0dc578b99",
    ),
    "line_difference": (
        62,
        "c010a67de015d2829425493ebbf3f99127f2a75dd8da69461afba3c7337f677a",
    ),
    "line_intersection": (
        62,
        "97c0fc30fade4cdf31bddd74eb92227f4ac82001460847679d5a12cb2e6cdeb6",
    ),
    # re-recorded: 64 cases moved, none in exact area
    "difference_all": (
        128,
        "c516438c2996938b00aea64a165391bc130e448397894aa27a70c15306583162",
    ),
    # re-recorded: 10 cases moved, 1 in exact area (case 0, 2.8e-14
    # further from exact). Re-recorded again with exact clip cut points
    # and the seams cancelled in the winding arrangement: 1 case moved
    # (case 1), none in exact area
    "difference_all_tiled": (
        10,
        "182b341a9523fbd8e9cbd2515d4ea61fcd8efb461b4d3e618dc67567a087ea48",
    ),
}


def _digest(op: str) -> tuple[int, str]:
    cases = _cases(op)
    h = hashlib.sha256()
    for fn, args in cases:
        h.update(_enc(fn(*args)))
    return len(cases), h.hexdigest()


@pytest.mark.parametrize("op", sorted(PINS))
def test_overlay_result_bytes_pinned(op):
    assert _digest(op) == PINS[op]


def test_jittered_triangles_intersection_near_exact():
    """Intersection case 239, a triangle and its copy jittered by ~2e-8,
    is within 1e-6 of the exact intersection area: the edge classifier
    sent it to the coarse-grid retry, 2.46e-6 off; the two winding
    counts of one arrangement decide it on the first pass."""
    from pygeoops_spark.geom.exact import exact_area, exact_intersection_area

    a, b = _pairs()[239]
    got = polygon_intersection(a, b)
    assert abs(float(exact_area(got)) - float(exact_intersection_area(a, b))) <= 1e-6


def test_merged_boundaries_follow_the_operand_that_ends_the_region(monkeypatch):
    """Where the clustered pass merges A's and B's near-coincident
    boundaries, the ring runs along the edge past which the rule stops
    holding, not the one furthest to the right (union's widest region):
    the parcel pairs 1e-9 apart difference to their exact area (the
    widest rule kept a 1e-9 sliver: 47.999999994 read 48.0), and the
    quadrilateral jittered by 1e-9 and 1e-8 intersects its copy within
    1e-12 of exact, never above the smaller operand (51.0000000667
    against |A| = 51)."""
    from pygeoops_spark.geom import overlay
    from pygeoops_spark.geom.exact import exact_area, exact_difference_area, exact_intersection_area
    from pygeoops_spark.geom.kernels import polygon_area

    clustered = []
    real = overlay._winding_region

    def spy(edges, snap, dirty=None, operand=None, keep=None):
        clustered.append(dirty is not None)
        return real(edges, snap, dirty, operand, keep)

    monkeypatch.setattr(overlay, "_winding_region", spy)
    pairs = _pairs()
    for i in [*range(172, 184), *range(523, 535)]:
        a, b = pairs[i]
        got = exact_area(polygon_difference(a, b))
        assert abs(float(got - exact_difference_area(a, b))) <= 1e-12, i
    for i in (224, 225, 226, 227, 575, 576, 577, 578):
        a, b = pairs[i]
        got = polygon_intersection(a, b)
        assert abs(float(exact_area(got) - exact_intersection_area(a, b))) <= 1e-12, i
        assert polygon_area(got) <= min(polygon_area(a), polygon_area(b)), i
    assert sum(clustered) >= 16


def _bench_shaped_tiles(i):
    """The tile results of one feature of bench.py's tiled difference: an
    801-vertex densified rectangle, subdivided at 200 coordinates, each
    tile minus the 8 shared boxes."""
    from pygeoops_spark.geom.general import subdivide

    w, h = 300 + (i * 29) % 100, 200 + (i * 7) % 80
    x0, y0 = (i % 64) * 15.0, (i // 64 % 64) * 11.0
    corners = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]
    t = np.linspace(0, 1, 201)[:-1, None]
    ring = np.vstack([a + t * (np.subtract(b, a)) for a, b in zip(corners, corners[1:] + corners[:1])])
    subs = [_box(k * 110.0, k * 70.0, 40, 40) for k in range(8)]
    tiles = subdivide(polygon(ring), 200)
    return [r for r in (difference_all(t, subs, check_intersects=True) for t in tiles) if r is not None]


def test_dissolve_partition_returns_the_union_of_a_partition():
    """dissolve_partition is polygon_union's fast path: on every pinned
    tile partition (the overlapping sets through its fallback) and on
    bench-shaped tiled differences it returns the union's bytes."""
    for parts in _tile_partitions():
        assert _enc(dissolve_partition(parts)) == _enc(polygon_union(parts))
    for i in (0, 5, 17, 33):
        parts = _bench_shaped_tiles(i)
        assert len(parts) > 1
        assert _enc(dissolve_partition(parts)) == _enc(polygon_union(parts))


def test_dissolve_partition_agrees_with_union_on_random_tilings():
    """Random stars, subdivided and each tile differenced against random
    boxes: the dissolve and the union agree in part count and area."""
    from pygeoops_spark.geom.general import subdivide
    from pygeoops_spark.geom.kernels import polygon_area

    rng = np.random.default_rng(20)
    for _ in range(60):
        k = int(rng.integers(20, 80))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(3, 10, k)
        g = polygon(np.column_stack([20 + rad * np.cos(ang), 20 + rad * np.sin(ang)]))
        boxes = [_box(*rng.uniform(8, 30, 2), *rng.uniform(1, 8, 2)) for _ in range(int(rng.integers(1, 4)))]
        tiles = subdivide(g, int(rng.integers(6, 20)))
        parts = [r for r in (difference_all(t, boxes, check_intersects=True) for t in tiles) if r is not None]
        d, u = dissolve_partition(parts), polygon_union(parts)
        assert len(d.data if d.type_id == MULTIPOLYGON else [d]) == len(u.data if u.type_id == MULTIPOLYGON else [u])
        assert abs(polygon_area(d) - polygon_area(u)) <= 1e-12 * polygon_area(u)
