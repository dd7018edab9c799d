"""make_valid tests — reference tests/test_simplify.py:181-251 M-shape
scenarios (self-touch -> 2 parts, self-cross -> 3 parts)."""

import numpy as np
import pytest

from pygeoops_spark.geom import polygon, wkt_loads
from pygeoops_spark.geom.kernels import polygon_area
from pygeoops_spark.geom.simplify_geom import simplify
from pygeoops_spark.geom.validity import make_valid, polygon_is_simple
from pygeoops_spark.geom.wkb import MULTIPOLYGON, POLYGON


def test_make_valid_passthrough():
    p = polygon([(0, 0), (10, 0), (10, 10), (0, 10)])
    out = make_valid(p)
    assert out.type_id == POLYGON
    assert polygon_area(out) == 100.0
    assert polygon_is_simple(p)


def test_simplify_invalid_exterior():
    # reference :182-193 — self-crossing spike; after lang tol 1 the
    # result is a MultiPolygon whose dominant part keeps the hole and
    # has 7 exterior coords
    poly = polygon(
        [(0, 0), (0, 10), (5, 10), (3, 12), (3, 9), (10, 10), (10, 0)],
        [[(2, 2), (2, 8), (8, 8), (8, 2)]],
    )
    out = simplify(poly, 1, algorithm="lang")
    assert out is not None
    assert out.type_id == MULTIPOLYGON
    assert len(out.data[0].data[0]) == 7
    assert len(out.data[0].data) == 2  # hole stays with the big part


def test_simplify_m_touch():
    # reference :196-222 — M shape whose ring touches itself after
    # simplification -> valid MultiPolygon of 2 parts
    poly = polygon(
        [(0, 0), (0, 10), (5, 5), (10, 10), (10, 0), (8, 0), (8, 5), (5, 4), (2, 5), (2, 0)]
    )
    out = simplify(poly, 1, algorithm="lang")
    assert out is not None
    assert out.type_id == MULTIPOLYGON
    assert len(out.data) == 2
    from pygeoops_spark.geom.wkb import get_coordinates

    # reference compares against its 13-coord invalid-exterior fixture
    # (tests/test_simplify.py:221) — the split parts total 12 coords
    assert len(get_coordinates(out)) < 13


def test_simplify_m_cross():
    # reference :226-251 — ring crosses itself -> 3 parts
    poly = polygon(
        [(0, 0), (0, 10), (5, 5), (10, 10), (10, 0), (8, 0), (8, 5.5), (5, 4.5), (2, 5.5), (2, 0)]
    )
    out = simplify(poly, 1, algorithm="lang")
    assert out is not None
    assert out.type_id == MULTIPOLYGON
    assert len(out.data) == 3


# -- collapse semantics (reference _general.py:419-479 keep_collapsed) ----
def test_make_valid_collapsed_ring_to_linestring():
    from pygeoops_spark.geom import polygon
    from pygeoops_spark.geom.validity import make_valid

    flat = polygon([(0, 0), (2, 0), (5, 0)])  # zero-area ring
    kept = make_valid(flat, keep_collapsed=True)
    assert kept is not None and kept.geom_type == "LINESTRING"
    import numpy as np

    coords = np.asarray(kept.data)
    assert coords[0].tolist() == [0.0, 0.0]
    assert coords[-1].tolist() == [5.0, 0.0]
    assert make_valid(flat, keep_collapsed=False) is None


def test_make_valid_collapsed_ring_to_point():
    from pygeoops_spark.geom import polygon
    from pygeoops_spark.geom.validity import make_valid

    pt = polygon([(3, 4), (3, 4), (3, 4)])
    kept = make_valid(pt, keep_collapsed=True)
    assert kept is not None and kept.geom_type == "POINT"
    assert make_valid(pt, keep_collapsed=False) is None


def test_make_valid_multipolygon_mixed_collapse():
    from pygeoops_spark.geom import polygon
    from pygeoops_spark.geom.general import collect
    from pygeoops_spark.geom.validity import make_valid

    good = polygon([(0, 0), (4, 0), (4, 4), (0, 4)])
    flat = polygon([(10, 0), (12, 0), (14, 0)])
    mp = collect([good, flat])
    assert mp.geom_type == "MULTIPOLYGON"
    kept = make_valid(mp, keep_collapsed=True)
    assert kept.geom_type == "GEOMETRYCOLLECTION"
    types = sorted(p.geom_type for p in kept.data)
    assert types == ["LINESTRING", "POLYGON"]
    dropped = make_valid(mp, keep_collapsed=False)
    assert dropped.geom_type == "POLYGON"


def test_make_valid_only_if_invalid_fast_path():
    from pygeoops_spark.geom import polygon
    from pygeoops_spark.geom.validity import make_valid

    good = polygon([(0, 0), (4, 0), (4, 4), (0, 4)])
    assert make_valid(good, only_if_invalid=True) is good  # untouched
    # a self-crossing bowtie still gets repaired through the fast path
    bowtie = polygon([(0, 0), (4, 4), (4, 0), (0, 4)])
    fixed = make_valid(bowtie, only_if_invalid=True)
    assert fixed.geom_type == "MULTIPOLYGON"
    assert len(fixed.data) == 2


def test_make_valid_only_if_invalid_detects_collapsed_shell():
    """A zero-area shell is INVALID: the fast path must fall through to
    the repair path so keep_collapsed semantics apply (code-review r02
    finding: 0 loops used to count as 'simple')."""
    from pygeoops_spark.geom import polygon
    from pygeoops_spark.geom.validity import make_valid

    flat = polygon([(0, 0), (2, 0), (5, 0)])
    fast = make_valid(flat, keep_collapsed=True, only_if_invalid=True)
    slow = make_valid(flat, keep_collapsed=True)
    assert fast.geom_type == slow.geom_type == "LINESTRING"


# -- nonzero-winding property sweep ---------------------------------------
def _winding_number(px: float, py: float, ring: np.ndarray) -> int:
    """Independent signed-crossing winding number (Sunday's algorithm);
    shares no code with points_in_polygon (crossing parity)."""
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    up = (y1 <= py) & (y2 > py)
    down = (y1 > py) & (y2 <= py)
    cross = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
    return int((up & (cross > 0)).sum()) - int((down & (cross < 0)).sum())


def _dist_to_edges(px: float, py: float, ring: np.ndarray) -> float:
    from pygeoops_spark.geom.kernels import point_segment_distance

    n = len(ring) - 1
    d = point_segment_distance(
        np.full(n, px), np.full(n, py),
        ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1],
    )
    return float(d.min())


def _point_in_output(px: float, py: float, parts) -> bool:
    from pygeoops_spark.geom.kernels import points_in_polygon

    for p in parts:
        if points_in_polygon(np.array([px]), np.array([py]), p)[0]:
            return True
    return False


def test_make_valid_nonzero_winding_property_sweep():
    """1000 random self-intersecting quads/hexes/octagons: the repaired
    output must be VALID (simple shells, holes inside their shell,
    interior-disjoint parts) and cover exactly the nonzero-winding
    region of the input ring (membership parity at random probes away
    from the boundary)."""
    from pygeoops_spark.geom import polygon
    from pygeoops_spark.geom.kernels import points_in_polygon
    from pygeoops_spark.geom.validity import _ring_loops, make_valid
    from pygeoops_spark.geom.wkb import POLYGON, get_parts

    rng = np.random.default_rng(42)
    n_cases = 1000
    checked_probes = 0
    for case in range(n_cases):
        nv = int(rng.choice([4, 6, 8]))
        pts = rng.uniform(0.0, 10.0, (nv, 2)).round(3)
        ring = np.vstack([pts, pts[:1]])
        poly = polygon([tuple(p) for p in pts])
        out = make_valid(poly, keep_collapsed=False)
        parts = (
            []
            if out is None
            else [p for p in get_parts(out) if p.type_id == POLYGON]
        )

        # 1. validity of every part
        for p in parts:
            assert len(_ring_loops(np.asarray(p.data[0]))) == 1, (
                f"case {case}: non-simple shell"
            )
            for h in p.data[1:]:
                assert len(_ring_loops(np.asarray(h))) == 1
        # parts' interiors disjoint: each part's interior point is in no
        # other part
        if len(parts) > 1:
            from pygeoops_spark.geom.overlay import _loop_interior_point

            for i, p in enumerate(parts):
                rep = _loop_interior_point(np.asarray(p.data[0]))
                for j, q in enumerate(parts):
                    if i != j:
                        assert not points_in_polygon(
                            np.array([rep[0]]), np.array([rep[1]]), q
                        )[0], f"case {case}: overlapping parts"

        # 2. membership parity vs the independent winding oracle
        probes = rng.uniform(-0.5, 10.5, (40, 2))
        for px, py in probes:
            if _dist_to_edges(px, py, ring) < 1e-6:
                continue
            want = _winding_number(px, py, ring) != 0
            got = _point_in_output(px, py, parts)
            assert got == want, (
                f"case {case}: probe ({px}, {py}) winding mismatch "
                f"(want {want}) ring={pts.tolist()}"
            )
            checked_probes += 1
    assert checked_probes > 30000  # the sweep actually ran


def test_make_valid_self_touch_annulus():
    """A hole encoded into the shell ring by self-touching (outer CCW,
    bridge, inner CW) becomes a polygon with an interior ring."""
    from pygeoops_spark.geom import wkt_dumps, wkt_loads
    from pygeoops_spark.geom.validity import make_valid

    g = wkt_loads(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0, 2 2, 2 8, 8 8, 8 2, 2 2, 0 0))"
    )
    out = make_valid(g)
    assert out.geom_type == "POLYGON"
    assert len(out.data) == 2  # shell + hole
    assert polygon_area(out) == pytest.approx(100 - 36)


def test_make_valid_island_in_self_touch_hole():
    """A CCW loop nested inside the CW hole loop (winding 0 -> 1 again)
    becomes a separate polygon part."""
    from pygeoops_spark.geom import wkt_loads
    from pygeoops_spark.geom.validity import make_valid
    from pygeoops_spark.geom.wkb import get_parts

    g = wkt_loads(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0, 2 2, 2 8, 8 8, 8 2, 2 2, "
        "0 0, 4 4, 6 4, 6 6, 4 6, 4 4, 0 0))"
    )
    out = make_valid(g)
    parts = get_parts(out)
    assert len(parts) == 2
    areas = sorted(polygon_area(p) for p in parts)
    assert areas[0] == pytest.approx(4)  # the island
    assert areas[1] == pytest.approx(64)  # annulus 100 - 36


def test_make_valid_pentagram_nonzero():
    """Pentagram ring: the doubly-wound centre pentagon stays covered
    (nonzero rule; area = full star, not the even-odd outline)."""
    import math

    from pygeoops_spark.geom import polygon
    from pygeoops_spark.geom.validity import make_valid

    pts = [
        (math.cos(math.radians(90 + 144 * i)), math.sin(math.radians(90 + 144 * i)))
        for i in range(5)
    ]
    out = make_valid(polygon(pts))
    # exact identity: shoelace of the star ring = 2x centre pentagon
    # + 1x each point triangle, so the nonzero-covered area equals
    # shoelace - pentagon-core.  The core's circumradius is
    # cos(2pi/5)/cos(pi/5) at angles 90 + 36 + 72k degrees.
    from pygeoops_spark.geom.kernels import ring_signed_area

    ring = np.array(pts + [pts[0]])
    r_core = math.cos(2 * math.pi / 5) / math.cos(math.pi / 5)
    core = np.array(
        [
            (
                r_core * math.cos(math.radians(90 + 36 + 72 * i)),
                r_core * math.sin(math.radians(90 + 36 + 72 * i)),
            )
            for i in range(5)
        ]
    )
    core = np.vstack([core, core[:1]])
    expected = abs(ring_signed_area(ring)) - abs(ring_signed_area(core))
    assert polygon_area(out) == pytest.approx(expected, rel=1e-6)


# -- linework / non-polygon inputs (reference tests/test_general.py:
# 447-505: GEOS MakeValid semantics via _general.py:419-479) ----------


def test_make_valid_linestring_selfcross_unchanged():
    """Self-intersection is non-SIMPLICITY, not invalidity: GEOS
    MakeValid returns a self-crossing LineString unchanged."""
    from pygeoops_spark.geom.wkb import LINESTRING

    line = wkt_loads("LINESTRING (0 0, 10 10, 10 0, 0 10)")
    out = make_valid(line)
    assert out.type_id == LINESTRING
    assert np.array_equal(np.asarray(out.data), np.asarray(line.data))


def test_make_valid_degenerate_linestring_collapse():
    """LINESTRING (1 1, 1 1): keep_collapsed=True -> POINT (1 1);
    keep_collapsed=False -> dropped (None)."""
    from pygeoops_spark.geom.wkb import POINT

    line = wkt_loads("LINESTRING (1 1, 1 1)")
    out = make_valid(line, keep_collapsed=True)
    assert out.type_id == POINT
    assert list(out.data[:2]) == [1.0, 1.0]
    assert make_valid(line, keep_collapsed=False) is None


def test_make_valid_multilinestring_mixed_collapse():
    """Reference fixture LINESTRING_INVALID_2_COLLAPSING_POINT
    (tests/test_general.py:29-34, used at :485-505): a MultiLineString
    of a real line + a zero-length line -> GeometryCollection(LineString,
    Point) when keeping collapses, plain LineString when dropping."""
    from pygeoops_spark.geom.wkb import GEOMETRYCOLLECTION, LINESTRING, POINT, get_parts

    mls = wkt_loads("MULTILINESTRING ((0 0, 5 0, 10 0), (1 1, 1 1))")
    out = make_valid(mls, keep_collapsed=True)
    assert out.type_id == GEOMETRYCOLLECTION
    types = sorted(p.type_id for p in get_parts(out))
    assert types == [POINT, LINESTRING]

    out2 = make_valid(mls, keep_collapsed=False)
    assert out2.type_id == LINESTRING
    assert len(np.asarray(out2.data)) == 3


def test_make_valid_multilinestring_all_valid_unchanged():
    from pygeoops_spark.geom.wkb import MULTILINESTRING

    mls = wkt_loads("MULTILINESTRING ((0 0, 5 0), (1 1, 2 2, 3 1))")
    out = make_valid(mls)
    assert out.type_id == MULTILINESTRING
    assert len(out.data) == 2


def test_make_valid_geometrycollection_recurses():
    """Collection parts are repaired independently; container kept."""
    from pygeoops_spark.geom.wkb import (
        GEOMETRYCOLLECTION,
        MULTIPOLYGON as MP,
        POINT,
        get_parts,
    )

    gc = wkt_loads(
        "GEOMETRYCOLLECTION (POLYGON ((0 0, 10 10, 10 0, 0 10, 0 0)), "
        "LINESTRING (3 3, 3 3), POINT (7 7))"
    )
    out = make_valid(gc, keep_collapsed=True)
    assert out.type_id == GEOMETRYCOLLECTION
    parts = get_parts(out)
    assert len(parts) == 3
    # bowtie polygon repaired into a 2-part MultiPolygon
    assert parts[0].type_id == MP
    assert polygon_area(parts[0]) == pytest.approx(50.0)
    # degenerate line collapsed to its point
    assert parts[1].type_id == POINT
    assert parts[2].type_id == POINT


def test_make_valid_point_multipoint_passthrough():
    from pygeoops_spark.geom.wkb import MULTIPOINT, POINT

    pt = wkt_loads("POINT (3 4)")
    assert make_valid(pt).type_id == POINT
    mp = wkt_loads("MULTIPOINT ((0 0), (1 1))")
    assert make_valid(mp).type_id == MULTIPOINT


def test_make_valid_collection_only_if_invalid_fast_path():
    """only_if_invalid must propagate into GEOMETRYCOLLECTION parts: an
    already-valid multipolygon inside a collection comes back untouched
    (same part order), not area-reordered by the arrangement repair
    (reference fast path _general.py:446-458)."""
    import numpy as np

    from pygeoops_spark.geom import polygon
    from pygeoops_spark.geom.validity import make_valid
    from pygeoops_spark.geom.wkb import GEOMETRYCOLLECTION, get_parts, multi, MULTIPOLYGON

    small = polygon([(0, 0), (1, 0), (1, 1), (0, 1)])
    big = polygon([(10, 0), (30, 0), (30, 20), (10, 20)])
    # small FIRST: an area-ordering repair would put big first
    mp = multi(MULTIPOLYGON, [small, big])
    gc = multi(GEOMETRYCOLLECTION, [mp])
    out = make_valid(gc, only_if_invalid=True)
    [out_mp] = get_parts(out)
    parts = get_parts(out_mp)
    assert len(parts) == 2
    np.testing.assert_array_equal(
        np.asarray(parts[0].data[0]), np.asarray(small.data[0])
    )
    np.testing.assert_array_equal(
        np.asarray(parts[1].data[0]), np.asarray(big.data[0])
    )


@pytest.mark.parametrize("only_if_invalid", [False, True])
def test_make_valid_nodes_each_shell_once(monkeypatch, only_if_invalid):
    """A shell ring is self-noded once per make_valid: the validity
    check (only_if_invalid), the loop split and the nonzero region all
    read that one edge array."""
    from pygeoops_spark.geom import validity

    calls = []
    real = validity._node_edges

    def spy(edges, others, *args):
        calls.append(len(edges))
        return real(edges, others, *args)

    monkeypatch.setattr(validity, "_node_edges", spy)
    bowtie = polygon([(0, 0), (4, 4), (4, 0), (0, 4)])
    out = make_valid(bowtie, only_if_invalid=only_if_invalid)
    assert polygon_area(out) == pytest.approx(8.0)
    assert calls == [4]
    calls.clear()
    square = polygon([(0, 0), (4, 0), (4, 4), (0, 4)])
    assert polygon_area(make_valid(square, only_if_invalid=only_if_invalid)) == 16.0
    assert calls == [4]


@pytest.mark.parametrize("only_if_invalid", [False, True])
def test_make_valid_splits_each_shell_into_loops_once(monkeypatch, only_if_invalid):
    """A shell's loops are walked once per make_valid: the validity check
    (only_if_invalid) and the repair read the same split."""
    from pygeoops_spark.geom import validity

    calls = []
    real = validity._noded_loops

    def spy(noded):
        calls.append(noded)
        return real(noded)

    monkeypatch.setattr(validity, "_noded_loops", spy)
    bowtie = polygon([(0, 0), (4, 4), (4, 0), (0, 4)])
    out = make_valid(bowtie, only_if_invalid=only_if_invalid)
    assert polygon_area(out) == pytest.approx(8.0)
    assert len(calls) == 1
