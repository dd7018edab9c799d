"""The overlay core (geom/overlay.py) is written once, and its results
decode for every coordinate layout.

* Site guard: the stitch walk's pinch-off, the blocked nearest-segment
  scan, the binary-op pipeline and the edge classifier each exist once;
  difference and intersection are rules over the core, and no
  coarse-grid retry reruns it.
* Z/M inputs: the overlay computes on x/y, so results are tagged ``xy``
  (GEOS would interpolate Z); before, a Z-tagged result carried 2-D
  coordinates and its WKB could not be decoded.
"""

import ast
import pathlib

import numpy as np
import pytest

from pygeoops_spark.geom import polygon
from pygeoops_spark.geom.difference import difference_all
from pygeoops_spark.geom.kernels import points_in_polygon, polygon_area
from pygeoops_spark.geom.overlay import (
    dissolve_partition,
    polygon_difference,
    polygon_intersection,
    polygon_union,
)
from pygeoops_spark.geom.validity import make_valid
from pygeoops_spark.geom.wkb import (
    LINESTRING,
    MULTIPOLYGON,
    POLYGON,
    multi,
    wkb_dumps,
    wkb_loads,
    wkt_dumps,
    wkt_loads,
)

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _calls(path: str) -> dict[str, int]:
    tree = ast.parse((ROOT / path).read_text())
    counts: dict[str, int] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            counts[name] = counts.get(name, 0) + 1
    return counts


def _function(path: str, name: str) -> ast.FunctionDef:
    tree = ast.parse((ROOT / path).read_text())
    return next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == name
    )


def test_overlay_repeats_exist_once():
    path = "pygeoops_spark/geom/overlay.py"
    calls = _calls(path)
    assert calls.get("point_segment_distance") == 1  # the one nearest-segment scan
    assert "_seg_intersections" not in (ROOT / path).read_text()
    # the one face walk: no stitch walk is left beside _winding_region,
    # and every polygon op reaches it
    tree = ast.parse((ROOT / path).read_text())
    defined = {n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}
    assert not {n for n in defined if n.startswith("_stitch")}
    # one arrangement decides every polygon op: no coarse-grid retry
    # reruns it on snapped inputs, and no op carries an area bound for one
    assert not defined & {"_snap_geometry", "_area_of", "_retry_on_coarse_grid", "_hull_area"}
    from pygeoops_spark.geom.overlay import _Rule

    assert _Rule._fields == ("keep", "b_empty_keeps_a")
    for fn in ("_binary_overlay", "dissolve_partition", "polygon_union"):
        assert "_winding_region" in _calls_in(path, fn), fn
    # tile seams cancel in that arrangement: the dissolve splits them
    # without the pairwise noding, keeps no interval sweep of its own,
    # and the tiler leaves its exact cut points as they are
    assert "_node_edges" not in _calls_in(path, "dissolve_partition")
    assert "defaultdict" not in {
        a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom) for a in n.names
    }
    grid_tree = ast.parse((ROOT / "pygeoops_spark/geom/grid.py").read_text())
    assert "_snap_to_cuts" not in {n.name for n in ast.walk(grid_tree) if isinstance(n, ast.FunctionDef)}
    assert "_winding_region" in _calls_in("pygeoops_spark/geom/validity.py", "_make_valid_polygon")
    for op in ("polygon_difference", "polygon_intersection"):
        body_calls = {
            getattr(n.func, "id", None)
            for n in ast.walk(_function(path, op))
            if isinstance(n, ast.Call)
        }
        assert body_calls == {"_binary_overlay"}, op


def _calls_in(path: str, fn: str) -> set:
    return {
        getattr(n.func, "id", getattr(n.func, "attr", None))
        for n in ast.walk(_function(path, fn))
        if isinstance(n, ast.Call)
    }


def test_edge_classification_exists_once():
    """_classify is the one line-and-point test: line_difference reaches
    it and re-tests nothing itself, and the point case of
    difference_all goes through line_difference. No polygon op samples
    an edge at all: their faces' winding numbers decide them (see
    test_face_winding_exists_once)."""
    path = "pygeoops_spark/geom/overlay.py"
    names = _calls_in(path, "line_difference")
    assert "_classify" in names
    assert not names & {"points_in_polygon", "_nearest_segment"}
    for fn in ("_binary_overlay", "polygon_union", "dissolve_partition"):
        assert not _calls_in(path, fn) & {"_classify", "points_in_polygon", "_nearest_segment"}, fn
    tree = ast.parse((ROOT / path).read_text())
    assert "_onb_verdict" not in {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
    imported = {
        a.name
        for n in ast.walk(ast.parse((ROOT / "pygeoops_spark/geom/difference.py").read_text()))
        if isinstance(n, (ast.Import, ast.ImportFrom))
        for a in n.names
    }
    assert "points_in_polygon" not in imported


def test_face_winding_exists_once():
    """The faces of a region are decided once, by
    overlay._winding_region: no other function under geom/ orders edges
    around a vertex by angle (view_angles sorts the bearings of its own
    coordinates around one viewpoint, not edges), make_valid's repair
    and polygon_union both read it, and polygon_union neither classifies
    edges nor stitches them."""
    walks = set()
    for file in sorted((ROOT / "pygeoops_spark/geom").glob("*.py")):
        for fn in ast.walk(ast.parse(file.read_text())):
            if isinstance(fn, ast.FunctionDef):
                names = {
                    getattr(n.func, "id", getattr(n.func, "attr", None))
                    for n in ast.walk(fn)
                    if isinstance(n, ast.Call)
                }
                sorts = names & {"sort", "sorted", "lexsort", "argsort"}
                if names & {"atan2", "arctan2"} and sorts:
                    walks.add((file.name, fn.name))
    assert walks == {("overlay.py", "_winding_region"), ("view_angles.py", "view_angles")}
    validity = "pygeoops_spark/geom/validity.py"
    assert "_nonzero_region" not in (ROOT / validity).read_text()
    assert "_winding_region" in _calls_in(validity, "_make_valid_polygon")
    assert "_make_valid_polygon" in _calls_in(validity, "make_valid")
    union = _calls_in("pygeoops_spark/geom/overlay.py", "polygon_union")
    assert "_winding_region" in union
    assert not union & {"_classify", "_nearest_segment", "points_in_polygon", "_stitch"}


def _spy_winding(monkeypatch):
    """Record every _winding_region call: (edges, snap, dirty, operand,
    keep), where ``dirty`` is None on the fast pass and the rows the
    clustered pass nodes again and clusters, and ``operand`` and
    ``keep`` are a binary op's labels and face rule, None for a
    single-operand region (union, make_valid, dissolve)."""
    from pygeoops_spark.geom import overlay

    calls = []
    real = overlay._winding_region

    def spy(edges, snap, dirty=None, operand=None, keep=None):
        calls.append((edges, snap, dirty, operand, keep))
        return real(edges, snap, dirty, operand, keep)

    monkeypatch.setattr(overlay, "_winding_region", spy)
    return calls, real


def test_clustered_pass_matches_fast_pass(monkeypatch):
    """The clustered pass changes only what it merges. On every pinned
    union set whose arrangement raises no signal, the clustered pass
    over all of its edges gives the fast pass's exact area wherever it
    has nothing to merge (noding again adds no cut, no two cells lie
    within its 10-cell radius and no cell holds two distinct points);
    elsewhere every hole lies in its own shell and the area stays inside
    the 10*snap band over the edge length, on every set but one. Set 784
    is three copies of a hexagon jittered by up to 1.7e-8: its vertices'
    10-cell clusters chain across 17 cells, the clustered map is not
    planar, and the forced pass reads 3.7e-7 for 75.7. Its first
    arrangement raises no signal, so no polygon op clusters it."""
    from test_overlay_pins import _union_sets

    from pygeoops_spark.geom.exact import exact_area, hole_nesting_faults
    from pygeoops_spark.geom.overlay import _near_pairs, _node_edges, _rings_to_polygons

    calls, real = _spy_winding(monkeypatch)
    idle, far = 0, []
    for k, polys in enumerate(_union_sets()):
        calls.clear()
        polygon_union(polys)
        if len(calls) != 1:
            continue  # a signal fired
        edges, snap, _, _, _ = calls[0]
        shells, holes = real(edges, snap)
        fast = _rings_to_polygons(shells + holes, snap)
        shells, holes = real(edges, snap, np.ones(len(edges), dtype=bool))
        clustered = _rings_to_polygons(shells + holes, snap)
        gap = abs(exact_area(clustered) - exact_area(fast))
        points = np.unique(edges.reshape(-1, 2), axis=0)
        cells = np.unique(np.round(points / snap).astype(np.int64), axis=0)
        renoded = _node_edges(edges, edges, snap)
        if len(cells) == len(points) and not len(_near_pairs(cells, 10)[0]) and np.array_equal(renoded, edges):
            assert gap == 0
            idle += 1
        else:
            assert hole_nesting_faults(clustered) == []
            length = np.hypot(edges[:, 2] - edges[:, 0], edges[:, 3] - edges[:, 1]).sum()
            if gap > 10 * snap * length:
                far.append(k)
    assert idle and far == [784]


def test_bench_buffer_unions_take_the_fast_pass(monkeypatch):
    """The 200 bench-shaped buffer_by_m unions (bench.py's M-lines) are
    decided by the first arrangement: no clustered pass."""
    from pygeoops_spark.geom.buffer_by_m import buffer_by_m

    calls, _ = _spy_winding(monkeypatch)
    for i in range(200):
        x0, y0 = (i % 512) * 300.0, (i // 512 % 512) * 300.0
        pts = ", ".join(f"{x0 + v * 20} {y0 + (v % 2) * 10} {1.0 + (i + v) % 5}" for v in range(7))
        assert polygon_area(buffer_by_m(wkt_loads(f"LINESTRING M ({pts})"))) > 0
    assert len(calls) == 200
    assert all(dirty is None and operand is None for _, _, dirty, operand, _ in calls)


def test_union_of_parcels_a_nanometre_apart():
    """Two parcels whose shared edge is offset by 1e-9 share no node,
    so they are two components of the arrangement, and the second one's
    corner lies on the first one's bottom edge: a contact no node
    records, where a winding taken at that corner is not defined. The
    contact signal sends it to the clustered pass, which merges the near
    nodes without moving them: area exactly 234, one polygon."""
    a = wkt_loads("POLYGON((0 0,13 0,15 13,0 13,0 0))")
    b = wkt_loads("POLYGON((12.999999999 0,18 0,18 13,14.999999999 13,12.999999999 0))")
    for polys in ([a, b], [b, a]):
        got = polygon_union(polys)
        assert polygon_area(got) == 234.0
        assert got.type_id == POLYGON


def test_symdiff_halves_union_on_the_clustered_pass(monkeypatch):
    """A triangle A and a neighbour B jittered 1e-9 off their shared
    edge. A - B is non-simple at its corners, so the contact signal
    names it alone, and its merged edge then lies on B - A, 1e-9 away
    and unnamed: B - A's outer face took that edge's winding and
    vanished (the union read 1.449999998). The clustered pass's own
    contact signal now names B - A too, and the pass runs again with
    it: the union the outermost arrangement returns reads 2.1."""
    from pygeoops_spark.geom import overlay
    from pygeoops_spark.geom.kernels import ring_signed_area

    a = wkt_loads("POLYGON((0 1, 0.1 0, 3 0, 0 1))")
    b = wkt_loads("POLYGON((2.999999999 0, 1 1.1, 0 0.999999999, 2.999999999 0))")
    halves = [polygon_difference(a, b), polygon_difference(b, a)]
    real, depth, passes, top = overlay._winding_region, [], [], []

    def spy(edges, snap, dirty=None, operand=None, keep=None):
        passes.append(dirty is not None)
        depth.append(None)
        out = real(edges, snap, dirty, operand, keep)
        depth.pop()
        if not depth:
            top.append(out)
        return out

    monkeypatch.setattr(overlay, "_winding_region", spy)
    got = polygon_union(halves)
    assert abs(polygon_area(got) - 2.1) <= 1e-8
    # polygon_union's first arrangement went through a clustered pass,
    # and its rings (shells CCW, holes CW) already hold the union;
    # nothing reruns the op
    shells, holes = top[0]
    assert any(passes) and abs(sum(ring_signed_area(r) for r in shells + holes) - 2.1) <= 1e-8
    assert len(top) == 1


def test_near_vertices_of_a_densified_column_stay_linear(monkeypatch):
    """A straight edge densified into 20,000 vertices (one x for all)
    goes through polygon_union and make_valid, and the near-vertex
    search behind the contact signal and the node clusters expands at
    most 3 * (radius + 1)**2 candidates per vertex: bucketed by x, a
    column does not make every vertex a candidate of every other one."""
    from pygeoops_spark.geom import overlay

    expanded = []
    real_ranges = overlay._ranges

    def spy(lo, hi):
        out = real_ranges(lo, hi)
        expanded.append(len(out[0]))
        return out

    monkeypatch.setattr(overlay, "_ranges", spy)
    ys = np.linspace(0.0, 10.0, 20_000)
    column = [(0.0, y) for y in ys[::-1]]
    a = polygon([(5.0, 0.0), (5.0, 10.0)] + column)
    b = polygon([(4.0, 2.0), (6.0, 2.0), (6.0, 8.0), (4.0, 8.0)])
    assert polygon_area(polygon_union([a, b])) == pytest.approx(50.0 + 6.0)
    bowtie = polygon([(0.0, 10.0), (10.0, 0.0), (10.0, 10.0), (0.0, 0.0)] + column[::-1][1:-1])
    assert polygon_area(make_valid(bowtie)) == pytest.approx(50.0)
    expanded.clear()
    cells = np.stack([np.zeros(20_000, dtype=np.int64), np.arange(20_000) * 7], axis=1)
    i, j = overlay._near_pairs(cells, 16)
    assert sum(expanded) <= 3 * 17**2 * len(cells)
    pairs = sorted(zip(i.tolist(), j.tolist()))
    assert pairs == sorted([(k, k + 1) for k in range(19_999)] + [(k, k + 2) for k in range(19_998)])


@pytest.mark.parametrize("op", [polygon_difference, polygon_intersection])
def test_binary_ops_run_no_point_in_polygon_test(op, monkeypatch):
    """Two unit squares overlapping by half: each one's bottom and top
    edge is cut once at the other's corner, so 6 + 6 noded edges, and
    no edge is tested against the other square: the faces' two winding
    counts decide the result (the edge classifier tested 12 midpoints
    here)."""
    from pygeoops_spark.geom import overlay

    tested = []

    def spy(px, py, poly):
        tested.append(len(px))
        return points_in_polygon(px, py, poly)

    monkeypatch.setattr(overlay, "points_in_polygon", spy)
    a = polygon([(0, 0), (1, 0), (1, 1), (0, 1)])
    b = polygon([(0.5, 0), (1.5, 0), (1.5, 1), (0.5, 1)])
    assert polygon_area(op(a, b)) == pytest.approx(0.5)
    assert sum(tested) == 0


_NAN_VERTEX = polygon([(0, 0), (10, 0), (np.nan, 10), (0, 10)])
_OVER_IT = polygon([(5, -5), (15, -5), (15, 15), (5, 15)])


@pytest.mark.parametrize(
    "op",
    [
        lambda: polygon_union([_NAN_VERTEX, _OVER_IT]),
        lambda: dissolve_partition([_NAN_VERTEX, _OVER_IT]),
        lambda: polygon_intersection(_NAN_VERTEX, _OVER_IT),
        lambda: difference_all(_NAN_VERTEX, [_OVER_IT]),
        lambda: polygon_difference(_OVER_IT, _NAN_VERTEX),
    ],
    ids=["polygon_union", "dissolve_partition", "polygon_intersection", "difference_all", "polygon_difference"],
)
def test_overlay_refuses_a_non_finite_vertex(op):
    """A NaN vertex raises the ValueError that names it: the union and
    the dissolve used to return the other operand alone, the
    intersection and difference_all None, and the difference all of
    the other operand."""
    with pytest.raises(ValueError, match=r"vertex 2 is not finite: \(nan, 10\.0\)"):
        op()


_COLLAPSED = wkt_loads("POLYGON ((1 1, 1 1, 1 1, 1 1))")
_TEN = polygon([(0, 0), (10, 0), (10, 10), (0, 10)])


@pytest.mark.parametrize(
    "op,area",
    [
        (lambda: polygon_difference(_TEN, _COLLAPSED), 100.0),
        (lambda: polygon_intersection(_TEN, _COLLAPSED), None),
        (lambda: difference_all(_TEN, [_COLLAPSED]), 100.0),
        (lambda: polygon_difference(_COLLAPSED, _TEN), None),
        (lambda: polygon_intersection(_COLLAPSED, _TEN), None),
    ],
    ids=["difference", "intersection", "difference_all", "difference_of_collapsed", "intersection_of_collapsed"],
)
def test_operand_collapsed_to_a_point_covers_nothing(op, area):
    """A polygon whose ring repeats one point has no edge once
    zero-length edges are dropped: as a subtrahend it leaves A whole,
    and it intersects nothing (as B the difference raised IndexError,
    its edges carrying no operand label)."""
    got = op()
    assert (got is None) if area is None else polygon_area(got) == area


def test_overlay_edge_set_is_one_array():
    """An edge set in the overlay core is one (n, 4) array from ring to
    stitcher: no tuple-list converters or array side-parameters remain."""
    for path in ("pygeoops_spark/geom/overlay.py", "pygeoops_spark/geom/validity.py"):
        src = (ROOT / path).read_text()
        for gone in ("_edges_arrays", "_seg_array", "edges_arr", "others_arr", "noded_segs"):
            assert gone not in src, (path, gone)
    args = [a.arg for a in _function("pygeoops_spark/geom/overlay.py", "_node_edges").args.args]
    assert args == ["edges", "others", "snap"]


def test_hole_nesting_exists_once():
    """Holes are nested by one function, overlay._assemble_polygons,
    for overlay results and make_valid alike: validity.py keeps no
    loop classifier or interior-point helper of its own, and no other
    function tests points against a polygon it builds from one ring
    (the shape of a "which shell holds this point" loop)."""
    pickers = set()
    for path in ("pygeoops_spark/geom/overlay.py", "pygeoops_spark/geom/validity.py"):
        tree = ast.parse((ROOT / path).read_text())
        defined = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
        if path.endswith("validity.py"):
            assert not defined & {"_classify_loops", "_loop_interior_point"}
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            calls = [n for n in ast.walk(fn) if isinstance(n, ast.Call)]
            names = {getattr(c.func, "id", getattr(c.func, "attr", None)) for c in calls}
            builds_ring_polygon = any(
                getattr(c.func, "id", None) == "Geometry"
                and getattr(c.args[0], "id", None) == "POLYGON"
                and isinstance(c.args[1], ast.List)
                for c in calls
                if len(c.args) >= 2
            )
            if "points_in_polygon" in names and builds_ring_polygon:
                pickers.add(fn.name)
    assert pickers == {"_assemble_polygons", "_loop_interior_point"}
    assert _calls("pygeoops_spark/geom/validity.py").get("_assemble_polygons") == 1
    assert _calls("pygeoops_spark/geom/overlay.py").get("_assemble_polygons") == 1


def test_geodesic_shooting_root_finder_once():
    path = "pygeoops_spark/geom/geodesic.py"
    calls = _calls(path)
    assert calls.get("linspace") == 1  # one azimuth bracket grid
    src = (ROOT / path).read_text()
    for gone in ("_rk4_geodesic_vec", "_shoot_crossing", "_shoot_inverse", "_edge_area_shoot"):
        assert gone not in src
    # the geodesic ODE's azimuth equation d(alpha)/ds = sin(alpha)
    # tan(phi) / N is the one place the engine would call tan: only the
    # tests' ground truth may step the ODE, and nothing in the engine
    # may call it
    steppers = set()
    for file in sorted((ROOT / "pygeoops_spark").rglob("*.py")):
        tree = ast.parse(file.read_text())
        body = tree.body + [m for c in tree.body if isinstance(c, ast.ClassDef) for m in c.body]
        for fn in body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Call):
                    name = getattr(node.func, "id", getattr(node.func, "attr", None))
                    if name == "tan":
                        steppers.add((file.relative_to(ROOT).as_posix(), fn.name))
                    assert name != "geodesic_ode_path", file
    assert steppers == {(path, "geodesic_ode_path")}


def test_session_aqe_settings_are_constants():
    src = (ROOT / "pygeoops_spark/session.py").read_text()
    assert "SPARK_GRAFT_AQE_PARALLELISM_FIRST" not in src
    assert "SPARK_GRAFT_ADVISORY_PARTITION" not in src


def _lift(g, dims):
    """g with a constant third ordinate, tagged ``dims``."""
    rings = [np.column_stack([np.asarray(r), np.full(len(r), 7.0)]) for r in g.data]
    return polygon(rings[0], rings[1:], dims=dims)


_A = polygon([(0, 0), (4, 0), (4, 4), (0, 4)])
_B = polygon([(2, 2), (6, 2), (6, 6), (2, 6)])
_FAR = polygon([(10, 10), (11, 10), (11, 11)])
_BOWTIE = polygon([(0, 0), (4, 4), (4, 0), (0, 4)])
_TILES = [
    polygon([(0, 0), (2, 0), (2, 2), (0, 2)]),
    polygon([(2, 0), (4, 0), (4, 2), (2, 2)]),
]

_OPS = {
    "polygon_difference": lambda a, b, far, bow, tiles: polygon_difference(a, b),
    "polygon_intersection": lambda a, b, far, bow, tiles: polygon_intersection(a, b),
    "polygon_union": lambda a, b, far, bow, tiles: polygon_union([a, b]),
    "dissolve_partition": lambda a, b, far, bow, tiles: dissolve_partition(tiles),
    "make_valid": lambda a, b, far, bow, tiles: make_valid(bow),
    "make_valid_multipolygon": lambda a, b, far, bow, tiles: make_valid(
        multi(MULTIPOLYGON, [bow, far])
    ),
    "difference_all": lambda a, b, far, bow, tiles: difference_all(a, [b]),
    "difference_all_disjoint": lambda a, b, far, bow, tiles: difference_all(a, [far]),
}


@pytest.mark.parametrize("dims", ["xyz", "xym"])
@pytest.mark.parametrize("op", sorted(_OPS))
def test_zm_inputs_round_trip(op, dims):
    flat = _OPS[op](_A, _B, _FAR, _BOWTIE, _TILES)
    lifted = [_lift(g, dims) for g in (_A, _B, _FAR, _BOWTIE)]
    got = _OPS[op](*lifted, [_lift(t, dims) for t in _TILES])
    assert got.dims == "xy"
    for back in (wkb_loads(wkb_dumps(got)), wkt_loads(wkt_dumps(got))):
        assert back.dims == "xy"
        assert back.type_id == flat.type_id
        assert polygon_area(back) == pytest.approx(polygon_area(flat))
    assert wkb_dumps(got) == wkb_dumps(flat)


def test_pass_through_keeps_z():
    # results that are an input as-is keep its coordinates and tag
    z = _lift(_A, "xyz")
    for got in (make_valid(z), polygon_union([z]), difference_all(z, [])):
        assert got.dims == "xyz"
        assert wkb_dumps(wkb_loads(wkb_dumps(got))) == wkb_dumps(z)


def test_make_valid_collapsed_z_line_keeps_its_point():
    from pygeoops_spark.geom.wkb import linestring

    got = make_valid(linestring([(1.0, 2.0, 3.0), (1.0, 2.0, 5.0)]))
    assert got.dims == "xyz"
    assert wkt_loads(wkt_dumps(wkb_loads(wkb_dumps(got)))).data.tolist() == [1.0, 2.0, 3.0]


def test_difference_all_col_z_row(spark):
    from pyspark.sql import functions as F

    from pygeoops_spark.operators.difference import difference_all_col

    df = spark.createDataFrame(
        [(1, wkb_dumps(_lift(_A, "xyz")))], "id long, wkb binary"
    )
    row = df.select(
        difference_all_col(F.col("wkb"), [wkb_dumps(_lift(_B, "xyz"))]).alias("d")
    ).collect()[0]
    got = wkb_loads(bytes(row.d))
    assert got.dims == "xy"
    assert polygon_area(got) == pytest.approx(polygon_area(polygon_difference(_A, _B)))


_SQUARE = polygon([(0, 0), (10, 0), (10, 10), (0, 10)])
# a Z line across the square, a Z line that misses it, an M line across
_ZM_LINES = {
    "LINESTRING Z (-5 5 1, 15 5 2)": [[(-5, 5), (0, 5)], [(10, 5), (15, 5)]],
    "LINESTRING Z (-5 15 1, 15 15 2)": [[(-5, 15), (15, 15)]],
    "LINESTRING M (-5 5 1, 15 5 2)": [[(-5, 5), (0, 5)], [(10, 5), (15, 5)]],
}


def _chains(g):
    return [np.asarray(p.data).tolist() for p in ([g] if g.type_id == LINESTRING else g.data)]


@pytest.mark.parametrize("tiled", [False, True])
@pytest.mark.parametrize("wkt", sorted(_ZM_LINES))
def test_zm_line_difference_decodes(wkt, tiled):
    """The pieces of a line cut by a polygon are 2-D, so they are
    tagged xy (as polygon results are); tagged with the input's Z or M
    their WKB could not be decoded, whether the line crossed the
    subtrahend or missed it."""
    from pygeoops_spark.geom.difference import difference_all_tiled

    line = wkt_loads(wkt)
    got = (
        difference_all_tiled(line, [_SQUARE], subdivide_coords=2)
        if tiled
        else difference_all(line, [_SQUARE])
    )
    back = wkb_loads(wkb_dumps(got))
    # the tiled op hands back a tile that misses the subtrahend's bbox
    # untouched, Z included
    assert back.dims == ("xyz" if tiled and "15 15" in wkt else "xy")
    assert [[p[:2] for p in c] for c in _chains(back)] == [
        [list(p) for p in c] for c in _ZM_LINES[wkt]
    ]


def test_zm_line_difference_col_row(spark):
    from pyspark.sql import functions as F

    from pygeoops_spark.operators.difference import difference_all_col

    wkt = "LINESTRING Z (-5 5 1, 15 5 2)"
    df = spark.createDataFrame([(1, wkb_dumps(wkt_loads(wkt)))], "id long, wkb binary")
    row = df.select(difference_all_col(F.col("wkb"), [wkb_dumps(_SQUARE)]).alias("d")).collect()[0]
    got = wkb_loads(bytes(row.d))
    assert got.dims == "xy"
    assert _chains(got) == [[list(p) for p in c] for c in _ZM_LINES[wkt]]


def test_wkb_refuses_coordinates_narrower_than_dims():
    from pygeoops_spark.geom.wkb import Geometry

    with pytest.raises(ValueError, match="'xyz'"):
        wkb_dumps(Geometry(LINESTRING, np.array([[0.0, 0.0], [1.0, 1.0]]), "xyz"))
    ring = np.array([[0.0, 0.0, 1.0], [1.0, 0.0, 1.0], [1.0, 1.0, 1.0], [0.0, 0.0, 1.0]])
    with pytest.raises(ValueError, match="'xy'"):
        wkb_dumps(Geometry(POLYGON, [ring], "xy"))
