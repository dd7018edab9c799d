"""The overlay core (geom/overlay.py) is written once, and its results
decode for every coordinate layout.

* Site guard: the coarse-grid snap retry, the stitch walk's pinch-off,
  the blocked nearest-segment scan and the binary-op pipeline each
  exist once; difference and intersection are rules over the core.
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
from pygeoops_spark.geom.kernels import polygon_area
from pygeoops_spark.geom.overlay import (
    dissolve_partition,
    polygon_difference,
    polygon_intersection,
    polygon_union,
)
from pygeoops_spark.geom.validity import make_valid
from pygeoops_spark.geom.wkb import (
    MULTIPOLYGON,
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
    assert calls.get("_snap_geometry") == 1  # the one retry ladder
    assert calls.get("point_segment_distance") == 1  # the one nearest-segment scan
    assert calls.get("_classify") == 1  # the one binary pipeline
    assert "_seg_intersections" not in (ROOT / path).read_text()
    pinch = [
        n
        for n in ast.walk(ast.parse((ROOT / path).read_text()))
        if isinstance(n, ast.Delete)
        and any(
            isinstance(t, ast.Subscript) and getattr(t.value, "id", None) == "stack"
            for t in n.targets
        )
    ]
    assert len(pinch) == 1  # the one pinch-off
    for op in ("polygon_difference", "polygon_intersection"):
        body_calls = {
            getattr(n.func, "id", None)
            for n in ast.walk(_function(path, op))
            if isinstance(n, ast.Call)
        }
        assert body_calls == {"_binary_overlay"}, op


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
