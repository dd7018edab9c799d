"""Every exported scalar geometry kernel over a set of degenerate
inputs: null, the empties, flat and backtracking lines, flat, bow-tie,
repeated-vertex, collapsed and spike polygons, touching and far holes,
tiny and huge squares, a Z polygon, overlapping multipolygon parts, a
mixed collection, M-lines and a NaN vertex. The polygon ops that take
a second operand also run with each input as that operand, a square
as the first.

A call passes on a result that round-trips through WKB (a geometry, or
a list or tuple of them, numbers allowed alongside), on None, or on a
ValueError with a message. Null goes only into kernels whose signature
admits None for the geometry argument.
"""

from __future__ import annotations

import inspect
import numbers

import numpy as np
import pytest

import pygeoops_spark
from pygeoops_spark.geom import polygon
from pygeoops_spark.geom.overlay import polygon_difference, polygon_intersection
from pygeoops_spark.geom.wkb import Geometry, wkb_dumps, wkb_loads, wkt_loads

_SQUARE = wkt_loads("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")

# kernel -> (name of its geometry argument, call on one input)
_KERNELS = {
    "centerline": ("geom", lambda f, g: f(g)),
    "average_width": ("geom", lambda f, g: f(g)),
    "compactness": ("geom", lambda f, g: f(g)),
    "simplify": ("geom", lambda f, g: f(g, 1.0)),
    "simplify_geometry": ("geom", lambda f, g: f(g, 1.0)),
    "simplify_linestring": ("linestring", lambda f, g: f(g, 1.0)),
    "simplify_polygon": ("polygon", lambda f, g: f(g, 1.0)),
    "buffer_by_m": ("geometry", lambda f, g: f(g)),
    "view_angles": ("visible", lambda f, g: f((-5.0, -5.0), g)),
    "difference_all": ("geometry", lambda f, g: f(g, [_SQUARE])),
    "difference_all_tiled": ("geometry", lambda f, g: f(g, [_SQUARE], subdivide_coords=4)),
    "extend_line_by_distance": ("line", lambda f, g: f(g, 1.0, 1.0)),
    "extend_line_to_geometry": ("line", lambda f, g: f(g, _SQUARE)),
    "collect": ("geometries", lambda f, g: f([g, _SQUARE])),
    "collection_extract": ("geom", lambda f, g: f(g, 3)),
    "get_parts_recursive": ("geom", lambda f, g: f(g)),
    "remove_inner_rings": ("geom", lambda f, g: f(g, 1.0)),
    "subdivide": ("geom", lambda f, g: f(g, 4)),
    "make_valid": ("geom", lambda f, g: f(g)),
    "explode": ("geom", lambda f, g: f(g)),
    "polygon_union": ("polys", lambda f, g: f([g, _SQUARE])),
    "dissolve_partition": ("polys", lambda f, g: f([g, _SQUARE])),
    "polygon_area_ellipsoidal": ("geom", lambda f, g: f(g)),
    "get_primitivetype_id": ("geom", lambda f, g: f(g)),
}

_WKT = {
    "point_empty": "POINT EMPTY",
    "line_empty": "LINESTRING EMPTY",
    "polygon_empty": "POLYGON EMPTY",
    "multipolygon_empty": "MULTIPOLYGON EMPTY",
    "collection_empty": "GEOMETRYCOLLECTION EMPTY",
    "line_horizontal": "LINESTRING (0 5, 3 5, 6 5, 9 5, 12 5, 15 5)",
    "line_vertical": "LINESTRING (5 0, 5 3, 5 6, 5 9, 5 12, 5 15)",
    "line_zero_length": "LINESTRING (1 1, 1 1)",
    "line_backtracking": "LINESTRING (0 0, 10 0, 5 0)",
    "polygon_flat": "POLYGON ((0 0, 5 0, 10 0, 0 0))",
    "polygon_bowtie": "POLYGON ((0 0, 10 10, 10 0, 0 10, 0 0))",
    "polygon_repeated_vertex": "POLYGON ((0 0, 10 0, 10 0, 10 10, 0 10, 0 0))",
    "polygon_collapsed": "POLYGON ((1 1, 1 1, 1 1, 1 1))",
    "polygon_spike": "POLYGON ((0 0, 10 0, 10 10, 5 10, 5 20, 5 10, 0 10, 0 0))",
    "polygon_touching_hole": "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (0 5, 5 2, 5 8, 0 5))",
    "polygon_far_hole": "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (20 20, 25 20, 25 25, 20 25, 20 20))",
    "square_1e-12": "POLYGON ((0 0, 1e-12 0, 1e-12 1e-12, 0 1e-12, 0 0))",
    "square_1e15": "POLYGON ((0 0, 1e15 0, 1e15 1e15, 0 1e15, 0 0))",
    "polygon_z": "POLYGON Z ((0 0 1, 10 0 2, 10 10 3, 0 10 4, 0 0 1))",
    "multipolygon_overlapping": "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0)), ((5 5, 15 5, 15 15, 5 15, 5 5)))",
    "collection_mixed": "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 5 5), POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)))",
    "line_m": "LINESTRING M (0 0 1, 10 0 2, 20 5 1)",
    "line_m_zero": "LINESTRING M (0 0 0, 10 0 0, 20 5 0)",
    "line_m_repeated": "LINESTRING M (0 0 1, 0 0 1, 10 0 2)",
}


def _inputs() -> dict[str, Geometry | None]:
    out: dict[str, Geometry | None] = {"null": None}
    out.update({k: wkt_loads(v) for k, v in _WKT.items()})
    out["polygon_nan_vertex"] = polygon([(0, 0), (10, 0), (np.nan, 10), (0, 10)])
    return out


_INPUTS = _inputs()


# op -> (the op, name of its second operand, call with the square as
# the first operand and one input as the second)
_SECOND_OPERAND = {
    "polygon_difference": (polygon_difference, "b", lambda f, g: f(_SQUARE, g)),
    "polygon_intersection": (polygon_intersection, "b", lambda f, g: f(_SQUARE, g)),
    "difference_all": (pygeoops_spark.difference_all, "geometries_to_subtract", lambda f, g: f(_SQUARE, g)),
    "difference_all_tiled": (
        pygeoops_spark.difference_all_tiled,
        "geometries_to_subtract",
        lambda f, g: f(_SQUARE, g, subdivide_coords=4),
    ),
}


def _admits_none(fn, arg: str) -> bool:
    return "None" in str(inspect.signature(fn).parameters[arg].annotation)


_CASES = [
    (kernel, name)
    for kernel in _KERNELS
    for name in _INPUTS
    if name != "null" or _admits_none(getattr(pygeoops_spark, kernel), _KERNELS[kernel][0])
]

_SECOND_CASES = [
    (op, name)
    for op, (fn, arg, _) in _SECOND_OPERAND.items()
    for name in _INPUTS
    if name != "null" or _admits_none(fn, arg)
]


def _round_trips(result) -> bool:
    if result is None or isinstance(result, (numbers.Number, np.number)):
        return True
    if isinstance(result, Geometry):
        data = wkb_dumps(result)
        return wkb_dumps(wkb_loads(data)) == data
    if isinstance(result, (list, tuple)):
        return all(_round_trips(r) for r in result)
    return False


@pytest.mark.parametrize("kernel,name", _CASES)
def test_degenerate_input(kernel, name):
    fn = getattr(pygeoops_spark, kernel)
    try:
        result = _KERNELS[kernel][1](fn, _INPUTS[name])
    except ValueError as exc:
        assert str(exc), (kernel, name)
        return
    assert _round_trips(result), (kernel, name, result)


@pytest.mark.parametrize("op,name", _SECOND_CASES)
def test_degenerate_second_operand(op, name):
    fn, _, call = _SECOND_OPERAND[op]
    try:
        result = call(fn, _INPUTS[name])
    except ValueError as exc:
        assert str(exc), (op, name)
        return
    assert _round_trips(result), (op, name, result)


def test_sweep_covers_the_kernels():
    """24 kernels over 26 inputs, and 4 polygon ops with each input as
    the second operand; null only where the signature takes it."""
    assert len(_KERNELS) == 24 and len(_INPUTS) == 26
    assert all(k in pygeoops_spark._EXPORTS for k in _KERNELS)
    nulls = {k for k, n in _CASES if n == "null"}
    assert "centerline" in nulls and "extend_line_by_distance" not in nulls
    assert {k for k, n in _SECOND_CASES if n == "null"} == {"difference_all", "difference_all_tiled"}
