"""Spark-layer geometry operator tests: simplify/view-angles UDFs and
the distributed difference pipeline vs single-node kernel results."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pygeoops_spark.geom import polygon as mk_poly, wkb_dumps, wkb_loads
from pygeoops_spark.geom.difference import difference_all_tiled
from pygeoops_spark.geom.kernels import polygon_area


def box(x0, y0, x1, y1):
    return mk_poly([(x0, y0), (x1, y0), (x1, y1), (x0, y1)])


def comb_polygon(n=60):
    ring = [(0.0, 0.0)]
    for i in range(n):
        ring += [(i + 0.25, 0.0), (i + 0.25, 5.0), (i + 0.75, 5.0), (i + 0.75, 0.0)]
    ring += [(float(n), 0.0), (float(n), -5.0), (0.0, -5.0)]
    return mk_poly(ring)


def test_difference_distributed_matches_kernel(spark):
    from pygeoops_spark.operators.difference import difference_all_tiled_distributed

    geoms = [comb_polygon(40), comb_polygon(60)]
    subs = [box(5 * k, -2, 5 * k + 2, 2) for k in range(6)]
    sub_wkbs = [wkb_dumps(s) for s in subs]
    df = spark.createDataFrame(
        [(i, wkb_dumps(g)) for i, g in enumerate(geoms)], ["gid", "wkb"]
    )
    out = difference_all_tiled_distributed(
        df, "gid", "wkb", sub_wkbs, subdivide_coords=60
    )
    rows = {r["gid"]: r["result_wkb"] for r in out.collect()}
    assert set(rows) == {0, 1}
    for i, g in enumerate(geoms):
        expected = difference_all_tiled(g, subs, subdivide_coords=60)
        got_area = polygon_area(wkb_loads(bytes(rows[i])))
        assert got_area == pytest.approx(polygon_area(expected), rel=1e-9)
        assert got_area < polygon_area(g)


def _long_line():
    from pygeoops_spark.geom import linestring

    xs = np.linspace(0.0, 60.0, 3000)
    return linestring(np.column_stack([xs, np.sin(xs)]))


# (inputs, subdivide_coords): a 3,000-vertex line, once returned as NULL
# (every type was dissolved as polygons); a fully covered square, once a
# missing row; the comb polygons of the test above
_TILED_CASES = {
    "long_line": (lambda: [_long_line()], 1000),
    "covered_square": (lambda: [box(100, 100, 101, 101)], 1000),
    "combs": (lambda: [comb_polygon(40), comb_polygon(60)], 60),
}


@pytest.mark.parametrize("case", sorted(_TILED_CASES))
def test_difference_distributed_returns_kernel_bytes(spark, case):
    """The distributed tiled difference merges through the kernel's own
    merge step, so every non-null input row gets the kernel's bytes."""
    from pygeoops_spark.operators.difference import difference_all_tiled_distributed

    make, subdivide_coords = _TILED_CASES[case]
    geoms = make()
    subs = [box(5 * k, -2, 5 * k + 2, 2) for k in range(6)] + [box(99, 99, 102, 102)]
    df = spark.createDataFrame(
        [(i, wkb_dumps(g)) for i, g in enumerate(geoms)] + [(len(geoms), None)],
        "gid long, wkb binary",
    )
    out = difference_all_tiled_distributed(
        df, "gid", "wkb", [wkb_dumps(s) for s in subs], subdivide_coords=subdivide_coords
    )
    rows = {r["gid"]: r["result_wkb"] for r in out.collect()}
    assert set(rows) == set(range(len(geoms)))
    for i, g in enumerate(geoms):
        expected = difference_all_tiled(g, subs, subdivide_coords=subdivide_coords)
        assert not expected.is_empty or case == "covered_square"
        assert rows[i] is not None and bytes(rows[i]) == wkb_dumps(expected), i


def test_simplify_udf_polygon(spark):
    import numpy as np

    from pygeoops_spark.operators.simplify import num_coords_col, simplify_col

    # densified square: 25 points per edge
    pts = []
    corners = [(0, 0), (10, 0), (10, 10), (0, 10)]
    for (x0, y0), (x1, y1) in zip(corners, corners[1:] + corners[:1]):
        for t in np.linspace(0, 1, 26)[:-1]:
            pts.append((x0 + (x1 - x0) * t, y0 + (y1 - y0) * t))
    dense = mk_poly(pts)
    df = spark.createDataFrame([(1, wkb_dumps(dense))], ["gid", "wkb"])
    out = df.select(
        num_coords_col("wkb").alias("before"),
        num_coords_col(simplify_col("wkb", 0.1, "rdp")).alias("after"),
        num_coords_col(simplify_col("wkb", 0.5, "vw")).alias("after_vw"),
    ).first()
    assert out["before"] == 101
    assert out["after"] == 5
    assert out["after_vw"] == 5


def test_view_angles_udf(spark):
    from pygeoops_spark.operators.view_angles import view_angles_col

    df = spark.createDataFrame(
        [(1, wkb_dumps(box(11, 21, 12, 22))), (2, None)], ["gid", "wkb"]
    )
    out = df.select("gid", view_angles_col(10.0, 20.0, "wkb").alias("va")).orderBy("gid")
    rows = out.collect()
    a = rows[0]["va"]
    assert a["angle_start"] == pytest.approx(26.565051177)
    assert a["angle_end"] == pytest.approx(63.434948822)
    s = rows[1]["va"]["angle_start"]
    assert s is None or s != s  # null geometry -> nan/null angles


def test_collection_extract_per_element_types(spark):
    """Spark mapping of the reference's zipped arraylike form
    (tests/test_general.py:201-228): the same geometrycollection with
    per-row primitivetype codes 0..3."""
    import pandas as pd

    from pygeoops_spark.geom import linestring, point, polygon, wkb_dumps
    from pygeoops_spark.geom.general import collect
    from pygeoops_spark.geom.wkb import wkb_loads
    from pygeoops_spark.operators.collection import collection_extract_col

    def box(x0, y0, x1, y1):
        return polygon([(x0, y0), (x1, y0), (x1, y1), (x0, y1)])

    gc = collect(
        [
            point(0, 0),
            linestring([(0, 0), (0, 1)]),
            box(0, 0, 1, 1),
            collect([box(2, 0, 3, 1), box(4, 0, 5, 1)]),
        ]
    )
    assert gc.geom_type == "GEOMETRYCOLLECTION"
    df = spark.createDataFrame(
        pd.DataFrame({"i": [0, 1, 2, 3], "wkb": [wkb_dumps(gc)] * 4, "ptype": [0, 1, 2, 3]})
    )
    got = {
        r["i"]: r["out"]
        for r in df.select(
            "i", collection_extract_col("wkb", "ptype").alias("out")
        ).collect()
    }
    g0 = wkb_loads(bytes(got[0]))
    assert g0.geom_type == "GEOMETRYCOLLECTION" and len(g0.data) == 4
    assert wkb_loads(bytes(got[1])).geom_type == "POINT"
    assert wkb_loads(bytes(got[2])).geom_type == "LINESTRING"
    g3 = wkb_loads(bytes(got[3]))
    # poly1 + the nested multipolygon survive as a collection of 2
    assert g3.geom_type == "GEOMETRYCOLLECTION" and len(g3.data) == 2
    assert g3.data[0].geom_type == "POLYGON"
    assert g3.data[1].geom_type == "MULTIPOLYGON"


def test_make_valid_col(spark):
    """make_valid as a Spark column: bowtie repaired to 2-part
    MultiPolygon, degenerate line collapsed/dropped per keep_collapsed,
    valid rows untouched."""
    from pygeoops_spark.geom import polygon as mk_poly, wkb_dumps, wkt_loads
    from pygeoops_spark.geom.kernels import polygon_area
    from pygeoops_spark.geom.wkb import MULTIPOLYGON, POINT, POLYGON, wkb_loads
    from pygeoops_spark.operators.collection import make_valid_col

    bowtie = mk_poly([(0, 0), (10, 10), (10, 0), (0, 10)])
    box = mk_poly([(0, 0), (5, 0), (5, 5), (0, 5)])
    degen = wkt_loads("LINESTRING (1 1, 1 1)")
    df = spark.createDataFrame(
        [(0, wkb_dumps(bowtie)), (1, wkb_dumps(box)), (2, wkb_dumps(degen))],
        ["gid", "wkb"],
    )
    rows = {
        r["gid"]: (None if r["mv"] is None else wkb_loads(bytes(r["mv"])))
        for r in df.select("gid", make_valid_col("wkb").alias("mv")).collect()
    }
    assert rows[0].type_id == MULTIPOLYGON
    assert polygon_area(rows[0]) == pytest.approx(50.0)
    assert rows[1].type_id == POLYGON
    assert rows[2].type_id == POINT

    dropped = {
        r["gid"]: r["mv"]
        for r in df.select(
            "gid", make_valid_col("wkb", keep_collapsed=False).alias("mv")
        ).collect()
    }
    assert dropped[2] is None


def test_tiled_difference_shared_boundary_subtrahends(spark):
    """difference_all_tiled_distributed with subtrahends SHARING
    boundaries with the inputs (the adversarial class the r05 overlay
    hardening addresses), end-to-end through subdivide-explode ->
    kernel -> dissolve: a strip sharing each polygon's full left edge
    and a triangle sharing a bottom-edge segment with its apex 1e-9
    inside the right edge. Exact-arithmetic expectation per feature."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType

    from pygeoops_spark.geom import polygon as mk_poly, wkb_dumps
    from pygeoops_spark.operators.difference import (
        area_col,
        difference_all_tiled_distributed,
    )

    n = 24

    @F.pandas_udf(BinaryType())
    def dense_rect(ids: pd.Series) -> pd.Series:
        import numpy as np

        from pygeoops_spark.geom import polygon as mkp, wkb_dumps as wd

        out = []
        for i in ids:
            i = int(i)
            w = 200.0 + (i * 29) % 100
            h = 150.0 + (i * 7) % 80
            x0, y0 = (i % 8) * 400.0, (i // 8) * 300.0
            corners = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]
            ring = []
            for (ax, ay), (bx, by) in zip(corners, corners[1:] + corners[:1]):
                for t in np.linspace(0, 1, 101)[:-1]:
                    ring.append((ax + (bx - ax) * t, ay + (by - ay) * t))
            out.append(wd(mkp(ring)))
        return pd.Series(out)

    df = spark.range(n).select(F.col("id").alias("fid"), dense_rect("id").alias("wkb"))
    # per-feature shared-boundary subtrahends require per-feature calls;
    # use ONE shared set that hits every feature's left strip instead:
    # a global vertical strip covering each grid column's left 30 units
    subs = []
    for col in range(8):
        x0 = col * 400.0
        subs.append(wkb_dumps(mk_poly([(x0, -1e4), (x0 + 30, -1e4), (x0 + 30, 1e4), (x0, 1e4)])))
    out = difference_all_tiled_distributed(df, "fid", "wkb", subs, subdivide_coords=120)
    rows = {
        r["fid"]: r["area"]
        for r in out.select("fid", F.round(area_col("result_wkb"), 6).alias("area")).collect()
    }
    assert len(rows) == n
    for i in range(n):
        w = 200.0 + (i * 29) % 100
        h = 150.0 + (i * 7) % 80
        expected = (w - 30.0) * h  # left strip shares the full left edge
        assert abs(rows[i] - expected) < 1e-5, (i, rows[i], expected)


# -- every per-row WKB column op on a valid row, a null row, and a null
# second argument: the valid rows equal the kernel applied directly to
# the decoded geometry; the null row gives the op's null output.
def _ops():
    from pygeoops_spark.geom import linestring, point, wkt_loads
    from pygeoops_spark.geom.buffer_by_m import buffer_by_m
    from pygeoops_spark.geom.centerline import centerline
    from pygeoops_spark.geom.difference import difference_all
    from pygeoops_spark.geom.extend_line import (
        extend_line_by_distance,
        extend_line_to_geometry,
    )
    from pygeoops_spark.geom.general import (
        collection_extract,
        get_parts_recursive,
        remove_inner_rings,
        subdivide,
    )
    from pygeoops_spark.geom.kernels import get_primitivetype_id
    from pygeoops_spark.geom.simplify_geom import simplify_geometry
    from pygeoops_spark.geom.validity import make_valid
    from pygeoops_spark.geom.view_angles import view_angles
    from pygeoops_spark.geom.wkb import collection, get_coordinates
    from pygeoops_spark.operators import centerline as oc, collection as ocol
    from pygeoops_spark.operators import difference as od, simplify as osim
    from pygeoops_spark.operators import view_angles as ova
    from pygeoops_spark.sources import geojson as gj

    dense = mk_poly(
        [(float(i), 0.0) for i in range(10)]
        + [(10.0, float(i)) for i in range(10)]
        + [(10.0 - i, 10.0) for i in range(10)]
        + [(0.0, 10.0 - i) for i in range(10)]
    )
    holed = mk_poly(
        [(0, 0), (10, 0), (10, 10), (0, 10)], [[(2, 2), (3, 2), (3, 3), (2, 3)]]
    )
    gc = collection([point(0.0, 0.0), box(1, 1, 2, 2)])
    line = linestring([(2.0, 5.0), (4.0, 5.0), (6.0, 6.0)])
    frame, hole_box, keep = box(0, 0, 10, 10), box(4, 4, 6, 6), linestring([(0, 0), (10, 0)])

    def col(make):
        return lambda df: df.select("gid", make().alias("out"))

    def ends(g, k):
        c = get_coordinates(g)
        return (c[0, 0], c[0, 1], c[-1, 0], c[-1, 1])

    return [
        ("collection_extract_col", gc, col(lambda: ocol.collection_extract_col("wkb", 3)),
         lambda g, k: collection_extract(g, 3), None),
        ("collection_extract_col[per-row type]", gc,
         col(lambda: ocol.collection_extract_col("wkb", "ptype")),
         lambda g, k: collection_extract(g, 3), None),
        ("collection_extract_col[null type]", gc,
         col(lambda: ocol.collection_extract_col("wkb", F.lit(None).cast("int"))),
         ValueError, None),
        ("primitivetype_id_col", holed, col(lambda: ocol.primitivetype_id_col("wkb")),
         lambda g, k: get_primitivetype_id(g), 0),
        ("parts_recursive_col", gc, col(lambda: ocol.parts_recursive_col("wkb")),
         lambda g, k: get_parts_recursive(g), None),
        ("remove_inner_rings_col", holed, col(lambda: ocol.remove_inner_rings_col("wkb", 2.0)),
         lambda g, k: remove_inner_rings(g, 2.0), None),
        ("make_valid_col", mk_poly([(0, 0), (10, 10), (10, 0), (0, 10)]),
         col(lambda: ocol.make_valid_col("wkb")), lambda g, k: make_valid(g), None),
        ("extend_line_by_distance_col", line,
         col(lambda: ocol.extend_line_by_distance_col("wkb", 1.0, 2.0)),
         lambda g, k: extend_line_by_distance(g, 1.0, 2.0), None),
        ("extend_line_to_geometry_col", line,
         col(lambda: ocol.extend_line_to_geometry_col("wkb", wkb_dumps(frame))),
         lambda g, k: extend_line_to_geometry(g, frame), None),
        ("simplify_col", dense, col(lambda: osim.simplify_col("wkb", 0.5)),
         lambda g, k: simplify_geometry(g, 0.5, "rdp", 8, True, None), None),
        ("simplify_col[bytes keep]", dense,
         col(lambda: osim.simplify_col("wkb", 0.5, keep_points_on_wkb=wkb_dumps(keep))),
         lambda g, k: simplify_geometry(g, 0.5, "rdp", 8, True, keep), None),
        ("simplify_col[Column keep]", dense,
         col(lambda: osim.simplify_col("wkb", 0.5, "lang", keep_points_on_wkb="keep")),
         lambda g, k: simplify_geometry(g, 0.5, "lang", 8, True, k), None),
        ("num_coords_col", dense, col(lambda: osim.num_coords_col("wkb")),
         lambda g, k: len(get_coordinates(g)), 0),
        ("centerline_col", box(0, 0, 20, 4), col(lambda: oc.centerline_col("wkb")),
         lambda g, k: centerline(g), None),
        ("line_endpoints_col", line, col(lambda: oc.line_endpoints_col("wkb")), ends,
         (None, None, None, None)),
        ("buffer_by_m_col", wkt_loads("LINESTRING M (0 0 1, 10 0 2)"),
         col(lambda: oc.buffer_by_m_col("wkb")), lambda g, k: buffer_by_m(g, quad_segs=8), None),
        ("difference_all_col", holed,
         col(lambda: od.difference_all_col("wkb", [wkb_dumps(hole_box)])),
         lambda g, k: difference_all(g, [hole_box], keep_geom_type=False, check_intersects=True),
         None),
        ("subdivide_col", dense, col(lambda: od.subdivide_col("wkb", 12)),
         lambda g, k: subdivide(g, 12), None),
        ("area_col", holed, col(lambda: od.area_col("wkb")), lambda g, k: polygon_area(g), 0.0),
        ("num_rings_col", holed, col(lambda: od.num_rings_col("wkb")), lambda g, k: 2, 0),
        # Spark reads the kernel's NaN angles back as NULL
        ("view_angles_col", box(1, 1, 2, 2), col(lambda: ova.view_angles_col(-5.0, -5.0, "wkb")),
         lambda g, k: view_angles((-5.0, -5.0), g), (None, None)),
        ("view_angles_pairs", box(1, 1, 2, 2),
         lambda df: ova.view_angles_pairs(df, "vx", "vy", "wkb").select(
             "gid", F.col("view_angles").alias("out")
         ),
         lambda g, k: view_angles((-5.0, -5.0), g), (None, None)),
        ("wkb_to_geojson_col", holed, col(lambda: gj.wkb_to_geojson_col("wkb")),
         lambda g, k: gj.geometry_to_geojson(g), None),
        ("geojson_geometry_col", holed,
         col(lambda: gj.geojson_geometry_col(gj.wkb_to_geojson_col("wkb"))),
         lambda g, k: gj.geojson_to_geometry(gj.geometry_to_geojson(g)), None),
    ]


_ROW_OPS = _ops()


@pytest.mark.parametrize(
    "geom,build,kernel,null", [c[1:] for c in _ROW_OPS], ids=[c[0] for c in _ROW_OPS]
)
def test_row_udf_ops_null_and_kernel_equivalence(spark, geom, build, kernel, null):
    from pygeoops_spark.geom.wkb import Geometry, linestring

    keep = linestring([(0, 0), (10, 0)])
    b, kb = wkb_dumps(geom), wkb_dumps(keep)
    df = spark.createDataFrame(
        [(1, b, kb, 3), (2, None, kb, None), (3, b, None, 3)],
        "gid int, wkb binary, keep binary, ptype int",
    ).withColumns({"vx": F.lit(-5.0), "vy": F.lit(-5.0)})
    out = build(df)
    if kernel is ValueError:
        # input validation stays: a valid geometry with a null type raises
        assert out.where("gid = 2").collect()[0]["out"] is None
        with pytest.raises(Exception, match="Invalid value for primitivetype: None"):
            out.where("gid = 1").collect()
        return

    def encoded(v):
        if isinstance(v, Geometry):
            return wkb_dumps(v)
        if isinstance(v, list):
            return [encoded(x) for x in v]
        return v

    got = {r["gid"]: r["out"] for r in out.collect()}
    assert got[2] == null
    for gid, k in ((1, keep), (3, None)):
        want = encoded(kernel(geom, k))
        assert want != null
        v = got[gid]
        v = [bytes(x) for x in v] if isinstance(v, list) else v
        assert (bytes(v) if isinstance(v, (bytes, bytearray)) else v) == want, gid
