"""Spark-layer tests: grid operators and the cell-indexed join recipes
checked against brute-force/SQL ground truth on the driver testdata."""

import pytest
from pyspark.sql import functions as F

from pygeoops_spark.corpus.pages import customer_points, order_points, synth_pages, synth_zones
from pygeoops_spark.join.bbox import bbox_join
from pygeoops_spark.join.knn import knn_join, knn_join_bruteforce
from pygeoops_spark.join.pip import pip_join_polygons, pip_join_rects
from pygeoops_spark.operators.grid import (
    assign_to_grid,
    create_grid,
    create_grid2,
    create_grid3,
    split_tiles,
)

BOUNDS = (40000.0, 160000.0, 45000.0, 210000.0)


def test_create_grid_spark(spark):
    tiles = create_grid(spark, BOUNDS, 2, 2).orderBy("tile_id").collect()
    assert len(tiles) == 4
    assert (tiles[0]["xmin"], tiles[0]["ymin"], tiles[0]["xmax"], tiles[0]["ymax"]) == (
        40000.0,
        160000.0,
        42500.0,
        185000.0,
    )
    # column-major: tile 1 is (col 0, row 1)
    assert (tiles[1]["col"], tiles[1]["row"]) == (0, 1)


def test_create_grid2_spark_counts(spark):
    assert create_grid2(spark, BOUNDS, 100).count() == 96
    assert create_grid2(spark, BOUNDS, 150, 150).count() == 148
    assert create_grid3(spark, BOUNDS, 2500, 25000).count() == 4


def test_split_tiles_spark(spark):
    base = create_grid(spark, (40.0, 40.0, 45.0, 46.0), 2, 2).withColumn(
        "attr", F.lit("a")
    )
    out = split_tiles(base, 8)
    rows = out.collect()
    assert len(rows) == 8
    assert all(r["attr"] == "a" for r in rows)
    area = sum((r["xmax"] - r["xmin"]) * (r["ymax"] - r["ymin"]) for r in rows)
    assert area == pytest.approx(5 * 6)
    # already enough tiles -> unchanged
    assert split_tiles(base, 2).count() == 4


def test_assign_to_grid_matches_sql(spark, sf_dir):
    pts = order_points(spark, sf_dir)
    got = assign_to_grid(pts, "x", "y", (0.0, 0.0, 1000.0, 1000.0), 8, 8)
    # brute force via floor arithmetic
    chk = got.withColumn("c2", F.floor(F.col("x") / 125.0)).withColumn(
        "r2", F.floor(F.col("y") / 125.0)
    )
    assert chk.where((F.col("tile_col") != F.col("c2")) | (F.col("tile_row") != F.col("r2"))).count() == 0


def test_pip_join_rects_matches_bruteforce(spark, sf_dir):
    pts = order_points(spark, sf_dir)
    zones = synth_zones(spark)
    got = pip_join_rects(pts, zones, level=5).select("o_orderkey", "zone_id")
    brute = pts.crossJoin(F.broadcast(zones)).where(
        (F.col("x") >= F.col("xmin"))
        & (F.col("x") <= F.col("xmax"))
        & (F.col("y") >= F.col("ymin"))
        & (F.col("y") <= F.col("ymax"))
    ).select("o_orderkey", "zone_id")
    assert got.exceptAll(brute).count() == 0
    assert brute.exceptAll(got).count() == 0
    assert got.count() > 0


def test_pip_join_polygons_matches_rect_path(spark, sf_dir):
    # encode the rect zones as WKB polygons; polygon kernel must agree
    # with the SQL BETWEEN path except exact-boundary points (none in
    # this derived data: coords have 3 decimals, zone edges are ints...
    # boundary hits are possible but measure-zero; assert equality).
    import pandas as pd

    from pygeoops_spark.geom import polygon as mk_poly, wkb_dumps

    zones_pd = synth_zones(spark).toPandas()
    zones_pd["zone_wkb"] = [
        wkb_dumps(
            mk_poly(
                [(r.xmin, r.ymin), (r.xmax, r.ymin), (r.xmax, r.ymax), (r.xmin, r.ymax)]
            )
        )
        for r in zones_pd.itertuples()
    ]
    zones = spark.createDataFrame(zones_pd)
    pts = order_points(spark, sf_dir)
    got = pip_join_polygons(pts, zones, level=5).select("o_orderkey", "zone_id")
    ref = pip_join_rects(pts, synth_zones(spark), level=5).select("o_orderkey", "zone_id")
    # crossing-number is boundary-exclusive; BETWEEN is inclusive —
    # allow only boundary rows to differ
    diff = ref.exceptAll(got)
    bounds_rows = (
        pip_join_rects(pts, synth_zones(spark), level=5)
        .where(
            (F.col("x") == F.col("xmin"))
            | (F.col("x") == F.col("xmax"))
            | (F.col("y") == F.col("ymin"))
            | (F.col("y") == F.col("ymax"))
        )
        .count()
    )
    assert got.exceptAll(ref).count() == 0
    assert diff.count() <= bounds_rows


def test_knn_ring_matches_bruteforce(spark, sf_dir):
    probes = customer_points(spark, sf_dir)
    zones = synth_zones(spark).select(
        "zone_id",
        ((F.col("xmin") + F.col("xmax")) / 2).alias("x"),
        ((F.col("ymin") + F.col("ymax")) / 2).alias("y"),
    )
    got = knn_join(probes, zones, "c_custkey", "zone_id", k=3, level=3, radius=2, guarantee_exact=True)
    brute = knn_join_bruteforce(probes, zones, "c_custkey", "zone_id", k=3)
    cols = ["c_custkey", "zone_id_nn", "knn_rank"]
    assert got.select(cols).exceptAll(brute.select(cols)).count() == 0
    assert brute.select(cols).exceptAll(got.select(cols)).count() == 0


def test_bbox_join_matches_bruteforce(spark):
    a = synth_zones(spark, 64)
    b = synth_zones(spark, 32).withColumnRenamed("zone_id", "zid")
    got = bbox_join(a, b.select("zid", "xmin", "ymin", "xmax", "ymax"), level=3).select(
        "zone_id", "zid_r"
    )
    brute = (
        a.crossJoin(
            F.broadcast(
                b.select(
                    F.col("zid").alias("zid_r"),
                    F.col("xmin").alias("bxmin"),
                    F.col("ymin").alias("bymin"),
                    F.col("xmax").alias("bxmax"),
                    F.col("ymax").alias("bymax"),
                )
            )
        )
        .where(
            (F.col("xmin") <= F.col("bxmax"))
            & (F.col("bxmin") <= F.col("xmax"))
            & (F.col("ymin") <= F.col("bymax"))
            & (F.col("bymin") <= F.col("ymax"))
        )
        .select("zone_id", "zid_r")
    )
    assert got.exceptAll(brute).count() == 0
    assert brute.exceptAll(got).count() == 0


def test_pages_corpus_deterministic_and_text_invariant(spark):
    pages = synth_pages(spark, 2000)
    assert pages.count() == 2000
    # deterministic: two builds agree byte-for-byte on text per url
    again = synth_pages(spark, 2000).withColumnRenamed("text", "text2").select("url", "text2")
    joined = pages.join(again, "url")
    assert joined.where(F.col("text") != F.col("text2")).count() == 0
    # pipeline invariant: a spatial op (tile assignment) must not touch text
    out = assign_to_grid(pages, "x", "y", (0.0, 0.0, 1000.0, 1000.0), 16, 16)
    joined2 = out.select("url", "text").join(again, "url")
    assert joined2.where(F.col("text") != F.col("text2")).count() == 0
    # skew exists: hotspot cell should be >5% of rows
    top = (
        assign_to_grid(pages, "x", "y", (0.0, 0.0, 1000.0, 1000.0), 16, 16)
        .groupBy("tile_id")
        .count()
        .orderBy(F.desc("count"))
        .first()
    )
    assert top["count"] > 0.05 * 2000


def test_pip_join_salted_matches_unsalted(spark):
    """Salted skew-mitigation join must give identical pairs on the
    hotspot-skewed pages corpus."""

    pages = synth_pages(spark, 3000)
    zones = synth_zones(spark)
    plain = pip_join_rects(pages, zones, level=5).select("url", "zone_id")
    salted = pip_join_rects(pages, zones, level=5, n_salt=8, salt_key="url").select(
        "url", "zone_id"
    )
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_pip_join_polygons_salted_matches_unsalted(spark):
    """Salted polygon PIP (shuffle plan, kernel post-shuffle) must give
    identical pairs to the broadcast unsalted plan."""
    from pygeoops_spark.geom import polygon as mk_poly, wkb_dumps

    zones_pd = synth_zones(spark).toPandas()
    zones_pd["zone_wkb"] = [
        wkb_dumps(
            mk_poly(
                [(r.xmin, r.ymin), (r.xmax, r.ymin), (r.xmax, r.ymax), (r.xmin, r.ymax)]
            )
        )
        for r in zones_pd.itertuples()
    ]
    zones = spark.createDataFrame(zones_pd)
    pages = synth_pages(spark, 3000)
    plain = pip_join_polygons(pages, zones, level=5).select("url", "zone_id")
    salted = pip_join_polygons(
        pages, zones, level=5, n_salt=8, salt_key="url", broadcast_zones=False
    ).select("url", "zone_id")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0
    # ship='wkb' (geometry bytes on every candidate row — the fallback
    # for an uncollectable zones table) must agree with the default
    # prepared-broadcast path
    wkb_ship = pip_join_polygons(pages, zones, level=5, ship="wkb").select(
        "url", "zone_id"
    )
    assert plain.exceptAll(wkb_ship).count() == 0
    assert wkb_ship.exceptAll(plain).count() == 0


def test_geo_pip_join_ship_modes_agree(spark):
    """geo_pip_join prepared-broadcast vs wkb-column paths, incl. a
    date-line zone (unwrapped coords)."""
    from pygeoops_spark.geom import polygon as mk_poly, wkb_dumps
    from pygeoops_spark.join.pip import geo_pip_join

    rows = []
    for jz in range(9):
        c = jz * 40 - 160 + (20.3 if jz == 8 else 0.0)  # jz=8 straddles 180
        lo, w, h = (jz * 31 % 100) - 50 + 0.4, 8.0 + jz % 4, 12.0 + jz % 7
        ring = [(c - w, lo), (c, lo - h), (c + w, lo), (c, lo + h)]
        rows.append(
            (jz, float(c - w), float(lo - h), float(c + w), float(lo + h),
             bytearray(wkb_dumps(mk_poly(ring))))
        )
    zones = spark.createDataFrame(
        rows,
        "zone_id long, lonmin double, latmin double, lonmax double, latmax double, zone_wkb binary",
    )
    i = F.col("id")
    pts = spark.range(3000).select(
        i.alias("pid"),
        ((i * 37 % 360 - 180).cast("double") + i / F.lit(3001.0)).alias("lon"),
        ((i * 23 % 160 - 80).cast("double") + i / F.lit(6002.0)).alias("lat"),
    )
    a = geo_pip_join(pts, zones, level=4).select("pid", "zone_id")
    b = geo_pip_join(pts, zones, level=4, ship="wkb").select("pid", "zone_id")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() > 0


def test_zorder_id_matches_python_reference(spark):
    """Morton interleave column matches a bit-twiddling reference."""
    from pygeoops_spark.join.cells import cell_coord, zorder_id

    pts = synth_pages(spark, 500).select("url", "x", "y")
    level = 6
    got = pts.withColumn("z", zorder_id("x", "y", level)).select("x", "y", "z").collect()

    def interleave(ix, iy):
        z = 0
        for b in range(level):
            z |= ((ix >> b) & 1) << (2 * b + 1)
            z |= ((iy >> b) & 1) << (2 * b)
        return z

    n = 1 << level
    s = 1024.0 / n
    for r in got:
        ix = min(max(int(r["x"] // s), 0), n - 1)
        iy = min(max(int(r["y"] // s), 0), n - 1)
        assert r["z"] == interleave(ix, iy)


def test_knn_exact_for_probe_with_empty_initial_ring(spark):
    """A probe whose initial ring holds ZERO candidates must still get
    its k neighbors via radius doubling (ADVICE r01: such probes
    produced no `ranked` rows, so the retry predicate never saw them)."""
    import pandas as pd

    from pygeoops_spark.join.knn import knn_join, knn_join_bruteforce

    # targets clustered far away from the probe: probe at (10,10) has no
    # target within radius-1 rings of its level-5 cell (cell size ~32)
    probes = spark.createDataFrame(pd.DataFrame({"pid": [0], "x": [10.0], "y": [10.0]}))
    targets = spark.createDataFrame(
        pd.DataFrame(
            {
                "tid": list(range(5)),
                "x": [900.0, 910.0, 920.0, 930.0, 940.0],
                "y": [900.0, 910.0, 920.0, 930.0, 940.0],
            }
        )
    )
    got = knn_join(
        probes, targets, "pid", "tid", k=3, level=5, radius=1, guarantee_exact=True
    ).select("pid", "tid_nn", "knn_rank")
    want = knn_join_bruteforce(probes, targets, "pid", "tid", k=3).select(
        "pid", "tid_nn", "knn_rank"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_knn_exact_unpersists_level_caches(spark):
    """ADVICE r02: guarantee_exact used to leave one persisted frame
    per radius-doubling level per call.  Now only the final
    localCheckpoint may remain persisted (GC-cleaned with the result):
    a multi-level recursion adds at most ONE persistent RDD."""
    import pandas as pd

    from pygeoops_spark.join.knn import knn_join

    probes = spark.createDataFrame(pd.DataFrame({"pid": [0], "x": [10.0], "y": [10.0]}))
    targets = spark.createDataFrame(
        pd.DataFrame(
            {
                "tid": list(range(5)),
                "x": [900.0, 910.0, 920.0, 930.0, 940.0],
                "y": [900.0, 910.0, 920.0, 930.0, 940.0],
            }
        )
    )
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    res = knn_join(
        probes, targets, "pid", "tid", k=3, level=5, radius=1, guarantee_exact=True
    )
    assert res.count() == 3
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after - before <= 1, (
        f"knn_join leaked {after - before} persistent RDDs (expected <= 1 "
        "for the final checkpoint)"
    )


def test_split_tiles_wkb_geometry(spark):
    """split_tiles over a WKB geometry column (reference split_tiles on
    arbitrary GeoDataFrame tiles): attr fan-out + area conservation on
    a non-rectangular tile set."""
    from pygeoops_spark.geom import polygon as mk_poly, wkb_dumps, wkb_loads
    from pygeoops_spark.geom.kernels import polygon_area

    lshape = mk_poly([(0, 0), (10, 0), (10, 4), (4, 4), (4, 10), (0, 10)])
    tri = mk_poly([(20, 0), (32, 0), (20, 6)])
    df = spark.createDataFrame(
        [("foo", wkb_dumps(lshape)), ("bar", wkb_dumps(tri))],
        ["name", "wkb"],
    )
    out = split_tiles(df, 8, wkb_col="wkb")
    rows = out.collect()
    assert out.columns == ["name", "wkb"]
    assert len(rows) >= 8
    by_name = {}
    for r in rows:
        by_name.setdefault(r["name"], []).append(wkb_loads(bytes(r["wkb"])))
    # every input tile fanned out, attrs retained
    assert set(by_name) == {"foo", "bar"}
    assert sum(polygon_area(g) for g in by_name["foo"]) == pytest.approx(64.0)
    assert sum(polygon_area(g) for g in by_name["bar"]) == pytest.approx(36.0)
    # already enough tiles -> unchanged
    assert split_tiles(df, 2, wkb_col="wkb").count() == 2


def test_pip_join_polygons_prepared_holes_and_multipolygon(spark):
    """The prepared-broadcast path must honor holes and multipolygon
    parts (the _prepare_rings decomposition), matching the wkb column
    path on the same zones."""
    from pygeoops_spark.geom.wkb import MULTIPOLYGON, multi, polygon, wkb_dumps
    from pygeoops_spark.join.pip import pip_join_polygons

    donut = polygon(
        [(100, 100), (300, 100), (300, 300), (100, 300)],
        holes=[[(150, 150), (250, 150), (250, 250), (150, 250)]],
    )
    two_parts = multi(
        MULTIPOLYGON,
        [
            polygon([(500, 500), (600, 500), (600, 600), (500, 600)]),
            polygon([(700, 700), (800, 700), (800, 800), (700, 800)]),
        ],
    )
    zones = spark.createDataFrame(
        [
            (1, 100.0, 100.0, 300.0, 300.0, bytearray(wkb_dumps(donut))),
            (2, 500.0, 500.0, 800.0, 800.0, bytearray(wkb_dumps(two_parts))),
        ],
        "zone_id long, xmin double, ymin double, xmax double, ymax double, zone_wkb binary",
    )
    pts = spark.createDataFrame(
        [
            (0, 120.0, 120.0),   # in the donut ring
            (1, 200.0, 200.0),   # inside the hole -> excluded
            (2, 550.0, 550.0),   # part 1
            (3, 750.0, 750.0),   # part 2
            (4, 650.0, 650.0),   # in zone-2 bbox, between the parts -> excluded
            (5, 10.0, 10.0),     # nowhere
        ],
        "pid long, x double, y double",
    )
    got = {
        (r[0], r[1])
        for r in pip_join_polygons(pts, zones, level=4)
        .select("pid", "zone_id")
        .collect()
    }
    assert got == {(0, 1), (2, 2), (3, 2)}
    wkb_got = {
        (r[0], r[1])
        for r in pip_join_polygons(pts, zones, level=4, ship="wkb")
        .select("pid", "zone_id")
        .collect()
    }
    assert wkb_got == got
