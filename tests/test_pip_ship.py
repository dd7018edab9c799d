"""pip_join_polygons / geo_pip_join input handling: a zone with a null
geometry matches no point on every ship path, and an unknown ship
value raises instead of silently taking the wkb path."""

import pytest

from pygeoops_spark.geom.wkb import polygon, wkb_dumps

SHIPS = ("auto", "prepared", "wkb")


def _zones(spark, lon_lat=False):
    a = "lon" if lon_lat else "x"
    b = "lat" if lon_lat else "y"
    sq = bytearray(wkb_dumps(polygon([(0, 0), (10, 0), (10, 10), (0, 10)])))
    return spark.createDataFrame(
        [(1, 0.0, 0.0, 10.0, 10.0, sq), (2, 0.0, 0.0, 10.0, 10.0, None)],
        f"zone_id long, {a}min double, {b}min double, {a}max double, {b}max double, "
        "zone_wkb binary",
    )


@pytest.mark.parametrize("ship", SHIPS)
def test_null_zone_geometry_matches_nothing(spark, ship):
    from pygeoops_spark.join.pip import pip_join_polygons

    pts = spark.createDataFrame(
        [(0, 5.0, 5.0), (1, 2.0, 8.0), (2, 20.0, 20.0)], "pid long, x double, y double"
    )
    got = pip_join_polygons(pts, _zones(spark), level=4, ship=ship).select("pid", "zone_id")
    assert sorted(tuple(r) for r in got.collect()) == [(0, 1), (1, 1)]


@pytest.mark.parametrize("ship", SHIPS)
def test_null_zone_geometry_geo(spark, ship):
    from pygeoops_spark.join.pip import geo_pip_join

    pts = spark.createDataFrame([(0, 5.0, 5.0), (1, 20.0, 5.0)], "pid long, lon double, lat double")
    got = geo_pip_join(pts, _zones(spark, lon_lat=True), level=4, ship=ship)
    assert sorted(tuple(r) for r in got.select("pid", "zone_id").collect()) == [(0, 1)]


@pytest.mark.parametrize("ship", ["bogus", "WKB", None, ""])
def test_unknown_ship_raises(spark, ship):
    from pygeoops_spark.join.pip import geo_pip_join, pip_join_polygons

    pts = spark.createDataFrame([(0, 5.0, 5.0)], "pid long, x double, y double")
    with pytest.raises(ValueError, match="ship"):
        pip_join_polygons(pts, _zones(spark), ship=ship)
    gpts = pts.withColumnRenamed("x", "lon").withColumnRenamed("y", "lat")
    with pytest.raises(ValueError, match="ship"):
        geo_pip_join(gpts, _zones(spark, lon_lat=True), ship=ship)
