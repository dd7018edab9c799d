"""Plan-time Spark jobs of the cell joins.

Auto level, auto ship and the exact-kNN checkpoint run eager actions
while the join's plan is being built. The PIP and kNN-escape counts are
pinned at the value of the joins before they shared one cell-join core,
so a change that splits the fused zone-side aggregate (one job for
level=None and ship='auto' together) fails here. The exact kNN ring
counts are pinned at the fixed passes of join/knn.py:_knn, so a change
that adds a pass or an action to them fails here.
"""

import uuid

import pyspark.sql.functions as F
import pytest

# Spark jobs each call starts while it builds its plan
PINNED = {
    "pip_join_polygons": 4,
    "geo_pip_join": 5,
    "knn_join_20": 2,
    "knn_join_200": 16,
    "geodesic_knn_join_12": 2,
    "geodesic_knn_join_120": 17,
}


def _jobs_started(spark, call) -> int:
    """Spark jobs started while ``call()`` builds its DataFrame."""
    sc = spark.sparkContext
    group = "jobs-" + uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _star_zones(spark, n_vertices=16):
    from pygeoops_spark.corpus.pages import synth_poly_zones

    return synth_poly_zones(spark, n_vertices=n_vertices)


def _geo_zones(spark):
    from pygeoops_spark.geom import polygon as mk_poly, wkb_dumps

    rows = []
    for jz in range(6):
        c = jz * 60 - 150 + (25.0 if jz == 5 else 0.0)  # jz=5 crosses 180
        lo, w, h = (jz * 31 % 100) - 50 + 0.4, 9.0, 12.0
        ring = [(c - w, lo), (c, lo - h), (c + w, lo), (c, lo + h)]
        rows.append(
            (jz, float(c - w), float(lo - h), float(c + w), float(lo + h),
             bytearray(wkb_dumps(mk_poly(ring))))
        )
    return spark.createDataFrame(
        rows,
        "zone_id long, lonmin double, latmin double, lonmax double, latmax double, zone_wkb binary",
    )


def _planar_points(spark, n, name="pid"):
    i = F.col("id")
    return spark.range(n).select(
        i.alias(name),
        ((i * 37 % 997).cast("double")).alias("x"),
        ((i * 61 % 983).cast("double")).alias("y"),
    )


def _geo_points(spark, n, name="pid"):
    i = F.col("id")
    return spark.range(n).select(
        i.alias(name),
        ((i * 37 % 360 - 180).cast("double") + F.lit(0.25)).alias("lon"),
        ((i * 23 % 160 - 80).cast("double") + F.lit(0.125)).alias("lat"),
    )


def test_pip_join_polygons_auto_jobs(spark):
    from pygeoops_spark import pip_join_polygons

    pts, zones = _planar_points(spark, 2000), _star_zones(spark)
    n = _jobs_started(
        spark, lambda: pip_join_polygons(pts, zones, level=None, ship="auto")
    )
    assert n == PINNED["pip_join_polygons"], n


def test_geo_pip_join_auto_jobs(spark):
    from pygeoops_spark import geo_pip_join

    pts, zones = _geo_points(spark, 2000), _geo_zones(spark)
    n = _jobs_started(spark, lambda: geo_pip_join(pts, zones, level=None, ship="auto"))
    assert n == PINNED["geo_pip_join"], n


@pytest.mark.parametrize("n_targets", [20, 200])
def test_knn_join_exact_auto_jobs(spark, n_targets):
    """20 targets take the brute-force escape, 200 the ring passes."""
    from pygeoops_spark import knn_join

    probes, targets = _planar_points(spark, 300), _planar_points(spark, n_targets, "tid")
    targets = targets.withColumn("x", F.col("x") * 0.5 + 100.0)
    n = _jobs_started(
        spark,
        lambda: knn_join(
            probes, targets, "pid", "tid", k=3, level=None, guarantee_exact=True
        ),
    )
    assert n == PINNED[f"knn_join_{n_targets}"], n


@pytest.mark.parametrize("n_targets", [12, 120])
def test_geodesic_knn_join_exact_auto_jobs(spark, n_targets):
    """12 targets take the brute-force escape, 120 the ring passes."""
    from pygeoops_spark import geodesic_knn_join

    probes, targets = _geo_points(spark, 200), _geo_points(spark, n_targets, "tid")
    targets = targets.withColumn("lon", F.col("lon") * 0.5)
    n = _jobs_started(
        spark,
        lambda: geodesic_knn_join(
            probes, targets, "pid", "tid", k=3, level=None, guarantee_exact=True
        ),
    )
    assert n == PINNED[f"geodesic_knn_join_{n_targets}"], n
