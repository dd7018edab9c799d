"""Auto cell-level selection (VERDICT r05 task #5).

The density-derived defaults must reproduce the hand-picked levels on
the driver query shapes (16-hub geodesic kNN, 64-zone planar PIP,
21-diamond-zone geographic PIP) and the auto path must return exactly
the hand-picked-level results.
"""

import pyspark.sql.functions as F
import pytest

from pygeoops_spark.join.cells import GEO, auto_level, auto_level_knn


def test_auto_level_pins_driver_shapes():
    # planar PIP: 15k order points at sf0.01 -> hand-picked level 5
    assert auto_level(15_000) == 5
    # geographic PIP: 4000 probe points -> hand-picked level 3
    assert auto_level(4_000, GEO) == 3
    # geographic kNN: 16 hubs, k=3, radius=1 -> hand-picked level 2
    assert auto_level_knn(16, k=3, radius=1, scheme=GEO) == 2


def test_auto_level_scaling_monotone():
    """Level grows with log4(n): 100x the data, +3..4 levels — the
    100 TB behavior (cells keep ~constant occupancy)."""
    levels = [auto_level(n) for n in (1_000, 100_000, 10_000_000, 1_000_000_000)]
    assert levels == sorted(levels)
    assert levels[-1] - levels[0] >= 9  # ~log4(1e6) = 10
    glv = [auto_level(n, GEO) for n in (1_000, 100_000, 10_000_000)]
    assert glv == sorted(glv)


def test_auto_level_zone_span_cap():
    # a zone family with tiny spans must not push cells below span/8
    assert auto_level(10**9, min_cell=128.0) == 3  # 1024/128 = 8 cells/axis
    assert auto_level(10**9, GEO, min_cell=22.5) == 3  # 180/22.5


def test_auto_level_knn_floor_guarantee():
    # floor, not round: expectation >= k must hold at the chosen level
    for n_t, k, r in [(16, 3, 1), (256, 5, 2), (7, 3, 1)]:
        lvl = auto_level_knn(n_t, k, r)
        w = (2 * r + 1) ** 2
        assert n_t * w / k >= 4**lvl
        glvl = auto_level_knn(n_t, k, r, scheme=GEO)
        assert n_t * w / k >= 2 ** (2 * glvl + 1)


def test_pip_join_auto_equals_handpicked(spark):
    from pygeoops_spark.corpus.pages import synth_zones
    from pygeoops_spark.join.pip import pip_join_rects

    pts = spark.range(2000).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 37) % 1000).cast("double").alias("x"),
        ((F.col("id") * 53) % 1000).cast("double").alias("y"),
    )
    zones = synth_zones(spark)
    a = pip_join_rects(pts, zones, x="x", y="y", level=None).select("pid", "zone_id")
    b = pip_join_rects(pts, zones, x="x", y="y", level=5).select("pid", "zone_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_geodesic_knn_auto_equals_handpicked(spark):
    from pygeoops_spark.join.geo_knn import geodesic_knn_join

    i = F.col("id")
    probes = spark.range(200).select(
        i.alias("pid"),
        ((i * 37 % 360 - 180).cast("double") + F.lit(0.5)).alias("lon"),
        ((i * 23 % 160 - 80).cast("double") + F.lit(0.25)).alias("lat"),
    )
    targets = spark.range(16).select(
        i.alias("tid"),
        (i.cast("double") * 22.5 - 180 + F.lit(3.0)).alias("lon"),
        ((i * 19 % 150 - 75).cast("double") + F.lit(0.5)).alias("lat"),
    )
    a = geodesic_knn_join(
        probes, targets, "pid", "tid", k=3, level=None, radius=1, guarantee_exact=True
    ).select("pid", "tid_nn", "knn_rank")
    b = geodesic_knn_join(
        probes, targets, "pid", "tid", k=3, level=2, radius=1, guarantee_exact=True
    ).select("pid", "tid_nn", "knn_rank")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
