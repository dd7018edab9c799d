"""Geographic kNN join tests: exactness vs brute force, date-line
wrap, poles, and spheroid re-ranking (VERDICT r03 task 7)."""

import math

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pygeoops_spark.join.cells import geo_cell_id, geo_ring_cells
from pygeoops_spark.join.geo_knn import (
    geodesic_knn_join,
    great_circle_distance_sql,
)


def _brute(spark, probes, targets, probe_key, target_key, k, a=6378137.0):
    t = F.broadcast(
        targets.select(
            F.col(target_key).alias("_tkey"),
            F.col("lon").alias("_tlon"),
            F.col("lat").alias("_tlat"),
        )
    )
    cand = probes.crossJoin(t)
    dist = great_circle_distance_sql(
        F.col("lon"), F.col("lat"), F.col("_tlon"), F.col("_tlat"), a
    ).alias("dist_m")
    nn = target_key + "_nn"
    w = Window.partitionBy(probe_key).orderBy(F.col("dist_m").asc(), F.col(nn).asc())
    return (
        cand.select(*probes.columns, F.col("_tkey").alias(nn), dist)
        .withColumn("knn_rank", F.row_number().over(w))
        .where(F.col("knn_rank") <= k)
    )


def _points(spark, n, seed, name):
    rng = np.random.default_rng(seed)
    rows = [
        (i, float(lon), float(lat))
        for i, (lon, lat) in enumerate(
            zip(rng.uniform(-180, 180, n), rng.uniform(-89.5, 89.5, n))
        )
    ]
    return spark.createDataFrame(rows, [name, "lon", "lat"])


def test_geo_knn_exact_matches_bruteforce(spark):
    probes = _points(spark, 200, 7, "pid")
    targets = _points(spark, 40, 11, "tid")
    out = geodesic_knn_join(
        probes, targets, "pid", "tid", k=3, level=4, radius=1,
        guarantee_exact=True,
    )
    ref = _brute(spark, probes, targets, "pid", "tid", 3)
    got = {(r["pid"], r["knn_rank"]): r["tid_nn"] for r in out.collect()}
    exp = {(r["pid"], r["knn_rank"]): r["tid_nn"] for r in ref.collect()}
    assert got == exp


def test_geo_knn_dateline_wrap(spark):
    """A probe at lon 179.8 must pick the target across the date line
    (-179.9, ~22 km away) over one on the same side (170, ~1100 km)."""
    probes = spark.createDataFrame([(0, 179.8, 10.0)], ["pid", "lon", "lat"])
    targets = spark.createDataFrame(
        [(1, -179.9, 10.0), (2, 170.0, 10.0), (3, 0.0, 0.0)],
        ["tid", "lon", "lat"],
    )
    out = geodesic_knn_join(
        probes, targets, "pid", "tid", k=2, level=4, radius=1,
        guarantee_exact=True,
    ).collect()
    ranks = {r["knn_rank"]: r["tid_nn"] for r in out}
    assert ranks[1] == 1  # across the date line
    assert ranks[2] == 2
    d1 = [r["dist_m"] for r in out if r["knn_rank"] == 1][0]
    assert d1 == pytest.approx(
        6378137.0 * math.radians(0.3) * math.cos(math.radians(10.0)), rel=1e-3
    )


def test_geo_knn_polar_probe(spark):
    """A probe near the north pole: nearest target is on the OPPOSITE
    longitude but adjacent in great-circle terms (over the pole)."""
    probes = spark.createDataFrame([(0, 10.0, 88.5)], ["pid", "lon", "lat"])
    targets = spark.createDataFrame(
        [(1, -170.0, 88.7), (2, 10.0, 80.0), (3, 60.0, 40.0)],
        ["tid", "lon", "lat"],
    )
    out = geodesic_knn_join(
        probes, targets, "pid", "tid", k=2, level=4, radius=1,
        guarantee_exact=True,
    ).collect()
    ranks = {r["knn_rank"]: r["tid_nn"] for r in out}
    # over-the-pole separation: (90-88.5) + (90-88.7) = 2.8 degrees of
    # arc vs 8.5 degrees to the same-meridian target
    assert ranks[1] == 1
    assert ranks[2] == 2


def test_geo_knn_spheroid_rerank(spark):
    """spheroid=True ranks by the true WGS84 geodesic; validated
    against the vectorized kernel directly."""
    from pygeoops_spark.geom.geodesic import geodesic_inverse

    probes = spark.createDataFrame([(0, 5.0, 45.0)], ["pid", "lon", "lat"])
    tg = [(1, 5.0, 52.2), (2, 13.0, 41.0), (3, -3.0, 40.0), (4, 100.0, -30.0)]
    targets = spark.createDataFrame(tg, ["tid", "lon", "lat"])
    out = geodesic_knn_join(
        probes, targets, "pid", "tid", k=3, level=3, radius=1,
        guarantee_exact=True, spheroid=True,
    ).collect()
    d = {
        t[0]: float(
            geodesic_inverse(np.array([5.0]), np.array([45.0]),
                             np.array([t[1]]), np.array([t[2]]))[0][0]
        )
        for t in tg
    }
    exp_order = sorted(d, key=lambda key: d[key])[:3]
    got_order = [r["tid_nn"] for r in sorted(out, key=lambda r: r["knn_rank"])]
    assert got_order == exp_order
    for r in out:
        assert r["dist_m"] == pytest.approx(d[r["tid_nn"]], rel=1e-9)


def test_geo_ring_cells_covers_own_cell_and_wraps(spark):
    df = spark.createDataFrame(
        [(179.9, 0.1), (-179.9, 0.1), (0.0, 89.9)], ["lon", "lat"]
    )
    rows = df.select(
        geo_cell_id("lon", "lat", 4).alias("own"),
        geo_ring_cells("lon", "lat", 4, 1).alias("ring"),
    ).collect()
    for r in rows:
        assert r["own"] in r["ring"]
    # date-line neighbours share ring cells
    assert set(rows[0]["ring"]) & set(rows[1]["ring"])
    # polar ring is full-wrap: 32 lon cells x 2 rows
    assert len(rows[2]["ring"]) == 64


@pytest.mark.parametrize("seed", [1, 23, 99])
def test_geo_knn_exact_matches_bruteforce_seeds(spark, seed):
    """Exactness sweep across independent point clouds (different
    seeds, mixed k/level/radius): the guarantee_exact recursion must
    reproduce brute force regardless of where probes land relative to
    cell edges, poles, and the date line."""
    probes = _points(spark, 120, seed, "pid")
    targets = _points(spark, 25, seed + 1000, "tid")
    k = 2 + seed % 3
    out = geodesic_knn_join(
        probes, targets, "pid", "tid", k=k,
        level=3 + seed % 2, radius=1, guarantee_exact=True,
    )
    ref = _brute(spark, probes, targets, "pid", "tid", k)
    got = {(r["pid"], r["knn_rank"]): r["tid_nn"] for r in out.collect()}
    exp = {(r["pid"], r["knn_rank"]): r["tid_nn"] for r in ref.collect()}
    assert got == exp


def test_geodesic_azimuth_sphere_limit():
    """Kernel azimuth at f=0 must equal the spherical initial-bearing
    closed form atan2(sin dl cos p2, cos p1 sin p2 - sin p1 cos p2
    cos dl) on oblique pairs — an independent check the equatorial
    driver oracle cannot provide."""
    import numpy as np

    from pygeoops_spark.geom.geodesic import geodesic_inverse

    rng = np.random.default_rng(5)
    lon1 = rng.uniform(-180, 180, 200)
    lat1 = rng.uniform(-85, 85, 200)
    lon2 = rng.uniform(-180, 180, 200)
    lat2 = rng.uniform(-85, 85, 200)
    _s, az = geodesic_inverse(lon1, lat1, lon2, lat2, f=0.0)
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dl = np.radians(
        np.remainder(lon2 - lon1 + 180.0, 360.0) - 180.0
    )
    exp = np.arctan2(
        np.sin(dl) * np.cos(p2),
        np.cos(p1) * np.sin(p2) - np.sin(p1) * np.cos(p2) * np.cos(dl),
    )
    # compare as unit vectors (avoids the +-pi wrap seam)
    assert np.allclose(np.sin(az), np.sin(exp), atol=1e-9)
    assert np.allclose(np.cos(az), np.cos(exp), atol=1e-9)


# -- geographic bbox cover + join -----------------------------------------


def _boxes(spark, rows, suffix_cols=("bid", "lonmin", "latmin", "lonmax", "latmax")):
    return spark.createDataFrame(rows, list(suffix_cols))


def test_geo_bbox_join_matches_bruteforce(spark):
    """Random non-wrapped + wrapped boxes vs a python brute force of
    the circular-interval overlap semantics."""
    rng = np.random.default_rng(42)
    def mk(n, seed_off):
        out = []
        for i in range(n):
            lo = float(rng.uniform(-180, 180))
            span = float(rng.uniform(1, 120))
            hi = lo + span
            if hi > 180:
                hi -= 360  # wrapped box
            la = float(rng.uniform(-85, 75))
            out.append((i + seed_off, lo, la, hi, la + float(rng.uniform(1, 15))))
        return out
    A = mk(40, 0)
    B = mk(25, 1000)

    def span_of(lo, hi):
        return (hi - lo) % 360.0

    def lon_ov(a, b):
        sa, sb = span_of(a[1], a[3]), span_of(b[1], b[3])
        return ((b[1] - a[1]) % 360.0 <= sa) or ((a[1] - b[1]) % 360.0 <= sb)

    exp = {
        (a[0], b[0])
        for a in A
        for b in B
        if lon_ov(a, b) and a[2] <= b[4] and b[2] <= a[4]
    }
    from pygeoops_spark.join.bbox import geo_bbox_join

    out = geo_bbox_join(_boxes(spark, A), _boxes(spark, B), level=3)
    got = [(r["bid"], r["bid_r"]) for r in out.collect()]
    assert len(got) == len(set(got)), "pair dedup failed"
    assert set(got) == exp


def test_geo_bbox_join_two_arc_overlap_single_row(spark):
    """Two wrapped intervals overlapping in TWO disjoint arcs must
    still produce exactly one pair row (the planar corner trick would
    be ambiguous here; the array_min dedup is not)."""
    from pygeoops_spark.join.bbox import geo_bbox_join

    A = _boxes(spark, [(0, 170.0, -10.0, -170.0, 10.0)])   # wraps: [170, 190]
    B = _boxes(spark, [(1, -175.0, -5.0, 175.0, 5.0)])     # [185 .. 535] ~ nearly full
    out = geo_bbox_join(A, B, level=3).collect()
    assert len(out) == 1
    assert (out[0]["bid"], out[0]["bid_r"]) == (0, 1)


def test_geo_cover_cells_bbox_wraps(spark):
    from pygeoops_spark.join.cells import geo_cover_cells_bbox

    df = spark.createDataFrame(
        [(175.0, 0.0, -175.0, 10.0), (-180.0, -90.0, 180.0, 90.0)],
        ["lonmin", "latmin", "lonmax", "latmax"],
    )
    rows = df.select(
        geo_cover_cells_bbox("lonmin", "latmin", "lonmax", "latmax", 3).alias("c")
    ).collect()
    nlon, nlat = 16, 8
    # the wrapped strip touches columns on both sides of the seam
    cols = {c // nlat for c in rows[0]["c"]}
    assert 15 in cols and 0 in cols
    # the whole-world box covers every cell exactly once
    assert sorted(rows[1]["c"]) == list(range(nlon * nlat))


def test_geo_cover_cells_bbox_near_global_wrap(spark):
    """Wrapped box with span in (360 - cell_width, 360): both endpoints
    land in the SAME column (pmod = 0) but the box covers every column
    — the r04 ADVICE under-cover case."""
    from pygeoops_spark.join.cells import geo_cover_cells_bbox

    # span 359.9: lonmin 170, wrapped lonmax 169.9 — same level-3 cell
    df = spark.createDataFrame(
        [(170.0, 0.0, 169.9, 10.0)],
        ["lonmin", "latmin", "lonmax", "latmax"],
    )
    rows = df.select(
        geo_cover_cells_bbox("lonmin", "latmin", "lonmax", "latmax", 3).alias("c")
    ).collect()
    nlat = 8
    cols = {c // nlat for c in rows[0]["c"]}
    assert cols == set(range(16))


# -- geographic PIP join --------------------------------------------------


def test_geo_pip_join_dateline_zone(spark):
    """Zone crossing the date line (unwrapped coords 170..190): points
    on BOTH sides of the seam that fall inside must join; nearby
    outside points must not."""
    from pygeoops_spark.geom import polygon as mk_poly, wkb_dumps
    from pygeoops_spark.join.pip import geo_pip_join

    zone = mk_poly([(170.0, -10.0), (190.0, -10.0), (190.0, 10.0), (170.0, 10.0)])
    zones = spark.createDataFrame(
        [(1, 170.0, -10.0, 190.0, 10.0, wkb_dumps(zone))],
        ["zone_id", "lonmin", "latmin", "lonmax", "latmax", "zone_wkb"],
    )
    pts = spark.createDataFrame(
        [
            (0, 175.0, 0.0),    # inside, west of seam
            (1, -175.0, 5.0),   # inside, east of seam (= 185 unwrapped)
            (2, 160.0, 0.0),    # outside west
            (3, -160.0, 0.0),   # outside east
            (4, 175.0, 20.0),   # outside north
        ],
        ["pid", "lon", "lat"],
    )
    out = geo_pip_join(pts, zones, level=4)
    got = sorted(r["pid"] for r in out.collect())
    assert got == [0, 1]


def test_geo_pip_join_plain_zone_triangle(spark):
    """Non-wrapped triangular zone: interior/exterior points resolve by
    the crossing-number kernel, not just the bbox."""
    from pygeoops_spark.geom import polygon as mk_poly, wkb_dumps
    from pygeoops_spark.join.pip import geo_pip_join

    tri = mk_poly([(0.0, 0.0), (20.0, 0.0), (0.0, 20.0)])
    zones = spark.createDataFrame(
        [(7, 0.0, 0.0, 20.0, 20.0, wkb_dumps(tri))],
        ["zone_id", "lonmin", "latmin", "lonmax", "latmax", "zone_wkb"],
    )
    pts = spark.createDataFrame(
        [(0, 2.0, 2.0), (1, 15.0, 15.0), (2, 5.0, 10.0)],
        ["pid", "lon", "lat"],
    )
    out = geo_pip_join(pts, zones, level=4)
    got = sorted(r["pid"] for r in out.collect())
    # (15,15) is inside the bbox but OUTSIDE the hypotenuse
    assert got == [0, 2]
