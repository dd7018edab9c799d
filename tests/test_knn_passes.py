"""Exact kNN (``guarantee_exact``) equals brute force on every pass of
join/knn.py:_knn: the brute-force escape, pass 1 (initial ring), pass 2
(per-probe wider ring chosen in SQL) and pass 3 (brute force for probes
short of k), planar and geographic; null coordinates never match; the
passes start a fixed number of Spark jobs whatever the density skew.

The reference is a plain broadcast cross join + the same window
ordering, written here, independent of the operator's own brute force.
"""

from __future__ import annotations

import signal

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pygeoops_spark.join import knn
from pygeoops_spark.join.geo_knn import geodesic_knn_join, great_circle_distance_sql
from pygeoops_spark.join.knn import knn_join, knn_join_bruteforce

WGS84_A = 6378137.0


def _euclid(px, py, tx, ty):
    dx, dy = px - tx, py - ty
    return F.sqrt(dx * dx + dy * dy)


def _sphere(plon, plat, tlon, tlat):
    return great_circle_distance_sql(plon, plat, tlon, tlat, WGS84_A)


def _spheroid(plon, plat, tlon, tlat):
    from pygeoops_spark.operators.geodesic import geodesic_distance_col

    return geodesic_distance_col(plon, plat, tlon, tlat)


def _reference(probes, targets, k, dist, ax=("x", "y")):
    t = F.broadcast(
        targets.select(
            F.col("tid").alias("tid_nn"), F.col(ax[0]).alias("_t0"), F.col(ax[1]).alias("_t1")
        )
    )
    d = dist(F.col(ax[0]), F.col(ax[1]), F.col("_t0"), F.col("_t1")).alias("d")
    w = Window.partitionBy("pid").orderBy(F.col("d").asc(), F.col("tid_nn").asc())
    return (
        probes.crossJoin(t)
        .select("pid", "tid_nn", d)
        .withColumn("knn_rank", F.row_number().over(w))
        .where(F.col("knn_rank") <= k)
    )


def _rows(df, dist_col):
    return sorted((r["pid"], r["knn_rank"], r["tid_nn"], r[dist_col]) for r in df.collect())


def _assert_exact(got, want, dist_col, rel=0.0):
    g, w = _rows(got, dist_col), _rows(want, "d")
    assert [r[:3] for r in g] == [r[:3] for r in w]
    for a, b in zip(g, w):
        assert a[3] == pytest.approx(b[3], rel=rel, abs=0.0)


def _planar(spark, rows, key):
    return spark.createDataFrame(rows, f"{key} long, x double, y double")


def _clustered(spark, seed, n_probes, n_targets, spread=6.0):
    """Uniform probes over the planar world; targets in four tight
    clusters, so most probes sit in empty cells (pass 3), probes near a
    cluster need a wider ring (pass 2), probes inside one are exact at
    once (pass 1)."""
    rng = np.random.default_rng(seed)
    centres = rng.uniform(150, 870, (4, 2))
    tp = centres[rng.integers(0, 4, n_targets)] + rng.normal(0, spread, (n_targets, 2))
    pp = np.vstack([rng.uniform(0, 1024, (n_probes - 20, 2)), tp[:20] + 3.0])
    probes = _planar(spark, [(i, float(x), float(y)) for i, (x, y) in enumerate(pp)], "pid")
    targets = _planar(spark, [(i, float(x), float(y)) for i, (x, y) in enumerate(tp)], "tid")
    return probes, targets


@pytest.mark.parametrize(
    "seed, k, level, radius, broadcast",
    [(1, 4, 5, 1, True), (2, 3, 6, 2, True), (3, 5, 4, 0, True), (4, 4, 5, 1, False)],
)
def test_planar_exact_equals_bruteforce(spark, seed, k, level, radius, broadcast):
    probes, targets = _clustered(spark, seed, 150, 120)
    got = knn_join(
        probes, targets, "pid", "tid", k=k, level=level, radius=radius,
        broadcast_targets=broadcast, guarantee_exact=True,
    )
    _assert_exact(got, _reference(probes, targets, k, _euclid), "dist")


def test_planar_ties_broken_by_target_key(spark):
    """Targets on a lattice with duplicates: every probe at the centre
    of a lattice square has four lattice points at the same distance,
    and each lattice point carries two target ids."""
    pts = [(x * 40.0 + 200.0, y * 40.0 + 200.0) for x in range(8) for y in range(8)]
    targets = _planar(
        spark, [(i, x, y) for i, (x, y) in enumerate(pts + pts)], "tid"
    )
    probes = _planar(
        spark,
        [(i, x + 20.0, y + 20.0) for i, (x, y) in enumerate(pts)] + [(99, 20.0, 20.0)],
        "pid",
    )
    got = knn_join(probes, targets, "pid", "tid", k=5, level=5, radius=1, guarantee_exact=True)
    want = _reference(probes, targets, 5, _euclid)
    _assert_exact(got, want, "dist")


def test_k_above_target_count(spark, monkeypatch):
    """k > n_targets: every probe gets all targets, on the escape and on
    the ring passes (escape patched off: every probe is short of k)."""
    probes, targets = _clustered(spark, 5, 40, 6)
    want = _reference(probes, targets, 9, _euclid)
    kw = dict(k=9, level=4, radius=1, guarantee_exact=True)
    _assert_exact(knn_join(probes, targets, "pid", "tid", **kw), want, "dist")
    monkeypatch.setattr(knn, "_escape", lambda *a: False)
    _assert_exact(knn_join(probes, targets, "pid", "tid", **kw), want, "dist")


def _geo_points(spark, seed, n, key, clustered):
    """Lon/lat points biased to the hard places: a third at |lat| > 85,
    a third within 0.6 degrees of the date line. ``clustered``: three
    tight clusters instead, on the date line, at lat 87 and at lat -40."""
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-89.5, 89.5, n)
    m = n // 3
    lat[:m] = rng.choice([-1.0, 1.0], m) * rng.uniform(85.0, 89.9, m)
    lon[m : 2 * m] = rng.choice([-179.9, 179.9], m) + rng.uniform(-0.5, 0.5, m)
    lon = (lon + 180.0) % 360.0 - 180.0
    if clustered:
        c = np.array([[179.0, 10.0], [-30.0, 87.0], [60.0, -40.0]])
        pick = c[rng.integers(0, 3, n)]
        lon = (pick[:, 0] + rng.normal(0, 2.0, n) + 180.0) % 360.0 - 180.0
        lat = np.clip(pick[:, 1] + rng.normal(0, 1.5, n), -89.9, 89.9)
    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lon, lat))]
    return spark.createDataFrame(rows, f"{key} long, lon double, lat double")


@pytest.mark.parametrize(
    "seed, spheroid, level, radius, broadcast",
    [(11, False, 4, 1, True), (12, False, 3, 0, False), (13, True, 4, 1, True)],
)
def test_geo_exact_equals_bruteforce(spark, seed, spheroid, level, radius, broadcast):
    probes = _geo_points(spark, seed, 90, "pid", clustered=False)
    targets = _geo_points(spark, seed + 100, 60, "tid", clustered=True)
    got = geodesic_knn_join(
        probes, targets, "pid", "tid", k=3, level=level, radius=radius,
        broadcast_targets=broadcast, guarantee_exact=True, spheroid=spheroid,
    )
    want = _reference(probes, targets, 3, _spheroid if spheroid else _sphere, ("lon", "lat"))
    # the spheroid kernel's last bit depends on the Arrow batch it runs in
    _assert_exact(got, want, "dist_m", rel=1e-12 if spheroid else 0.0)


# ---- null coordinates -----------------------------------------------------

# at level 5 / radius 1 with k=2: probe 0 is exact in pass 1, probe 3
# needs a wider ring (pass 2), probe 4 finds nothing in its ring and
# probe 5 one target (both pass 3); probes 1 and 2 and targets 8 and 9
# carry a null coordinate
NULL_PROBES = [(0, 10.0, 10.0), (1, None, 5.0), (2, 5.0, None), (3, 100.0, 100.0),
               (4, 600.0, 600.0), (5, 300.0, 300.0)]
NULL_TARGETS = [(0, 11.0, 11.0), (1, 20.0, 20.0), (2, 30.0, 30.0), (3, 70.0, 70.0),
                (4, 150.0, 150.0), (5, 320.0, 330.0), (8, 1.0, None), (9, None, 1.0)]


def _null_frames(spark, geo):
    """The null layout; in degrees for ``geo`` (level-5 cells of 5.625
    degrees stand where planar level-5 cells of 32 units did)."""
    def scale(v):
        return v * 45.0 / 256.0 - 40.0 if geo and v is not None else v

    axes = "lon double, lat double" if geo else "x double, y double"
    return (
        spark.createDataFrame([(i, scale(a), scale(b)) for i, a, b in rows], f"{key} long, {axes}")
        for rows, key in ((NULL_PROBES, "pid"), (NULL_TARGETS, "tid"))
    )


@pytest.mark.parametrize(
    "geo, path",
    [(False, "bruteforce"), (False, "escape"), (False, "passes"), (False, "approx"),
     (True, "escape"), (True, "passes"), (True, "approx")],
)
def test_null_coordinates_never_match(spark, monkeypatch, geo, path):
    """A probe with a null coordinate emits no rows and a target with a
    null coordinate is never a neighbour (nulls sort first, so a null
    distance used to take rank 1, and the cell index clamped a null
    coordinate into the last cell)."""
    probes, targets = _null_frames(spark, geo)
    if path == "passes":
        monkeypatch.setattr(knn, "_escape", lambda *a: False)
    kw = dict(k=2, level=5, radius=1, guarantee_exact=path != "approx")
    if path == "bruteforce":
        got = knn_join_bruteforce(probes, targets, "pid", "tid", k=2)
    elif geo:
        got = geodesic_knn_join(probes, targets, "pid", "tid", **kw)
    else:
        got = knn_join(probes, targets, "pid", "tid", **kw)
    dist_col = "dist_m" if geo else "dist"
    rows = got.collect()
    assert {r["pid"] for r in rows} <= {0, 3, 4, 5}
    assert all(r["tid_nn"] not in (8, 9) and r[dist_col] is not None for r in rows)
    assert sorted((r["knn_rank"], r["tid_nn"]) for r in rows if r["pid"] == 0) == [
        (1, 0), (2, 1)
    ]
    if path != "approx":
        ax = ("lon", "lat") if geo else ("x", "y")
        want = _reference(probes.dropna(), targets.dropna(), 2, _sphere if geo else _euclid, ax)
        _assert_exact(got, want, dist_col)


# ---- termination and job count -------------------------------------------


def _within(seconds, call):
    """``call()`` under a wall-clock guard: a hang fails the test."""

    def _timeout(signum, frame):
        raise TimeoutError(f"no result within {seconds} s")

    old = signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(seconds)
    try:
        return call()
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


def test_radius_zero_terminates(spark):
    """radius=0 used to double to 0 forever; the ladder steps 0, 1, 2, 4."""
    probes, targets = _clustered(spark, 6, 50, 40)
    got = _within(
        120,
        lambda: knn_join(
            probes, targets, "pid", "tid", k=3, level=3, radius=0, guarantee_exact=True
        ).collect(),
    )
    want = _rows(knn_join_bruteforce(probes, targets, "pid", "tid", k=3), "dist")
    assert sorted((r["pid"], r["knn_rank"], r["tid_nn"], r["dist"]) for r in got) == want


def test_negative_radius_rejected(spark):
    probes, targets = _clustered(spark, 6, 30, 40)
    with pytest.raises(ValueError, match="radius"):
        knn_join(probes, targets, "pid", "tid", k=3, level=3, radius=-1)


def test_skewed_shape_starts_fixed_jobs(spark):
    """The plan-time job count does not grow with the density skew: the
    uniform probes of the 300x200 shape pinned in tests/test_join_jobs.py
    against 200 targets in four tight clusters start no more jobs than
    that shape. The radius-doubling recursion this replaced chased these
    probes 5 levels deep (radii 1, 2, 4, 8, 16) and started 162
    plan-time jobs here."""
    from test_join_jobs import PINNED, _jobs_started, _planar_points

    i, c = F.col("id"), (F.col("id") % 4).cast("int") + 1
    cx = F.element_at(F.array(*map(F.lit, (180.0, 800.0, 420.0, 700.0))), c)
    cy = F.element_at(F.array(*map(F.lit, (200.0, 260.0, 610.0, 880.0))), c)
    targets = spark.range(200).select(
        i.alias("tid"),
        (cx + (i * 37 % 23 - 11).cast("double")).alias("x"),
        (cy + (i * 61 % 19 - 9).cast("double")).alias("y"),
    )
    probes = _planar_points(spark, 300)
    n = _jobs_started(
        spark,
        lambda: knn_join(
            probes, targets, "pid", "tid", k=3, level=5, radius=1, guarantee_exact=True
        ),
    )
    assert n <= PINNED["knn_join_200"], n
