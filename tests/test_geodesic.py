"""Ellipsoidal geodesic area tests.

Ground truth comes from three independent sources, none of which share
code with the kernel under test:

1. Closed forms that are exact on the ellipsoid (pole wedges bounded
   by meridians + equator, hemispheres, the total-surface identity).
2. An exact geodesic ODE integrator (RK4 on the textbook meridional /
   normal curvature-radius equations) — validates both the inverse
   azimuth solve (landing error) and the per-edge area integral
   (Green sum of Z dlambda along a dense path).
3. The spherical kernel (kernels.ring_area_geodesic, itself pinned by
   Girard closed forms) in the f -> 0 limit.

Reference parity target: _general.py:530-537 (pyproj Geod /
GeographicLib Karney area).  The total WGS84 surface area below,
510065621724088.44 m^2, equals GeographicLib's published value.
"""

import math

import numpy as np
import pytest

from pygeoops_spark.geom.geodesic import (
    WGS84_A,
    WGS84_F,
    _reduced_lat,
    _solve_edges,
    edge_length_ellipsoidal,
    ellipsoid_area,
    geodesic_ode_path,
    polygon_area_ellipsoidal,
    ring_area_ellipsoidal,
    zone_area,
)
from pygeoops_spark.geom.kernels import ring_area_geodesic


def test_total_area_closed_form():
    # textbook oblate-spheroid surface area; matches GeographicLib's
    # published WGS84 value
    assert ellipsoid_area() == pytest.approx(510065621724088.44, rel=1e-12)


def test_zone_function_derivative_is_area_element():
    # dZ/dphi must equal the exact area element a^2(1-e^2)cos(phi)
    # / (1-e^2 sin^2 phi)^2 — central difference at several latitudes
    e2 = WGS84_F * (2 - WGS84_F)
    for phi in np.radians([-80.0, -42.0, -5.0, 0.0, 13.0, 55.0, 88.0]):
        h = 1e-6
        num = (
            float(zone_area(math.sin(phi + h))) - float(zone_area(math.sin(phi - h)))
        ) / (2 * h)
        s2 = math.sin(phi) ** 2
        exact = WGS84_A**2 * (1 - e2) * math.cos(phi) / (1 - e2 * s2) ** 2
        assert num == pytest.approx(exact, rel=1e-8)


@pytest.mark.parametrize("dl", [1.0, 30.0, 89.0, 120.0])
def test_pole_wedge_exact(dl):
    # two meridians + equator: A = radians(dl) * Z(pi/2), exact
    ring = np.array([[0, 0], [dl, 0], [dl, 90], [0, 0]], float)
    exp = math.radians(dl) * float(zone_area(1.0))
    assert ring_area_ellipsoidal(ring) == pytest.approx(exp, rel=1e-13)


def test_south_pole_wedge_exact():
    ring = np.array([[0, 0], [0, -90], [40, 0], [0, 0]], float)
    exp = math.radians(40) * float(zone_area(1.0))
    assert ring_area_ellipsoidal(ring) == pytest.approx(exp, rel=1e-12)


def test_hemisphere_via_equatorial_ring():
    ring = np.array([[0, 0], [120, 0], [240, 0], [0, 0]], float)
    assert ring_area_ellipsoidal(ring) == pytest.approx(
        ellipsoid_area() / 2, rel=1e-14
    )


def test_sphere_limit_matches_spherical_kernel():
    rng = np.random.default_rng(7)
    R = 6371000.0
    for _ in range(8):
        n = int(rng.integers(3, 9))
        lon0, lat0 = rng.uniform(-150, 150), rng.uniform(-60, 60)
        ang = np.sort(rng.uniform(0, 2 * math.pi, n))
        r = rng.uniform(0.1, 3.0, n)
        ring = np.column_stack(
            [lon0 + r * np.cos(ang), lat0 + r * np.sin(ang)]
        )
        ring = np.vstack([ring, ring[:1]])
        got = ring_area_ellipsoidal(ring, a=R, f=0.0)
        exp = ring_area_geodesic(ring, radius=R)
        assert got == pytest.approx(exp, rel=1e-11)


def _ode_ring_area(pts_deg: np.ndarray, n_steps: int = 20000) -> float:
    """Independent ground truth: inverse-solve each edge only for its
    initial azimuth, then RK4-integrate the exact geodesic ODEs and
    Green-sum Z dlambda along the dense path."""
    f = WGS84_F
    n = len(pts_deg)
    oint = 0.0
    dl_sum = 0.0
    for i in range(n):
        p1, p2 = pts_deg[i], pts_deg[(i + 1) % n]
        phi1, lam1 = math.radians(p1[1]), math.radians(p1[0])
        phi2, lam2 = math.radians(p2[1]), math.radians(p2[0])
        b1 = float(_reduced_lat(np.array([phi1]), f)[0])
        b2 = float(_reduced_lat(np.array([phi2]), f)[0])
        dL = (lam2 - lam1 + math.pi) % (2 * math.pi) - math.pi
        sina0, ca2, s1, sd, _deg, _res = _solve_edges(
            np.array([b1]), np.array([b2]), np.array([dL]), f
        )
        ca0 = math.sqrt(float(ca2[0]))
        a1 = math.atan2(
            float(sina0[0]) / math.cos(b1),
            ca0 * math.cos(float(s1[0])) / math.cos(b1),
        )
        slen = edge_length_ellipsoidal(
            float(sina0[0]), float(ca2[0]), float(s1[0]), float(sd[0])
        )
        path = geodesic_ode_path(phi1, lam1, a1, slen, n_steps)
        # landing check: the azimuth from the inverse solve must carry
        # the ODE onto the target vertex
        land = math.hypot(
            path[-1, 0] - phi2,
            (path[-1, 1] - lam2 + math.pi) % (2 * math.pi) - math.pi,
        )
        assert land * WGS84_A < 1e-5  # metres
        zs = zone_area(np.sin(path[:, 0]))
        zmid = 0.5 * (zs[:-1] + zs[1:])
        dlam = np.diff(path[:, 1])
        oint += float((zmid * dlam).sum())
        dl_sum += dL
    w = round(dl_sum / (2 * math.pi))
    area = abs(-oint + abs(w) * ellipsoid_area() / 2)
    if area > ellipsoid_area() / 2:
        area = ellipsoid_area() - area
    return area


def _ode_miss(lon1, lat1, lon2, lat2, s12, az1, n_steps=40000):
    """Metres between the RK4 geodesic ODE's end point after (s12, az1)
    from point 1 and point 2."""
    path = geodesic_ode_path(math.radians(lat1), math.radians(lon1), az1, s12, n_steps)
    dlon = (path[-1, 1] - math.radians(lon2) + math.pi) % (2 * math.pi) - math.pi
    return math.hypot(path[-1, 0] - math.radians(lat2), dlon) * WGS84_A


def test_general_quadrilateral_vs_ode_truth():
    pts = np.array([[10.0, 40.0], [12.5, 41.0], [12.0, 43.5], [9.5, 42.5]])
    got = ring_area_ellipsoidal(np.vstack([pts, pts[:1]]))
    truth = _ode_ring_area(pts)
    assert got == pytest.approx(truth, rel=1e-11)


def test_southern_triangle_vs_ode_truth():
    pts = np.array([[150.0, -35.0], [153.0, -37.5], [148.5, -38.0]])
    got = ring_area_ellipsoidal(np.vstack([pts, pts[:1]]))
    truth = _ode_ring_area(pts)
    # the edge S-sums are ~20x the enclosed area here, so the ODE
    # truth's trapezoid error is amplified by the cancellation
    assert got == pytest.approx(truth, rel=1e-9)


def test_near_polar_edge_vs_ode_truth():
    # edge from (0, 80) to (179, 80) passes ~10 km from the pole:
    # exercises the adaptive quadrature path for the 1/(1 - cos^2 a0
    # sin^2 sigma) peak
    pts = np.array([[0.0, 80.0], [179.0, 80.0], [90.0, 60.0]])
    got = ring_area_ellipsoidal(np.vstack([pts, pts[:1]]))
    truth = _ode_ring_area(pts, n_steps=60000)
    assert got == pytest.approx(truth, rel=5e-9)  # ODE-resolution bound


def test_edge_passing_near_pole_vs_ode_truth():
    # the (0, 0) -> (170, 70) edge passes ~3.6 deg from the north pole
    # (sin^2 a0 ~ 0.004): its integrand peak is too narrow for the GL
    # panels, though a sin^2 a0 < 1e-3 test would leave it on them
    # (1e-5 off)
    pts = np.array([[0.0, 0.0], [170.0, 70.0], [90.0, 10.0]])
    got = ring_area_ellipsoidal(np.vstack([pts, pts[:1]]))
    truth = _ode_ring_area(pts, n_steps=60000)
    assert got == pytest.approx(truth, rel=5e-9)  # ODE-resolution bound


def test_pole_enclosing_ring():
    # geodesic square at lat 80 enclosing the north pole: winding
    # correction path; complement symmetry: reversed traversal folds
    # to the same unsigned smaller side
    pts = np.array([[0.0, 80.0], [90.0, 80.0], [180.0, 80.0], [270.0, 80.0]])
    ring = np.vstack([pts, pts[:1]])
    got = ring_area_ellipsoidal(ring)
    rev = ring_area_ellipsoidal(ring[::-1])
    assert got == pytest.approx(rev, rel=1e-12)
    # bounded by the caps of the circumscribed / inscribed parallels:
    # the geodesic edges bulge poleward of lat 80, so the enclosed cap
    # is smaller than the lat-80 cap and larger than the cap at the
    # edges' maximum latitude (< 81.6 for this square)
    T = ellipsoid_area()
    cap80 = T / 2 - 2 * math.pi * float(zone_area(math.sin(math.radians(80))))
    cap82 = T / 2 - 2 * math.pi * float(zone_area(math.sin(math.radians(82))))
    assert cap82 < got < cap80


def test_orientation_and_duplicate_invariance():
    pts = np.array([[10.0, 40.0], [12.5, 41.0], [12.0, 43.5], [9.5, 42.5]])
    ring = np.vstack([pts, pts[:1]])
    a1 = ring_area_ellipsoidal(ring)
    a2 = ring_area_ellipsoidal(ring[::-1])
    assert a1 == pytest.approx(a2, rel=1e-12)
    dup = np.vstack([pts[:2], pts[1:2], pts[2:], pts[:1]])  # repeated vertex
    assert ring_area_ellipsoidal(dup) == pytest.approx(a1, rel=1e-12)


def test_split_additivity():
    # triangle ABC + triangle ACD = quadrilateral ABCD (shared diagonal
    # cancels; checks sign/orientation handling of S_edge)
    A, B, C, D = [10.0, 40.0], [12.5, 41.0], [12.0, 43.5], [9.5, 42.5]
    quad = ring_area_ellipsoidal(np.array([A, B, C, D, A]))
    t1 = ring_area_ellipsoidal(np.array([A, B, C, A]))
    t2 = ring_area_ellipsoidal(np.array([A, C, D, A]))
    assert t1 + t2 == pytest.approx(quad, rel=1e-12)


def test_polygon_with_hole():
    shell = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], float)
    hole = np.array(
        [[0.4, 0.4], [0.6, 0.4], [0.6, 0.6], [0.4, 0.6], [0.4, 0.4]], float
    )
    from pygeoops_spark.geom.wkb import Geometry, POLYGON

    poly = Geometry(POLYGON, [shell, hole])
    got = polygon_area_ellipsoidal(poly)
    exp = ring_area_ellipsoidal(shell) - ring_area_ellipsoidal(hole)
    assert got == pytest.approx(exp, rel=1e-14)
    # sanity: 1 degree square at the equator is ~12,309 km^2, minus a
    # 4% hole -> ~11,817 km^2
    assert 1.15e10 < got < 1.22e10


def test_degenerate_rings():
    assert ring_area_ellipsoidal(np.array([[0, 0], [1, 1], [0, 0]], float)) == 0.0
    assert (
        ring_area_ellipsoidal(np.array([[5, 5], [5, 5], [5, 5], [5, 5]], float))
        == 0.0
    )


def test_vs_spherical_divergence_is_ellipsoidal_scale():
    # the ellipsoidal and authalic-sphere areas must agree to ~0.3%
    # (same total area) but differ beyond 1e-5 at mid latitudes — i.e.
    # the new kernel is genuinely ellipsoidal, not the sphere again
    pts = np.array([[10.0, 40.0], [12.5, 41.0], [12.0, 43.5], [9.5, 42.5]])
    ring = np.vstack([pts, pts[:1]])
    ell = ring_area_ellipsoidal(ring)
    sph = ring_area_geodesic(ring)
    rel = abs(ell - sph) / ell
    assert 1e-5 < rel < 3e-3


def test_near_antipodal_edge_shooting_fallback():
    """Code-review r03 finding: the auxiliary-sphere fixed point
    oscillates for near-antipodal endpoints (the shortest geodesic is
    near-meridional over a pole) and used to return a silently wrong
    area (~28% off).  Such edges now route to the exact ODE-shooting
    fallback.  Validation: split the long edge at a point ON its true
    geodesic (precomputed with the polished fine integrator; the path
    tops out at lat 81.85) — the two sub-triangles use the ordinary
    converged path, and their sum must match the whole."""
    tri = np.array([[0, 0.3], [179.9, -0.2], [90, 30], [0, 0.3]])
    whole = ring_area_ellipsoidal(tri)
    mid_lon, mid_lat = 91.67834365582266, 81.84953910527652
    t1 = np.array([[0, 0.3], [mid_lon, mid_lat], [90, 30], [0, 0.3]])
    t2 = np.array(
        [[mid_lon, mid_lat], [179.9, -0.2], [90, 30], [mid_lon, mid_lat]]
    )
    split = ring_area_ellipsoidal(t1) + ring_area_ellipsoidal(t2)
    assert whole == pytest.approx(split, rel=1e-9)


def test_near_antipodal_edge_southern_split():
    """Split identity for a near-antipodal edge bent over the SOUTH pole with
    L < 0: the split point is the ODE midpoint of the solved geodesic
    (RK4 from the returned azimuth over half the returned length), and
    the two sub-triangles take the ordinary converged path."""
    from pygeoops_spark.geom.geodesic import geodesic_inverse

    p, q, c = [0.0, -10.0], [-179.5, 9.5], [-90.0, -35.0]
    s12, az1 = geodesic_inverse([p[0]], [p[1]], [q[0]], [q[1]])
    assert _ode_miss(p[0], p[1], q[0], q[1], s12[0], az1[0]) < 1e-6
    path = geodesic_ode_path(math.radians(p[1]), 0.0, az1[0], s12[0] / 2, 20000)
    mid = [math.degrees(path[-1, 1]), math.degrees(path[-1, 0])]
    assert mid[1] < -60  # the path bends over the south pole
    whole = ring_area_ellipsoidal(np.array([p, q, c, p]))
    split = ring_area_ellipsoidal(np.array([p, mid, c, p])) + ring_area_ellipsoidal(
        np.array([mid, q, c, mid])
    )
    assert whole == pytest.approx(split, rel=1e-9)


def test_geodesic_inverse_equator_closed_form():
    from pygeoops_spark.geom.geodesic import geodesic_inverse

    s, az = geodesic_inverse([0.0], [0.0], [90.0], [0.0])
    assert s[0] == pytest.approx(WGS84_A * math.pi / 2, rel=1e-14)
    assert az[0] == pytest.approx(math.pi / 2, abs=1e-12)  # due east


def test_geodesic_inverse_vs_ode_landing():
    """The returned (distance, azimuth) must carry the exact geodesic
    ODE from point 1 onto point 2 — sub-micrometre landing at 20k RK4
    steps; also direction symmetry."""
    from pygeoops_spark.geom.geodesic import geodesic_inverse

    rng = np.random.default_rng(5)
    for _ in range(4):
        lo1, la1 = rng.uniform(-170, 170), rng.uniform(-80, 80)
        lo2 = lo1 + rng.uniform(-40, 40)
        la2 = float(np.clip(la1 + rng.uniform(-30, 30), -89, 89))
        s12, az1 = geodesic_inverse([lo1], [la1], [lo2], [la2])
        path = geodesic_ode_path(
            math.radians(la1), math.radians(lo1), float(az1[0]), float(s12[0]), 20000
        )
        land = (
            math.hypot(
                path[-1, 0] - math.radians(la2),
                (path[-1, 1] - math.radians(lo2) + math.pi) % (2 * math.pi)
                - math.pi,
            )
            * WGS84_A
        )
        assert land < 1e-4  # metres
        s21, _ = geodesic_inverse([lo2], [la2], [lo1], [la1])
        assert float(s21[0]) == pytest.approx(float(s12[0]), abs=1e-6)


def test_geodesic_inverse_meridian_arc():
    """Meridian arc 0 -> 50N: compare against direct numeric
    integration of the meridional radius M(phi)."""
    from pygeoops_spark.geom.geodesic import geodesic_inverse

    s, az = geodesic_inverse([10.0], [0.0], [10.0], [50.0])
    e2 = WGS84_F * (2 - WGS84_F)
    phi = np.linspace(0, math.radians(50), 200001)
    M = WGS84_A * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
    exact = float(np.trapz(M, phi))
    assert s[0] == pytest.approx(exact, rel=1e-10)
    assert az[0] == pytest.approx(0.0, abs=1e-12)  # due north


def test_geodesic_inverse_vs_helmert_series():
    """The driver oracle's truncated Bessel/Helmert meridian-arc
    series (third-flattening n, fixed public coefficients) must agree
    with the kernel to well under the 9-decimal rounding granularity
    (0.01 m) across the driver's meridional pair set — mirrors the
    geodesic_distance variant-2 oracle in __spark_entry__.py."""
    from pygeoops_spark.geom.geodesic import geodesic_inverse

    n = WGS84_F / (2.0 - WGS84_F)
    k = WGS84_A / (1.0 + n)
    c0 = 1.0 + n * n / 4.0 + n**4 / 64.0
    c2 = -1.5 * (n - n**3 / 8.0)
    c4 = (15.0 / 16.0) * (n * n - n**4 / 4.0)
    c6 = -(35.0 / 48.0) * n**3
    c8 = (315.0 / 512.0) * n**4

    def arc(lat):
        p = math.radians(lat)
        return k * (
            c0 * p
            + c2 * math.sin(2 * p)
            + c4 * math.sin(4 * p)
            + c6 * math.sin(6 * p)
            + c8 * math.sin(8 * p)
        )

    for i in range(64):
        lon = float((i * 13) % 360 - 180) + 0.5
        lat1 = float((i * 17) % 140 - 70) + 0.25
        lat2 = float((i * 29) % 150 - 75) + 0.5
        if abs(lat1 - lat2) < 0.5:
            lat2 += 3.0
        s, _az = geodesic_inverse([lon], [lat1], [lon], [lat2])
        assert abs(s[0] - abs(arc(lat2) - arc(lat1))) < 1e-3


def test_geodesic_inverse_near_antipodal_fallback():
    """Seeded near-antipodal sweep (|lat| <= 40, lat2 ~ -lat1, |L| in
    179.3..179.97, alternating signs of L): nearly every pair is one
    where the fixed point oscillates and the azimuth solve takes over.
    Pair 4 (-32.4697, 32.3402, dL 179.3203) is one whose fixed point
    stops at a 3.1e-12 rad residual without converging: trusting it
    landed 2.0e-5 m off, so it must be routed too.  Every (s, az1) must
    carry the exact geodesic ODE (RK4, 40,000 steps) onto the target
    within 3e-7 m (the landing reads 1.1-2.4e-7 m at 20k-80k steps and
    does not fall as the steps double), and the reverse pair must have
    the same length."""
    from pygeoops_spark.geom.geodesic import _ANTIPODAL_RESID, geodesic_inverse

    rng = np.random.default_rng(3)
    lat1 = rng.uniform(-40, 40, 12)
    lat2 = -lat1 + rng.uniform(-0.3, 0.3, 12)
    dlon = rng.uniform(179.3, 179.97, 12) * np.tile([1.0, -1.0], 6)
    b1, b2 = _reduced_lat(np.radians(lat1), WGS84_F), _reduced_lat(np.radians(lat2), WGS84_F)
    resid = _solve_edges(b1, b2, np.radians(dlon), WGS84_F)[-1]
    routed = resid > _ANTIPODAL_RESID
    assert routed.sum() >= 11
    assert 1e-13 < resid[4] < 1e-9 and routed[4]
    assert {1.0, -1.0} <= set(np.sign(dlon[routed]))  # both signs of L
    assert {1.0, -1.0} <= set(np.sign(lat1[routed]))  # both hemispheres
    assert np.abs(lat1[routed]).max() > 30
    s12, az1 = geodesic_inverse(np.zeros(12), lat1, dlon, lat2)
    s21, _ = geodesic_inverse(dlon, lat2, np.zeros(12), lat1)
    for i in range(12):
        assert _ode_miss(0.0, lat1[i], dlon[i], lat2[i], s12[i], az1[i]) < 3e-7
        assert s21[i] == pytest.approx(s12[i], abs=1e-6)


@pytest.mark.parametrize(
    "tri", [[[0, 0], [179.7, 0], [90, 30]], [[0, 10], [179.6, -10], [90, 40]]]
)
def test_near_antipodal_area_independent_of_orientation(tri):
    """Both triangles carry an edge with two equally short geodesics
    (lat2 = -lat1, one over each pole); either traversal must pick the
    same one, so the ring and its reverse have the same area."""
    ring = np.array(tri + tri[:1], float)
    fwd = ring_area_ellipsoidal(ring)
    assert ring_area_ellipsoidal(ring[::-1]) == pytest.approx(fwd, rel=1e-12)


def test_geodesic_inverse_coincident():
    from pygeoops_spark.geom.geodesic import geodesic_inverse

    s, az = geodesic_inverse([5.0], [5.0], [5.0], [5.0])
    assert s[0] == 0.0 and az[0] == 0.0


def test_geodesic_distance_col_composes_with_knn(spark):
    """Engine-surface composition: cell-index kNN candidates re-ranked
    by TRUE geodesic distance (operators/geodesic.py) must agree with
    a brute-force geodesic ranking — the geographic analog of the
    planar kNN exactness tests."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pygeoops_spark.geom.geodesic import geodesic_inverse
    from pygeoops_spark.operators.geodesic import geodesic_distance_col

    rng = np.random.default_rng(9)
    t_lon = rng.uniform(10, 12, 40).round(4)
    t_lat = rng.uniform(45, 47, 40).round(4)
    targets = spark.createDataFrame(
        pd.DataFrame({"tid": range(40), "lon": t_lon, "lat": t_lat})
    )
    probes = spark.createDataFrame(
        pd.DataFrame({"pid": [0, 1], "plon": [11.0, 10.2], "plat": [46.0, 45.3]})
    )
    ranked = (
        probes.crossJoin(targets)
        .withColumn("gd", geodesic_distance_col("plon", "plat", "lon", "lat"))
        .withColumn(
            "rk",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("pid")
                .orderBy(F.asc("gd"), F.asc("tid"))
            ),
        )
        .where(F.col("rk") <= 3)
        .select("pid", "tid", "gd", "rk")
        .collect()
    )
    got = {(r["pid"], r["rk"]): (r["tid"], r["gd"]) for r in ranked}
    # driver-side brute force with the same kernel API (vectorized call)
    for pid, (plon, plat) in enumerate([(11.0, 46.0), (10.2, 45.3)]):
        d, _az = geodesic_inverse(
            np.full(40, plon), np.full(40, plat), t_lon, t_lat
        )
        order = sorted(range(40), key=lambda i: (d[i], i))
        for rk, i in enumerate(order[:3], start=1):
            tid, gd = got[(pid, rk)]
            assert tid == i
            assert gd == pytest.approx(d[i], rel=1e-12)


def test_geodesic_direct_equator_closed_form():
    from pygeoops_spark.geom.geodesic import geodesic_direct

    lon2, lat2 = geodesic_direct(
        [10.0], [0.0], [math.pi / 2], [WGS84_A * math.radians(30)]
    )
    assert lon2[0] == pytest.approx(40.0, abs=1e-12)
    assert lat2[0] == pytest.approx(0.0, abs=1e-12)


def test_geodesic_direct_inverse_roundtrip():
    """direct(inverse(p1, p2)) must land back on p2 — both solvers
    share the exact integrals, so the identity holds to ~1e-7 m."""
    from pygeoops_spark.geom.geodesic import geodesic_direct, geodesic_inverse

    rng = np.random.default_rng(12)
    for _ in range(25):
        lo1, la1 = rng.uniform(-170, 170), rng.uniform(-85, 85)
        lo2 = lo1 + rng.uniform(-60, 60)
        la2 = float(np.clip(la1 + rng.uniform(-50, 50), -89, 89))
        s, az = geodesic_inverse([lo1], [la1], [lo2], [la2])
        glon, glat = geodesic_direct([lo1], [la1], [float(az[0])], [float(s[0])])
        err = (
            math.hypot((glon[0] - lo2 + 180) % 360 - 180, glat[0] - la2) * 111000
        )
        assert err < 1e-5  # metres


def test_geodesic_direct_zero_distance():
    from pygeoops_spark.geom.geodesic import geodesic_direct

    lon2, lat2 = geodesic_direct([7.5], [-33.25], [1.0], [0.0])
    assert lon2[0] == 7.5 and lat2[0] == -33.25


def test_geodesic_direct_beyond_half_circumference():
    """The longitude unwrap is continuous, so distances past half the
    circumference are supported: the equator closed form, and an
    oblique path checked on the RK4 geodesic ODE."""
    from pygeoops_spark.geom.geodesic import geodesic_direct

    lon2, lat2 = geodesic_direct([10.0], [0.0], [math.pi / 2], [WGS84_A * math.radians(200)])
    assert lon2[0] == pytest.approx(-150.0, abs=1e-9)
    assert lat2[0] == pytest.approx(0.0, abs=1e-12)
    s = 2.6e7  # ~0.65 of the circumference
    lon2, lat2 = geodesic_direct([20.0], [30.0], [1.0], [s])
    path = geodesic_ode_path(math.radians(30.0), math.radians(20.0), 1.0, s, 40000)
    dlon = (path[-1, 1] - math.radians(lon2[0]) + math.pi) % (2 * math.pi) - math.pi
    assert math.hypot(path[-1, 0] - math.radians(lat2[0]), dlon) * WGS84_A < 1e-5
