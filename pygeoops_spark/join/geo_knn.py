"""Geographic (lon/lat) kNN join: cell-ring candidates + great-circle
or true-geodesic ranking.

The geographic analog of join/knn.py's planar kNN (VERDICT r03 task 7
— previously the geodesic re-rank existed only as a test composition):
the same ring-expansion core over the lon/lat ``GeoScheme``
(join/cells.py — longitude convergence, date-line wrap, polar rows).

* **Exactness**: the k-th neighbour is provably correct when its
  distance is below a lower bound on the distance to anything OUTSIDE
  the covered region (``GeoScheme.safe_radius``: latitude-circle and
  meridian edges of the guaranteed-covered sub-box).  Probes that fail
  re-run with doubled radius, exactly like the planar knn_join.
* **Spheroid mode**: ranking by the true WGS84 geodesic (Arrow-batched
  kernel, geom/geodesic.py) keeps the sphere-based bound valid via a
  conservative shrink: s_ellipsoid >= (1-f) * (s_sphere(a) - 2 a f)
  (metric factor b/a plus the geographic->reduced latitude drift).

Reference parity note: pygeoops has no spatial join at all (it
delegates geographic measures to pyproj) — this operator is part of
the engine's brand-new surface (SURVEY §2.5 / north rule: kNN via
cell-ring expansion over web-page points).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pygeoops_spark.join.cells import GeoScheme
from pygeoops_spark.join.knn import _knn


def great_circle_distance_sql(
    plon: Column, plat: Column, tlon: Column, tlat: Column, a: float
) -> Column:
    """Sphere great-circle distance in metres, pure SQL.  The exact
    expression structure is mirrored by the DuckDB oracle (CLAUDE.md
    float-parity rule): acos of the clamped spherical dot product."""
    cosang = F.sin(F.radians(plat)) * F.sin(F.radians(tlat)) + F.cos(
        F.radians(plat)
    ) * F.cos(F.radians(tlat)) * F.cos(F.radians(plon - tlon))
    return F.lit(a) * F.acos(F.least(F.lit(1.0), F.greatest(F.lit(-1.0), cosang)))


def geodesic_knn_join(
    probes: DataFrame,
    targets: DataFrame,
    probe_key: str,
    target_key: str,
    k: int,
    level: int | None = 4,
    radius: int = 2,
    plon: str = "lon",
    plat: str = "lat",
    tlon: str = "lon",
    tlat: str = "lat",
    broadcast_targets: bool = True,
    guarantee_exact: bool = False,
    spheroid: bool = False,
    a: float | None = None,
    f: float | None = None,
    _caches: list | None = None,
) -> DataFrame:
    """Top-k nearest targets per probe by great-circle (default) or
    true WGS84 geodesic (``spheroid=True``) distance; deterministic
    tie-break on target key.

    Output: probe columns + ``<target_key>_nn`` + ``dist_m`` + ``knn_rank``.
    Cache lifecycle: see join/knn.py:_knn.
    """
    from pygeoops_spark.geom.geodesic import WGS84_A, WGS84_F

    ell_a = WGS84_A if a is None else float(a)
    ell_f = WGS84_F if f is None else float(f)
    if spheroid:
        from pygeoops_spark.operators.geodesic import geodesic_distance_col

        def dist(plon_c, plat_c, tlon_c, tlat_c):
            return geodesic_distance_col(plon_c, plat_c, tlon_c, tlat_c, a=ell_a, f=ell_f)
    else:
        def dist(plon_c, plat_c, tlon_c, tlat_c):
            return great_circle_distance_sql(plon_c, plat_c, tlon_c, tlat_c, ell_a)

    scheme = GeoScheme(ell_a, ell_f if spheroid else None)
    return _knn(
        scheme, probes, targets, probe_key, target_key, k, level, radius,
        (plon, plat), (tlon, tlat), broadcast_targets, guarantee_exact, dist, "dist_m",
        _caches,
    )
