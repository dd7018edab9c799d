"""Spark column functions for geodesic (ellipsoidal WGS84) measures.

Arrow-batched pandas UDFs over plain double columns — the geographic
analog of the planar distance used by the kNN layer. The kernel
(geom/geodesic.py) is vectorized across the whole batch, so cost is
~us per pair, zero shuffle, and the function composes with any join:
e.g. rank geographic kNN candidates by true geodesic distance after
the cell-index candidate join.

Reference parity: pygeoops itself has no distance function (it
delegates geographic measures to pyproj, _general.py:530-537); this is
part of the engine's brand-new surface, with the same Karney-grade
semantics as the area kernel.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def geodesic_distance_col(
    lon1, lat1, lon2, lat2, a: float | None = None, f: float | None = None
) -> Column:
    """Geodesic (shortest-path) distance in metres between per-row
    coordinate pairs (degrees). Defaults to WGS84; pass ``f=0`` for the
    exact sphere limit (where the kernel must agree with the
    great-circle closed form — the independent oblique oracle)."""
    from pygeoops_spark.geom.geodesic import WGS84_A, WGS84_F

    ell_a = WGS84_A if a is None else float(a)
    ell_f = WGS84_F if f is None else float(f)

    @F.pandas_udf(DoubleType())
    def _dist(
        a: pd.Series, b: pd.Series, c: pd.Series, d: pd.Series
    ) -> pd.Series:
        from pygeoops_spark.geom.geodesic import geodesic_inverse

        s12, _az = geodesic_inverse(
            a.to_numpy(), b.to_numpy(), c.to_numpy(), d.to_numpy(),
            a=ell_a, f=ell_f,
        )
        return pd.Series(s12)

    return _dist(lon1, lat1, lon2, lat2)


def geodesic_azimuth_col(
    lon1, lat1, lon2, lat2, a: float | None = None, f: float | None = None
) -> Column:
    """Forward azimuth in radians (clockwise from north) of the
    geodesic from point 1 to point 2.  Defaults to WGS84; ``f=0`` is
    the exact sphere limit (initial great-circle bearing)."""
    from pygeoops_spark.geom.geodesic import WGS84_A, WGS84_F

    ell_a = WGS84_A if a is None else float(a)
    ell_f = WGS84_F if f is None else float(f)

    @F.pandas_udf(DoubleType())
    def _az(
        a: pd.Series, b: pd.Series, c: pd.Series, d: pd.Series
    ) -> pd.Series:
        from pygeoops_spark.geom.geodesic import geodesic_inverse

        _s12, az = geodesic_inverse(
            a.to_numpy(), b.to_numpy(), c.to_numpy(), d.to_numpy(),
            a=ell_a, f=ell_f,
        )
        return pd.Series(az)

    return _az(lon1, lat1, lon2, lat2)


def geodesic_destination_cols(
    lon1, lat1, azimuth_rad, distance_m,
    a: float | None = None, f: float | None = None,
):
    """(lon2, lat2) destination columns for the direct geodesic problem
    (start degrees, azimuth radians clockwise from north, metres).
    Defaults to WGS84; ``f=0`` is the exact sphere limit (great-circle
    waypoint)."""
    from pygeoops_spark.geom.geodesic import WGS84_A, WGS84_F

    ell_a = WGS84_A if a is None else float(a)
    ell_f = WGS84_F if f is None else float(f)

    @F.pandas_udf("struct<lon2:double,lat2:double>")
    def _dest(
        a: pd.Series, b: pd.Series, c: pd.Series, d: pd.Series
    ) -> pd.DataFrame:
        from pygeoops_spark.geom.geodesic import geodesic_direct

        lon2, lat2 = geodesic_direct(
            a.to_numpy(), b.to_numpy(), c.to_numpy(), d.to_numpy(),
            a=ell_a, f=ell_f,
        )
        return pd.DataFrame({"lon2": lon2, "lat2": lat2})

    return _dest(lon1, lat1, azimuth_rad, distance_m)
