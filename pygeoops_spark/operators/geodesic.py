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

from pygeoops_spark.geom.geodesic import WGS84_A, WGS84_F, geodesic_direct, geodesic_inverse


def _geodesic_udf(kernel, pick, returns, a: float | None, f: float | None):
    """Arrow UDF over four double columns: ``kernel`` on the whole batch
    (WGS84 unless ``a``/``f`` are given), its result tuple mapped to the
    output by ``pick``."""
    ell_a = WGS84_A if a is None else float(a)
    ell_f = WGS84_F if f is None else float(f)

    @F.pandas_udf(returns)
    def _udf(c1: pd.Series, c2: pd.Series, c3: pd.Series, c4: pd.Series) -> pd.Series:
        cols = (c.to_numpy() for c in (c1, c2, c3, c4))
        return pick(*kernel(*cols, a=ell_a, f=ell_f))

    return _udf


def geodesic_distance_col(
    lon1, lat1, lon2, lat2, a: float | None = None, f: float | None = None
) -> Column:
    """Geodesic (shortest-path) distance in metres between per-row
    coordinate pairs (degrees). Defaults to WGS84; pass ``f=0`` for the
    exact sphere limit (where the kernel must agree with the
    great-circle closed form — the independent oblique oracle)."""
    udf = _geodesic_udf(geodesic_inverse, lambda s12, _az: pd.Series(s12), DoubleType(), a, f)
    return udf(lon1, lat1, lon2, lat2)


def geodesic_azimuth_col(
    lon1, lat1, lon2, lat2, a: float | None = None, f: float | None = None
) -> Column:
    """Forward azimuth in radians (clockwise from north) of the
    geodesic from point 1 to point 2.  Defaults to WGS84; ``f=0`` is
    the exact sphere limit (initial great-circle bearing)."""
    udf = _geodesic_udf(geodesic_inverse, lambda _s12, az: pd.Series(az), DoubleType(), a, f)
    return udf(lon1, lat1, lon2, lat2)


def geodesic_destination_cols(
    lon1, lat1, azimuth_rad, distance_m,
    a: float | None = None, f: float | None = None,
):
    """(lon2, lat2) destination columns for the direct geodesic problem
    (start degrees, azimuth radians clockwise from north, metres).
    Defaults to WGS84; ``f=0`` is the exact sphere limit (great-circle
    waypoint)."""
    udf = _geodesic_udf(
        geodesic_direct,
        lambda lon2, lat2: pd.DataFrame({"lon2": lon2, "lat2": lat2}),
        "struct<lon2:double,lat2:double>",
        a,
        f,
    )
    return udf(lon1, lat1, azimuth_rad, distance_m)
