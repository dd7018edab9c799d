"""Point-in-polygon spatial join via cell-id candidate equi-join, planar
(``pip_join_rects``/``pip_join_polygons``) and geographic
(``geo_pip_join``) — one core written against ``join.cells.CellScheme``.

Scale design (the whole point of this layer):
  * zones explode to their covering cells ONCE (small side) and are
    broadcast — the big point table is never shuffled;
  * candidate pairing is a broadcast hash equi-join on a long cell id
    (whole-stage codegen, AQE-friendly);
  * the exact test is pure SQL `BETWEEN` for rectangles, and a
    vectorized pandas-UDF crossing-number kernel for general polygons
    (polygons decoded once per executor batch — the Spark analog of the
    reference's prepared-geometry prefilter,
    /root/reference/pygeoops/_difference.py:157-165);
  * a point lies in exactly one cell and each zone lists each covered
    cell once => the equi-join emits no duplicate (point, zone) pairs.

Skew: Zipfian hotspots concentrate points in few cells, which is
harmless on the broadcast plan (no shuffle of the point side). For
shuffle plans (huge zone side) pass ``n_salt`` + AQE skew-join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from pygeoops_spark.geom.kernels import (
    point_in_polygon_prepared,
    points_in_polygon,
)
from pygeoops_spark.geom.wkb import POLYGON, get_parts, wkb_loads
from pygeoops_spark.join.cells import GEO, PLANAR, CellScheme, auto_level

# prepared-broadcast cap: total zone WKB above this stays on the
# ship='wkb' column path (driver collect + executor broadcast memory)
PREPARED_MAX_BYTES = 256 * 1024 * 1024


def _resolve(points, zones, scheme: CellScheme, level, ship=None, zone_geom=None):
    """Resolve ``level=None`` and ``ship='auto'`` with ONE zone-side
    aggregate (r07, guide §1.2: these are eager actions at
    plan-construction time — ADVICE r06 — so every saved action is a
    saved Spark job per call).

    level=None → density-derived default: points-per-cell ≈ 16, capped
    so cells never shrink below median-zone-span/8 (one parquet footer
    count + the tiny zones-side aggregate). ship='auto' → 'prepared'
    unless the zones' total WKB exceeds PREPARED_MAX_BYTES; explicit
    'prepared'/'wkb' pass through."""
    aggs = []
    if ship == "auto":
        aggs.append(F.sum(F.length(F.col(zone_geom))).alias("b"))
    if level is None:
        ax = scheme.span_axis
        aggs.append(F.percentile_approx(F.col(f"{ax}max") - F.col(f"{ax}min"), 0.5).alias("m"))
    if not aggs:
        return level, ship
    row = zones.select(*aggs).first()
    if ship == "auto":
        # the broadcast ships DECODED float64 ring ndarrays plus per-ring
        # Python object overhead — ~3x the raw WKB payload — so the cap is
        # applied to the decoded estimate, not the WKB length (ADVICE r06)
        ship = "prepared" if int(row["b"] or 0) * 3 <= PREPARED_MAX_BYTES else "wkb"
    if level is None:
        span = float(row["m"] or 0.0)
        level = auto_level(points.count(), scheme, min_cell=span / 8.0 if span > 0 else None)
    return level, ship


def _cell_sides(points, zones, x, y, level, scheme, broadcast_zones, n_salt, salt_key):
    """(points, zone cells, key) for the candidate equi-join: zones
    explode to their covering cells once, points get their cell id.

    ``n_salt > 1`` salts the key for Zipfian hotspots. It matters on the
    SHUFFLE plan (``broadcast_zones=False``): the bbox filter and the
    Arrow-batched PIP kernel run in the post-shuffle join stage, so an
    unsalted hot cell funnels ALL its candidates through one task's
    single Python worker. The zone-cell table is replicated n_salt
    times (still tiny); each point picks one replica via
    pmod(hash(key)), so a hot cell spreads over n_salt join keys →
    n_salt tasks/workers (measured on kernel-bound zones:
    scripts/skew_bench.py → BENCH/skew_salted_r06.json). Output is
    identical to the unsalted join (asserted in tests)."""
    zc = zones.withColumn("_cell", F.explode(scheme.zone_cover(level)))
    key, point_key = "_cell", scheme.cell_id(x, y, level)
    if n_salt > 1:
        zc = zc.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
        zc = zc.withColumn("_skey", F.col("_cell") * n_salt + F.col("_salt")).drop(
            "_cell", "_salt"
        )
        salt = F.col(salt_key) if salt_key else (F.col(x) * 7919 + F.col(y))
        key, point_key = "_skey", point_key * n_salt + F.pmod(F.hash(salt), F.lit(n_salt))
    if broadcast_zones:
        zc = F.broadcast(zc)
    return points.withColumn(key, point_key), zc, key


def _in_bbox(px: Column, py: Column, scheme: CellScheme) -> Column:
    """Closed bbox test of a point against the zone's bbox columns."""
    ax, ay = scheme.axes
    return (
        (px >= F.col(f"{ax}min"))
        & (px <= F.col(f"{ax}max"))
        & (py >= F.col(f"{ay}min"))
        & (py <= F.col(f"{ay}max"))
    )


def pip_join_rects(
    points: DataFrame,
    zones: DataFrame,
    x: str = "x",
    y: str = "y",
    level: int | None = 5,
    broadcast_zones: bool = True,
    n_salt: int = 1,
    salt_key: str | None = None,
) -> DataFrame:
    """Join points to rectangle zones (zones carry xmin/ymin/xmax/ymax).

    Fully SQL (no UDF): cell equi-join prefilter + BETWEEN exact test.
    Inclusive bounds on all edges (rectangle closed set).
    ``level=None`` derives the cell level from point density
    (see _resolve; VERDICT r05 task #5). ``n_salt``/``salt_key`` salt
    the join key for hotspots (see _cell_sides); with
    ``broadcast_zones=False`` the join runs as a shuffle (sort-merge)
    join — the plan where key skew actually stalls a task and where
    salting earns its keep.
    """
    return _pip_join(
        points, zones, x, y, None, None, level, broadcast_zones, None, PLANAR,
        n_salt, salt_key,
    )


def _prepare_rings(wkb_bytes: bytes) -> list[tuple[np.ndarray, bool]]:
    """Decode a polygon/multipolygon WKB into [(ring, is_hole), ...]
    for point_in_polygon_prepared."""
    rings: list[tuple[np.ndarray, bool]] = []
    for part in get_parts(wkb_loads(wkb_bytes)):
        if part.type_id != POLYGON or not part.data:
            continue
        rings.append((np.asarray(part.data[0]), False))
        for hole in part.data[1:]:
            rings.append((np.asarray(hole), True))
    return rings


def _pip_join(
    points, zones, x, y, zone_geom, zone_id, level, broadcast_zones, ship,
    scheme: CellScheme = PLANAR, n_salt: int = 1, salt_key=None, sort: bool = True,
) -> DataFrame:
    """The PIP core: cell equi-join of points against the zones' bbox
    cover, the cheap SQL bbox pre-filter, then the kernel. ``ship=None``
    (rectangle zones) stops at the bbox test, which is then exact;
    ``sort=False`` skips the zone-purity sort (streaming)."""
    level, ship = _resolve(points, zones, scheme, level, ship, zone_geom)
    if ship == "prepared":
        # decode zone geometries ONCE on the driver and ship them to
        # executors as a Spark broadcast variable keyed by zone id
        rows = zones.select(zone_id, zone_geom).collect()
        bc = zones.sparkSession.sparkContext.broadcast(
            {r[0]: _prepare_rings(bytes(r[1])) for r in rows}
        )
        zones = zones.drop(zone_geom)
    pts, zc, key = _cell_sides(
        points, zones, x, y, level, scheme, broadcast_zones, n_salt, salt_key
    )
    cand = pts.join(zc, key).drop(key)
    drop = []
    px = scheme.zone_frame_x(x)
    if px is not None:
        # point x in the zone's frame (GeoScheme: unwrapped longitude)
        x = "_p" + scheme.axes[0]
        cand, drop = cand.withColumn(x, px), [x]
    cand = cand.where(_in_bbox(F.col(x), F.col(y), scheme))
    if ship == "prepared":
        if sort:
            # shuffle-free local sort: Arrow batches become zone-pure, so
            # the kernel runs one big vectorized call per zone instead of
            # shattering across interleaved zones (the broadcast plan joins
            # in input-row order; measured ~2x on kernel-bound zones)
            cand = cand.sortWithinPartitions(zone_id)
        cand = cand.where(_pip_prepared_udf(bc)(F.col(x), F.col(y), F.col(zone_id)))
    elif ship is not None:
        # drop the geometry column on the wkb path too, so ship='auto'
        # yields ONE output schema regardless of which side of the size
        # threshold the zones landed on (ADVICE r06: a schema that flips
        # with data volume breaks downstream selects only at scale)
        cand = cand.where(_pip_udf(F.col(x), F.col(y), F.col(zone_geom)))
        drop.append(zone_geom)
    return cand.drop(*drop) if drop else cand


def pip_join_polygons(
    points: DataFrame,
    zones: DataFrame,
    x: str = "x",
    y: str = "y",
    zone_geom: str = "zone_wkb",
    zone_id: str = "zone_id",
    level: int | None = 5,
    broadcast_zones: bool = True,
    ship: str = "auto",
    n_salt: int = 1,
    salt_key: str | None = None,
) -> DataFrame:
    """Join points to arbitrary polygon zones (WKB column + bbox cols).

    Candidates via cell equi-join on the zone bbox cover; the exact
    point-in-polygon runs as an Arrow-batched pandas UDF. Within a
    batch, rows are grouped by zone so each polygon is decoded once
    (prepared-geometry behavior). ``level=None`` derives the cell
    level from point density (see _resolve). ``n_salt``/``salt_key``
    salt the join key for hotspots on the shuffle plan (see _cell_sides).

    ship='auto' (default) resolves to 'prepared' while the zones'
    total WKB fits PREPARED_MAX_BYTES: zone geometries are decoded
    ONCE on the driver and shipped to executors as a Spark broadcast
    variable keyed by ``zone_id``; only the 8-byte id rides the
    candidate rows. ship='wkb' replicates the WKB bytes onto every
    candidate row through the Arrow transfer — at V-vertex zones that
    is 16·V bytes PER CANDIDATE PAIR (measured un-runnable at 4096
    vertices x 200k points) — so it is only for zones tables too large
    to collect, where it pairs with broadcast_zones=False (bucketed
    shuffle join). The prepared output omits the ``zone_geom`` column
    (never needed by callers; keeps the plan narrow).
    """
    return _pip_join(
        points, zones, x, y, zone_geom, zone_id, level, broadcast_zones, ship,
        PLANAR, n_salt, salt_key,
    )


def geo_pip_join(
    points: DataFrame,
    zones: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    zone_geom: str = "zone_wkb",
    zone_id: str = "zone_id",
    level: int | None = 5,
    broadcast_zones: bool = True,
    ship: str = "auto",
) -> DataFrame:
    """Point-in-polygon join on geographic coordinates (plate-carree
    edge semantics — straight edges in lon/lat space, the same
    convention the reference applies to whatever CRS it is handed).

    Zones carry UNWRAPPED polygon coords and lonmin/latmin/lonmax/latmax
    bbox columns; date-line zones need no special casing (see
    join.cells.GeoScheme). Same scale shape and ship modes as
    pip_join_polygons."""
    return _pip_join(
        points, zones, lon, lat, zone_geom, zone_id, level, broadcast_zones, ship, GEO
    )


def _pip_prepared_udf(bc):
    """Arrow-batched PIP against a broadcast {zone_id: rings} dict —
    candidate rows carry only the zone id, never geometry bytes."""

    @F.pandas_udf(BooleanType())
    def _pip(px: pd.Series, py: pd.Series, zid: pd.Series) -> pd.Series:
        out = np.zeros(len(px), dtype=bool)
        pxv, pyv = px.to_numpy(np.float64), py.to_numpy(np.float64)
        zv = zid.to_numpy()
        prepared = bc.value
        for z in pd.unique(zv):
            ii = np.nonzero(zv == z)[0]
            out[ii] = point_in_polygon_prepared(prepared[z])(pxv[ii], pyv[ii])
        return pd.Series(out)

    return _pip


@F.pandas_udf(BooleanType())
def _pip_udf(px: pd.Series, py: pd.Series, wkb: pd.Series) -> pd.Series:
    """Crossing-number point-in-polygon over an Arrow batch; rows are
    grouped by polygon bytes so each polygon is decoded once
    (prepared-geometry behavior)."""
    out = np.zeros(len(px), dtype=bool)
    pxv, pyv = px.to_numpy(np.float64), py.to_numpy(np.float64)
    groups: dict[bytes, list[int]] = {}
    for i, b in enumerate(wkb):
        groups.setdefault(bytes(b), []).append(i)
    for b, idxs in groups.items():
        geom = wkb_loads(b)
        ii = np.asarray(idxs)
        out[ii] = points_in_polygon(pxv[ii], pyv[ii], geom)
    return pd.Series(out)
