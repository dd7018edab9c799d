"""kNN join via cell-ring expansion + window top-k: one core written
against ``join.cells.CellScheme``, under the planar ``knn_join`` and the
geographic ``geodesic_knn_join`` (join/geo_knn.py).

Scale design: probes generate the cell neighborhood of their own cell
(pure SQL array + explode — no UDF), equi-join against target cell ids,
then a window `row_number() <= k` partitioned by probe. The shuffle keys
are cell ids (candidate join) and probe ids (top-k) — both well
distributed when salting is applied to hotspots; AQE skew-join covers
the rest.

Exactness (``guarantee_exact``) takes a fixed number of passes whatever
the density skew, after the two-job distance-bound kNN join of Lu et
al., *Efficient Processing of k Nearest Neighbor Joins using MapReduce*
(PVLDB 2012). Pass 1, the ring at the initial radius, gives each probe
an upper bound ``_kth`` on its k-th distance. A ring of radius r holds
every target closer than the scheme's safe radius (planar: r * cell
size), so one SQL expression over the doubling radii picks per probe the
smallest ring that provably holds its k nearest; pass 2 re-joins only
the probes that need a wider ring than the first, with that per-probe
radius. Probes short of k candidates take the brute-force pass. Rows
with a null coordinate take no part on either side.
"""

from __future__ import annotations

from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pygeoops_spark.join.cells import PLANAR, CellScheme, auto_level_knn
from pygeoops_spark.session import checkpoint_and_release

Dist = Callable[[Column, Column, Column, Column], Column]


def _rank(cand, probes, probe_key, target_key, k, p, t, dist: Dist, dist_col):
    """Top-k candidate targets per probe, deterministic tie-break on the
    target key: probe columns + ``<target_key>_nn`` + dist_col + knn_rank."""
    d = dist(F.col(p[0]), F.col(p[1]), F.col(t[0]), F.col(t[1])).alias(dist_col)
    nn_col = target_key + "_nn"
    w = Window.partitionBy(probe_key).orderBy(F.col(dist_col).asc(), F.col(nn_col).asc())
    return (
        cand.select(*probes.columns, F.col("_tkey").alias(nn_col), d)
        .withColumn("knn_rank", F.row_number().over(w))
        .where(F.col("knn_rank") <= k)
    )


def _target_cols(scheme: CellScheme, target_key: str, t: tuple[str, str]):
    """(alias names, columns) of the target key and coordinates."""
    ta = tuple("_t" + ax for ax in scheme.axes)
    cols = [F.col(target_key).alias("_tkey"), F.col(t[0]).alias(ta[0]), F.col(t[1]).alias(ta[1])]
    return ta, cols


def _brute(scheme, probes, targets, probe_key, target_key, k, p, t, dist, dist_col):
    """Exact top-k of ``probes`` over every target: the broadcast cross
    join, ranked like the ring path. Null-coordinate rows take no part."""
    ta, tsel = _target_cols(scheme, target_key, t)
    ts = targets.dropna(subset=list(t)).select(*tsel)
    cand = probes.dropna(subset=list(p)).crossJoin(F.broadcast(ts))
    return _rank(cand, probes, probe_key, target_key, k, p, ta, dist, dist_col)


def _escape(n_targets: int, k: int, radius: int, scheme: CellScheme, level: int) -> bool:
    """Whether an exact kNN takes the brute force outright: the target
    table is no bigger than the initial ring's own capacity (k targets
    per cell x (2r+1)^2 cells — the occupancy auto_level_knn aims the
    ring at), so cell pruning cannot pay for the exactness passes, or
    the initial ring already holds the whole grid."""
    return n_targets <= k * (2 * radius + 1) ** 2 or scheme.ring_covers_grid(level, radius)


def _knn(
    scheme: CellScheme, probes: DataFrame, targets: DataFrame, probe_key: str,
    target_key: str, k: int, level: int | None, radius: int, p: tuple[str, str],
    t: tuple[str, str], broadcast_targets: bool, guarantee_exact: bool, dist: Dist,
    dist_col: str,
) -> DataFrame:
    """The ring-expansion core. ``dist`` maps (probe x, probe y, target
    x, target y) columns to the ranking distance named ``dist_col``.

    Exact calls persist pass 1 once and hand the union of the passes
    with that cache to session.py:checkpoint_and_release. Probes short
    of k ring candidates scan the whole target set through a broadcast,
    also under ``broadcast_targets=False``.
    """
    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    args = (probe_key, target_key, k, p, t, dist, dist_col)
    n_targets = targets.count() if level is None or guarantee_exact else None
    if level is None:
        level = auto_level_knn(n_targets, k, radius, scheme)
    if guarantee_exact and _escape(n_targets, k, radius, scheme, level):
        return _brute(scheme, probes, targets, *args)

    ta, tsel = _target_cols(scheme, target_key, t)
    tc = targets.select(*tsel, scheme.cell_id(t[0], t[1], level).alias("_cell"))
    if broadcast_targets:
        tc = F.broadcast(tc)

    def ring_rank(pr: DataFrame, r: int | Column) -> DataFrame:
        cand = pr.withColumn("_cell", F.explode(scheme.ring(p[0], p[1], level, r)))
        cand = cand.join(tc, "_cell").drop("_cell")
        return _rank(cand, probes, probe_key, target_key, k, p, ta, dist, dist_col)

    ranked = ring_rank(probes, radius)
    if not guarantee_exact:
        return ranked
    ranked = ranked.persist(StorageLevel.MEMORY_AND_DISK)
    kth = ranked.groupBy(probe_key).agg(F.max(dist_col).alias("_kth"), F.count("*").alias("_n"))
    # _need: the smallest ring of the doubling ladder whose safe radius
    # holds the pass-1 k-th distance (radius itself: pass 1 is exact);
    # null when pass 1 found fewer than k candidates or no ring below
    # the whole grid suffices — those probes take the brute force. The
    # safe radius sits once in a lambda over the ladder: the geographic
    # one is ~420 expression nodes, so one copy per rung would grow the
    # plan with the ladder
    ladder = [radius]
    while not scheme.ring_covers_grid(level, max(1, 2 * ladder[-1])):
        ladder.append(max(1, 2 * ladder[-1]))
    pa = tuple("_p" + ax for ax in scheme.axes)
    fits = F.filter(
        F.array(*map(F.lit, ladder)),
        lambda r: F.col("_kth") <= scheme.safe_radius(level, r, *pa),
    )
    tagged = (
        probes.select(probe_key, F.col(p[0]).alias(pa[0]), F.col(p[1]).alias(pa[1]))
        .join(kth, probe_key, "left")
        .select(probe_key, F.when(F.col("_n") >= k, F.array_min(fits)).alias("_need"))
    )
    tag = F.col("_need")
    done = ranked.join(tagged.where(tag == radius), probe_key, "left_semi")
    wide = ring_rank(probes.join(tagged.where(tag > radius), probe_key), tag)
    short = _brute(
        scheme, probes.join(tagged.where(tag.isNull()), probe_key, "left_semi"), targets, *args
    )
    return checkpoint_and_release(done.unionByName(wide).unionByName(short), [ranked])


def _euclid(px: Column, py: Column, tx: Column, ty: Column) -> Column:
    dx, dy = px - tx, py - ty
    # dx*dx (not pow) so the doubles are bit-identical to the SQL oracle
    return F.sqrt(dx * dx + dy * dy)


def knn_join(
    probes: DataFrame,
    targets: DataFrame,
    probe_key: str,
    target_key: str,
    k: int,
    level: int | None = 3,
    radius: int = 2,
    px: str = "x",
    py: str = "y",
    tx: str = "x",
    ty: str = "y",
    broadcast_targets: bool = True,
    guarantee_exact: bool = False,
) -> DataFrame:
    """Top-k nearest targets per probe (Euclidean), deterministic
    tie-break on target key. Output: probe columns + target_key + dist + knn_rank.
    Exactness passes and cache lifecycle: see _knn."""
    return _knn(
        PLANAR, probes, targets, probe_key, target_key, k, level, radius,
        (px, py), (tx, ty), broadcast_targets, guarantee_exact, _euclid, "dist",
    )


def knn_join_bruteforce(
    probes: DataFrame,
    targets: DataFrame,
    probe_key: str,
    target_key: str,
    k: int,
    px: str = "x",
    py: str = "y",
    tx: str = "x",
    ty: str = "y",
) -> DataFrame:
    """Exact baseline: broadcast cross join + window. Only for small
    target sets / correctness oracles."""
    return _brute(
        PLANAR, probes, targets, probe_key, target_key, k, (px, py), (tx, ty), _euclid, "dist"
    )
