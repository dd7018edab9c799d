"""kNN join via cell-ring expansion + window top-k: one core written
against ``join.cells.CellScheme``, under the planar ``knn_join`` and the
geographic ``geodesic_knn_join`` (join/geo_knn.py).

Scale design: probes generate the cell neighborhood of their own cell
(pure SQL array + explode — no UDF), equi-join against target cell ids,
then a window `row_number() <= k` partitioned by probe. The shuffle keys
are cell ids (candidate join) and probe ids (top-k) — both well
distributed when salting is applied to hotspots; AQE skew-join covers
the rest.

Exactness: ring radius r is exact iff the k-th neighbor lies within the
scheme's safe radius of the probe (planar: r * cell_size Chebyshev
distance of the probe's cell); ``guarantee_exact`` verifies via that
guaranteed lower bound and re-queries stragglers at a doubled radius
(driver-side loop over a shrinking probe set — the distributed analog
of iterative ring expansion).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pygeoops_spark.join.cells import PLANAR, CellScheme, auto_level_knn

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


def _knn(
    scheme: CellScheme, probes: DataFrame, targets: DataFrame, probe_key: str,
    target_key: str, k: int, level: int | None, radius: int, p: tuple[str, str],
    t: tuple[str, str], broadcast_targets: bool, guarantee_exact: bool, dist: Dist,
    dist_col: str, _caches: list | None = None,
) -> DataFrame:
    """The ring-expansion core. ``dist`` maps (probe x, probe y, target
    x, target y) columns to the ranking distance named ``dist_col``.

    Cache lifecycle (guarantee_exact): every radius-doubling level
    persists its probes x k `ranked` frame for the exactness check; the
    TOP-level call eagerly localCheckpoints the final union and then
    unpersists every level's cache, so repeated exact kNN joins in a
    long session no longer accumulate storage (the checkpoint itself is
    GC-cleaned with the returned DataFrame).
    """
    ta = tuple("_t" + ax for ax in scheme.axes)
    tsel = [F.col(target_key).alias("_tkey"), F.col(t[0]).alias(ta[0]), F.col(t[1]).alias(ta[1])]
    n_targets = None
    if level is None:
        n_targets = targets.count()
        level = auto_level_knn(n_targets, k, radius, scheme)
    top_level = _caches is None
    if _caches is None:
        _caches = []

    # Brute-force escape (r07, guide §1.2 "remove unnecessary passes"):
    # when the target table is no bigger than the initial ring's own
    # capacity (k targets per cell x (2r+1)^2 cells — the occupancy
    # auto_level_knn aims the ring at), cell pruning cannot drop more
    # than a small constant factor of candidates per probe, while the
    # exactness machinery still costs a persist, a kth-distance
    # aggregate, an isEmpty() action and possibly whole re-join passes
    # at doubled radius PER LEVEL. The broadcast cross join computes
    # the identical top-k (same distance expression, same tie-break)
    # in one window pass regardless of probe count, so the trade is
    # probe-scale-independent. Only taken under guarantee_exact —
    # without it the ring join's approximate candidate set is the
    # documented semantics and must stay.
    if top_level and guarantee_exact:
        if n_targets is None:
            n_targets = targets.count()
        if n_targets <= k * (2 * radius + 1) ** 2:
            cand = probes.crossJoin(F.broadcast(targets.select(*tsel)))
            return _rank(cand, probes, probe_key, target_key, k, p, ta, dist, dist_col)

    def _finish(df: DataFrame) -> DataFrame:
        if top_level and _caches:
            df = df.localCheckpoint(eager=True)
            for c in _caches:
                c.unpersist()
        return df

    tc = targets.select(*tsel, scheme.cell_id(t[0], t[1], level).alias("_cell"))
    if broadcast_targets:
        tc = F.broadcast(tc)
    pc = probes.withColumn("_cell", F.explode(scheme.ring(p[0], p[1], level, radius)))
    cand = pc.join(tc, "_cell").drop("_cell")
    ranked = _rank(cand, probes, probe_key, target_key, k, p, ta, dist, dist_col)
    if not guarantee_exact:
        return _finish(ranked)
    if scheme.ring_covers_grid(level, radius):
        # the ring already covers the whole grid: candidates were ALL
        # targets, so `ranked` is exact (probes still short of k rows
        # genuinely have fewer than k targets in existence)
        return _finish(ranked)
    # Exactness check: k-th distance must be <= the scheme's safe
    # radius. Probes failing it re-run with doubled radius.
    # `ranked` is persisted first: it is only probes x k rows (the
    # candidate explosion and window are already reduced), but the
    # check's isEmpty() action and the final output would otherwise
    # both recompute that expensive plan from scratch. The handle is
    # collected in _caches and unpersisted by the top-level _finish
    # once the final result is checkpointed.
    from pyspark import StorageLevel

    ranked = ranked.persist(StorageLevel.MEMORY_AND_DISK)
    _caches.append(ranked)
    kth = ranked.groupBy(probe_key).agg(
        F.max(dist_col).alias("_kth"), F.count("*").alias("_n")
    )
    pa = tuple("_p" + ax for ax in scheme.axes)
    safe = scheme.safe_radius(level, radius, *pa)
    checked = kth
    if isinstance(safe, Column):
        # a per-probe bound: attach it to the probe's kth row
        pk = probes.select(
            probe_key, F.col(p[0]).alias(pa[0]), F.col(p[1]).alias(pa[1])
        ).select(probe_key, safe.alias("_safe"))
        checked, safe = kth.join(pk, probe_key), F.col("_safe")
    bad = checked.where((F.col("_kth") > safe) | (F.col("_n") < k)).select(probe_key)
    # probes whose initial ring held ZERO candidates never appear in
    # `ranked`/`kth` at all — they are also inexact and must be
    # re-queried at the doubled radius (ADVICE r01)
    missing = probes.select(probe_key).join(
        kth.select(probe_key), probe_key, "left_anti"
    )
    bad = bad.unionByName(missing)
    if bad.isEmpty():
        return _finish(ranked)
    good = ranked.join(bad, probe_key, "left_anti")
    redo = probes.join(bad, probe_key, "left_semi")
    return _finish(good.unionByName(
        _knn(
            scheme, redo, targets, probe_key, target_key, k, level, radius * 2,
            p, t, broadcast_targets, True, dist, dist_col, _caches,
        )
    ))


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
    _caches: list | None = None,
) -> DataFrame:
    """Top-k nearest targets per probe (Euclidean), deterministic
    tie-break on target key. Output: probe columns + target_key + dist + knn_rank.
    Cache lifecycle: see _knn (``_caches`` marks a non-top-level call)."""
    return _knn(
        PLANAR, probes, targets, probe_key, target_key, k, level, radius,
        (px, py), (tx, ty), broadcast_targets, guarantee_exact, _euclid, "dist",
        _caches,
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
    t = F.broadcast(
        targets.select(
            F.col(target_key).alias("_tkey"), F.col(tx).alias("_tx"), F.col(ty).alias("_ty")
        )
    )
    return _rank(
        probes.crossJoin(t), probes, probe_key, target_key, k,
        (px, py), ("_tx", "_ty"), _euclid, "dist",
    )
