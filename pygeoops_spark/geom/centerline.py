"""centerline kernel: Voronoi-based medial axis of a polygon.

Behavioral parity (studied, not copied):
/root/reference/pygeoops/_centerline.py:102-219 — densify by
auto-derived max segment length (average-width heuristic :222-231,
compactness guard :234-245, 10x point-count cap, >10% area-change
revert), dedup repeated points @1e-8, Voronoi edges, keep edges
contained in the polygon, line-merge, prune short branches to fixpoint
(:248-387; full pass, one-by-one retry, keep-original fallback),
DP-simplify with tol = 0.25 x average width, optional extend to the
boundary, normalize.
"""

from __future__ import annotations

import math

import numpy as np

from pygeoops_spark.geom.extend_line import extend_line_to_geometry
from pygeoops_spark.geom.kernels import (
    geom_length,
    line_length,
    points_in_polygon,
    polygon_area,
    ring_signed_area,
    segments_cross_chain_batch,
)
from pygeoops_spark.geom.linemerge import _key, line_merge, normalize_lines
from pygeoops_spark.geom.simplify import rdp_idx
from pygeoops_spark.geom.voronoi import voronoi_edges
from pygeoops_spark.geom.wkb import (
    Geometry,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOLYGON,
    POLYGON,
    get_coordinates,
    get_parts,
    multi,
    require_finite,
)


def average_width(geom: Geometry) -> float:
    """L/4 - sqrt(max((L/4)^2 - A, 0)) — drives all auto parameters."""
    quarter = geom_length(geom) / 4.0
    return quarter - math.sqrt(max(quarter * quarter - polygon_area(geom), 0.0))


def compactness(geom: Geometry) -> float:
    """Polsby-Popper 4*pi*A / P^2."""
    p = geom_length(geom)
    return (4.0 * math.pi * polygon_area(geom)) / (p * p) if p else 0.0


def _groups_geometry(groups: list[list[np.ndarray]]) -> Geometry:
    """(Multi)Polygon from per-part ring lists (shell first per part)."""
    if len(groups) == 1:
        return Geometry(POLYGON, groups[0])
    return multi(MULTIPOLYGON, [Geometry(POLYGON, g) for g in groups])


def segmentize_ring(ring: np.ndarray, max_len: float) -> np.ndarray:
    """Insert points so no segment exceeds max_len (equal spacing per
    segment — shapely.segmentize behavior)."""
    out = [ring[0]]
    for i in range(len(ring) - 1):
        a, b = ring[i], ring[i + 1]
        d = math.hypot(b[0] - a[0], b[1] - a[1])
        n = max(int(math.ceil(d / max_len)), 1)
        for s in range(1, n + 1):
            out.append(a + (b - a) * (s / n))
    return np.array(out)


def _dedup_ring(ring: np.ndarray, tol: float = 1e-8) -> np.ndarray:
    keep = [ring[0]]
    for p in ring[1:]:
        if math.hypot(p[0] - keep[-1][0], p[1] - keep[-1][1]) > tol:
            keep.append(p)
    arr = np.array(keep)
    if not np.array_equal(arr[0], arr[-1]):
        arr = np.vstack([arr, arr[:1]])
    return arr


def _prune_short_branches(
    chains: list[np.ndarray], min_branch_length: float, one_by_one: bool
) -> list[np.ndarray]:
    """Drop parts shorter than min_branch_length that have adjacency at
    exactly one endpoint; re-merge; repeat to fixpoint.

    Ordering parity with the reference (:307 normalizes first; parts
    are scanned in a stable sort by length): the first pass runs over
    normalize-DESCENDING ordered parts; later passes keep line_merge's
    canonical emission order.
    """
    cur = normalize_lines(list(chains))
    while len(cur) > 1:
        order = sorted(range(len(cur)), key=lambda i: line_length(cur[i]))
        # vertex membership over ALL coords of each part (a branch can
        # attach mid-chain after merging)
        keys_per_part = [set(_key(p) for p in c) for c in cur]
        to_remove: list[int] = []
        for idx in order:
            c = cur[idx]
            if line_length(c) >= min_branch_length:
                continue
            k0, k1 = _key(c[0]), _key(c[-1])
            adj0 = any(i != idx for i in range(len(cur)) if k0 in keys_per_part[i])
            adj1 = any(i != idx for i in range(len(cur)) if k1 in keys_per_part[i])
            if adj0 != adj1:  # dangling branch: adjacency at exactly one end
                to_remove.append(idx)
                if one_by_one:
                    break
        if not to_remove:
            break
        cur = [c for i, c in enumerate(cur) if i not in set(to_remove)]
        if not cur:
            break
        cur = line_merge(cur)
    return cur


def centerline(
    geom: Geometry | None,
    densify_distance: float = -1,
    min_branch_length: float = -1,
    simplifytolerance: float = -0.25,
    extend: bool = False,
) -> Geometry | None:
    if geom is None or geom.is_empty:
        return None
    require_finite(geom, "centerline")
    if geom.type_id != POLYGON:
        parts = [p for p in get_parts(geom) if p.type_id == POLYGON and p.data]
        if not parts:
            return None
        geom = parts[0] if len(parts) == 1 else multi(MULTIPOLYGON, parts)

    avg_w: float | None = None

    # ring groups: one list of rings (shell first) per polygon part.
    # The whole (multi)geometry flows through a single densify/voronoi/
    # contains pipeline — the reference never special-cases multi-part
    # input (_centerline.py:102-219: shapely segmentize / voronoi /
    # prepared-contains all take the full geometry), so a 2-part
    # MultiPolygon yields one centerline per part, merged.
    groups = [
        [np.asarray(r, dtype=float)[:, :2] for r in part.data]
        for part in get_parts(geom)
    ]
    if densify_distance != 0:
        if densify_distance > 0:
            max_seg = densify_distance
        elif compactness(geom) < 0.001:
            max_seg = 0.0
        else:
            avg_w = average_width(geom)
            max_seg = abs(densify_distance) * avg_w
            n_coords = len(get_coordinates(geom))
            if max_seg > 0 and n_coords:
                factor_increase = (geom_length(geom) / max_seg) / n_coords
                if factor_increase > 10:
                    max_seg *= factor_increase / 10
        if max_seg > 0:
            dens = [[segmentize_ring(r, max_seg) for r in g] for g in groups]
            dens_geom = _groups_geometry(dens)
            min_a = min(polygon_area(geom), polygon_area(dens_geom))
            max_a = max(polygon_area(geom), polygon_area(dens_geom))
            if max_a > 0 and (max_a - min_a) / max_a <= 0.1:
                groups = dens

    # 2. dedup repeated points @1e-8 — keep the original when dedup
    # degenerates a ring (reference keeps the deduped version only when
    # still valid, _centerline.py:158-159)
    deduped = [[_dedup_ring(r) for r in g] for g in groups]
    # only adopt the dedup when every shell keeps a valid
    # quadrilateral+ shape (matches the reference's validity guard;
    # degenerate dedup falls back to the original, _centerline.py:158-159)
    if all(
        len(np.unique(g[0][:-1], axis=0)) >= 4 and abs(ring_signed_area(g[0])) > 0
        for g in deduped
    ):
        groups = deduped

    # 3. voronoi edges of the boundary sites (all parts together)
    all_rings = [r for g in groups for r in g]
    sites = np.vstack([r[:-1] for r in all_rings])
    sites = np.unique(np.round(sites, 12), axis=0)
    vedges = voronoi_edges(sites)
    if not vedges:
        # collinear sites (a zero-area polygon) have no voronoi edges
        return None

    # 4. keep edges contained in the polygon (vectorized across all
    # edges at once: chain-crossing batch + PIP of 3 samples per edge).
    # For multi-part input, inter-part voronoi edges fail the PIP test
    # and drop out here, leaving per-part skeletons.
    boundary_rings = [np.asarray(r) for r in all_rings]
    edges_arr = np.array(vedges)  # (E, 2, 2)
    crosses = np.zeros(len(edges_arr), dtype=bool)
    for ring in boundary_rings:
        crosses |= segments_cross_chain_batch(edges_arr, ring[:, :2])
    samples = np.concatenate(
        [edges_arr[:, 0, :], (edges_arr[:, 0, :] + edges_arr[:, 1, :]) / 2, edges_arr[:, 1, :]]
    )
    inside = points_in_polygon(samples[:, 0], samples[:, 1], geom)
    e = len(edges_arr)
    all_inside = inside[:e] & inside[e : 2 * e] & inside[2 * e :]
    kept = [np.array([a, b]) for (a, b), ok in zip(vedges, ~crosses & all_inside) if ok]
    if not kept:
        # no edge fully inside: clip all voronoi edges to the polygon
        # (reference fallback: intersection(geom, voronoi_edges) + merge)
        from pygeoops_spark.geom.overlay import line_intersection

        for a, b in vedges:
            kept.extend(line_intersection(np.array([a, b]), geom))
        kept = [c for c in kept if len(c) >= 2]
        if not kept:
            return None
    lines = line_merge(kept)

    # 5. prune short branches
    mbl = min_branch_length
    if mbl < 0:
        if avg_w is None:
            avg_w = average_width(geom)
        mbl = abs(min_branch_length) * avg_w
    if mbl > 0 and len(lines) > 1:
        pruned = _prune_short_branches(lines, mbl, one_by_one=False)
        if not pruned:
            pruned = _prune_short_branches(lines, mbl, one_by_one=True)
        if pruned:
            lines = pruned

    # 6. simplify (DP). Tolerance is floored at a scale-relative epsilon
    # (~500 ulps of the coordinate magnitude): for extremely narrow
    # polygons 0.25 * avg_width can drop below the float noise of the
    # overlay's crossing points, leaving numerically-collinear vertices
    # (deviation ~1e-13 relative) that GEOS/the reference would never
    # emit.
    if simplifytolerance is not None and simplifytolerance != 0:
        tol = simplifytolerance
        if tol < 0:
            if avg_w is None:
                avg_w = average_width(geom)
            tol = abs(simplifytolerance) * avg_w
        scale = max(
            (float(np.abs(np.asarray(c)[:, :2]).max()) for c in lines if len(c)),
            default=1.0,
        )
        tol = max(tol, scale * 1e-13)
        lines = [c[rdp_idx(c, tol)] for c in lines]

    result: Geometry = (
        Geometry(LINESTRING, lines[0])
        if len(lines) == 1
        else multi(MULTILINESTRING, [Geometry(LINESTRING, c) for c in lines])
    )

    # 7. extend to boundary
    if extend:
        result = extend_line_to_geometry(result, geom)

    # 8. normalize
    if result.type_id == LINESTRING:
        from pygeoops_spark.geom.linemerge import normalize_line

        return Geometry(LINESTRING, normalize_line(np.asarray(result.data)))
    chains = normalize_lines([np.asarray(p.data) for p in result.data])
    return multi(MULTILINESTRING, [Geometry(LINESTRING, c) for c in chains])
