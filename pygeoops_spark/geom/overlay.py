"""Polygon boolean operations (union / intersection / difference) from
scratch — no GEOS available in this environment.

Approach (noding + classification + stitching). An edge set is ONE
(n, 4) float64 array, a row ``[x1 y1 x2 y2]`` per directed edge, from
the moment a ring is cut into edges (_chain_edges) until _stitch walks
it; every step below takes and returns that array, in order, and picks
edges with boolean masks or concatenations:
 1. collect the directed boundary edges of all input polygons
    (_poly_edges: one _chain_edges call over the oriented rings)
 2. node: split every edge at its intersections with edges of the
    other input(s) (bbox-prefiltered pairwise tests); each edge's
    pieces replace it in place, in order along the edge
 3. classify every noded edge against each other input, once, in
    _classify — the one place that decides where an edge lies: whether
    it is on that input's boundary band, and whether its left and its
    right side lie inside that input. Every keep/drop below (binary
    ops, union, line and point differences) reads those arrays
 4. keep edges according to the boolean rule:
       union:        edges not strictly inside the *other* input
       intersection: edges strictly inside the other input (or shared)
       difference:   A-edges outside B  +  B-edges inside A (reversed)
    shared edges (same undirected segment in both inputs) are kept once
    for union/intersection when co-directed, dropped when anti-directed.
    The binary ops run one pipeline (_binary_overlay); each op is only
    a _Rule row — the side each operand keeps, whether B's kept edges
    are reversed, the empty-operand result and the retry area bound.
 5. stitch the kept edge array into rings (at multi-way vertices take
    the sharpest counter-clockwise turn), classify shells/holes by
    signed area and nest the holes (_assemble_polygons, the one
    hole-nesting step, which make_valid shares): a hole goes to the
    smallest shell that contains a point strictly inside the hole and
    encloses more area than it, never to an island inside the hole.

This is the kernel behind difference_all / difference_all_tiled
(reference semantics: /root/reference/pygeoops/_difference.py — union
subtrahends once then a single difference, :167-169) and the polygon
unions in buffer_by_m / centerline.

Robustness: exact float arithmetic where possible; vertices are snapped
to a scale-relative grid during stitching (mirrors the reference's 1e-8
dedup + set_precision fallbacks in _centerline.py:146-172). Two
hardening rules keep shared/near-shared boundaries consistent (the
reference gets these for free from GEOS, _difference.py:171-181):

 * vertex-on-edge noding: every edge is additionally cut at other-set
   VERTICES lying within ``10*snap`` of it, using the vertex's own
   coordinates as the cut point. This covers exact and near-collinear
   overlapping edges (adjacent parcels sharing a partial boundary),
   T-junctions, and vertices a few ulps off an edge — the class where
   the general-position crossing solve has a ~zero denominator and
   produced no cut at all, silently dropping whole faces.
 * symmetric crossing points: a proper crossing between edge E and
   edge O is emitted as the average of both parameterizations
   ``((e1 + t*d) + (o1 + u*s)) / 2``. All inputs to that expression
   are exact negation/commutation images under the role swap
   (qp' = -qp, denom' = -denom, hence t' = u and u' = t bit-exactly),
   so the two independent noding passes of an operation produce
   IDENTICAL cut coordinates and ring stitching always reconnects —
   even for ill-conditioned near-parallel crossings.
 * endpoint-sharing pairs never cross: segments that share an endpoint
   bit-exactly are excluded from the general-position solve (straight
   lines meet at most once; collinear overlap has its own branch) —
   otherwise ulp-rotated pieces of the same original edge produce a
   phantom interior crossing arbitrarily far from the shared node.
 * the sides of an on-boundary edge are the exact off->0 limit of
   side sampling (_classify): the midpoint point-in-polygon value when
   strictly off the other NODED chain, co-direction with the nearest
   chain segment when bit-coincident. No finite sampling offset is
   safe — noding near-duplicate vertices creates micro edges bounding
   wedges thinner than any fixed offset.
 * polygons are closed point sets (OGC Simple Features): a line piece
   or a point on the boundary band lies on the polygon, so a
   difference removes it on every edge of a ring alike.

These invariants are graded against an exact rational-arithmetic area
oracle (geom/exact.py, signed-trapezoid decomposition over Fractions)
in tests/test_exact_oracle.py, including 5000-example soaks.
"""

from __future__ import annotations

import math
from collections import defaultdict
from typing import Callable, NamedTuple

import numpy as np

from pygeoops_spark.geom.kernels import points_in_polygon, ring_signed_area
from pygeoops_spark.geom.wkb import (
    Geometry,
    MULTIPOLYGON,
    POLYGON,
    get_parts,
    multi,
)

SNAP = 1e-9


def _cell_keys(arr: np.ndarray, snap: float) -> list[tuple]:
    """Each row's snapped grid cells as one hashable key: a vertex's
    cell for (n, 2) points, an edge's (start, end) cells for an edge
    array."""
    return list(map(tuple, np.round(arr / snap).tolist()))


def _op_snap(geoms) -> float:
    """Scale-relative snap for one overlay operation: 1e-9 for unit-ish
    coordinates, growing with magnitude so the int64 grid keys stay
    exact (1e-9 absolute overflows the 2^53 mantissa near |x| ~ 1e7,
    e.g. projected metre coordinates)."""
    m = 1.0
    for g in geoms:
        if g is None:
            continue
        for p in get_parts(g):
            for ring in p.data:
                arr = np.asarray(ring, dtype=float)
                if arr.size:
                    m = max(m, float(np.abs(arr[:, :2]).max()))
    return max(SNAP, m * 1e-12)


def _snap_geometry(g: Geometry | None, grid: float) -> Geometry | None:
    """Round every coordinate to the grid (the coarse-retry ladder:
    near-coincident geometry becomes EXACTLY coincident, for which the
    shared-boundary rules are exact). Collapsed rings are dropped."""
    if g is None:
        return None
    parts_out = []
    for p in get_parts(g):
        if p.type_id != POLYGON:
            continue
        rings = []
        for ring in p.data:
            arr = np.asarray(ring, dtype=float)[:, :2]
            r = np.round(arr / grid) * grid
            keep = np.ones(len(r), dtype=bool)
            keep[1:] = (r[1:] != r[:-1]).any(axis=1)
            r = r[keep]
            if len(r) and (r[0] != r[-1]).any():
                r = np.vstack([r, r[0]])
            if len(r) >= 4 and abs(ring_signed_area(r)) > 0:
                rings.append(r)
        if rings:
            parts_out.append(Geometry(POLYGON, rings))
    if not parts_out:
        return None
    if len(parts_out) == 1:
        return parts_out[0]
    return multi(MULTIPOLYGON, parts_out)


# lost-edge fraction above which an overlay retries on a coarse exact
# grid (200*snap — 20x the 10*snap coincidence band, so everything the
# tolerance machinery reasons about collapses to exact coincidence)
_LOST_RETRY_FRAC = 1e-3


def _area_of(g: Geometry | None) -> float:
    from pygeoops_spark.geom.kernels import polygon_area

    return 0.0 if g is None else polygon_area(g)


def _retry_on_coarse_grid(result, lost, snap, bound, geoms, rerun, suspect=None):
    """The one retry ladder under every polygon op: rerun once on the
    inputs snapped to ``200*snap`` when the boundary graph was
    classification-inconsistent (material edge loss), when the result
    exceeds ``bound()`` — the op's area upper bound: |A| for A \\ B,
    min(|A|, |B|) for A ∩ B, the hull for a union (double-counted
    near-duplicate rings survive the clean walk undetected) — or when
    the op's own ``suspect()`` check fires. ``rerun`` takes the snapped
    operands (None where one collapsed) and must not retry again."""
    if not (
        lost > _LOST_RETRY_FRAC
        or _area_of(result) > bound() * (1 + 1e-7) + snap
        or (suspect is not None and suspect())
    ):
        return result
    grid = snap * 200
    return rerun([_snap_geometry(g, grid) for g in geoms])


def _hull_area(polys: list[Geometry]) -> float:
    """Convex-hull area of all shell vertices — a cheap upper bound on
    any union of the inputs (catches double-counted near-duplicate
    rings that per-ring checks cannot see)."""
    from pygeoops_spark.geom.kernels import convex_hull_coords

    pts = [np.asarray(p.data[0], dtype=float)[:, :2] for p in polys if p.data]
    if not pts:
        return 0.0
    hull = convex_hull_coords(np.vstack(pts))
    if len(hull) < 4:
        return 0.0
    return abs(ring_signed_area(np.asarray(hull)))


def _chain_edges(chains, skip_zero: bool = True) -> np.ndarray:
    """The one way an edge set is made: the consecutive vertex pairs
    of every coordinate chain as one (n, 4) float64 array
    ``[x1 y1 x2 y2]``, in chain order (x/y only). ``skip_zero`` drops
    bit-exact zero-length edges (repeated vertices)."""
    coords = [np.asarray(c, dtype=float)[:, :2] for c in chains]
    edges = np.vstack([np.empty((0, 4))] + [np.hstack([c[:-1], c[1:]]) for c in coords])
    if skip_zero:
        edges = edges[(edges[:, 0] != edges[:, 2]) | (edges[:, 1] != edges[:, 3])]
    return edges


def _poly_edges(polys: list[Geometry]) -> np.ndarray:
    """Directed edges of all rings of ``polys`` (shell CCW, holes CW
    normalized)."""
    rings = []
    for poly in polys:
        for ri, ring in enumerate(poly.data):
            arr = np.asarray(ring, dtype=float)[:, :2]
            area = ring_signed_area(arr)
            want_ccw = ri == 0
            if (area > 0) != want_ccw and area != 0:
                arr = arr[::-1]
            rings.append(arr)
    return _chain_edges(rings)


def _node_edges(edges: np.ndarray, others: np.ndarray, snap: float = SNAP) -> np.ndarray:
    """Split each edge at intersections with the ``others`` edges, and
    at their vertices lying within ``10*snap`` of it. Each cut edge is
    replaced in place by its pieces, in order along the edge.

    Per edge, the general-position intersection test against ALL bbox
    candidates is one vectorized numpy pass (block size caps the bool
    matrix at ~4M cells). Crossing points are the symmetric average of
    both edges' parameterizations — bit-identical when this function is
    called again with the roles swapped (see module docstring), so the
    two sides of an overlay always agree on cut coordinates. Crossings
    closer than ``snap`` to any of the four endpoints are left to the
    vertex pass (the endpoint itself is the node there)."""
    if not len(others):
        return edges
    o1, o2 = others[:, :2], others[:, 2:]
    ob_lo = np.minimum(o1, o2)
    ob_hi = np.maximum(o1, o2)
    s_all = o2 - o1
    n_e, n_o = len(edges), len(o1)
    e1, e2 = edges[:, :2], edges[:, 2:]
    d_all = e2 - e1
    eb_lo = np.minimum(e1, e2)
    eb_hi = np.maximum(e1, e2)
    len_d_all = np.hypot(d_all[:, 0], d_all[:, 1])
    len_s_all = np.hypot(s_all[:, 0], s_all[:, 1])
    # cuts per pass block: edge index, t, point — the POINT is
    # authoritative (vertex cuts carry the vertex's exact coordinates),
    # t only orders them along the edge
    cut_e: list[np.ndarray] = []
    cut_t: list[np.ndarray] = []
    cut_p: list[np.ndarray] = []

    blk = max(1, 4_000_000 // max(n_o, 1))
    for b0 in range(0, n_e, blk):
        b1 = min(n_e, b0 + blk)
        cand = (
            (eb_lo[b0:b1, None, 0] <= ob_hi[None, :, 0])
            & (eb_hi[b0:b1, None, 0] >= ob_lo[None, :, 0])
            & (eb_lo[b0:b1, None, 1] <= ob_hi[None, :, 1])
            & (eb_hi[b0:b1, None, 1] >= ob_lo[None, :, 1])
        )
        ii, jj = np.nonzero(cand)
        if not len(ii):
            continue
        ii = ii + b0
        d = d_all[ii]
        s = s_all[jj]
        qp = o1[jj] - e1[ii]
        denom = d[:, 0] * s[:, 1] - d[:, 1] * s[:, 0]
        gen = denom != 0
        if gen.any():
            t = (qp[gen, 0] * s[gen, 1] - qp[gen, 1] * s[gen, 0]) / denom[gen]
            u = (qp[gen, 0] * d[gen, 1] - qp[gen, 1] * d[gen, 0]) / denom[gen]
            ld = len_d_all[ii[gen]]
            ls = len_s_all[jj[gen]]
            m = (
                (t * ld > snap)
                & ((1.0 - t) * ld > snap)
                & (u * ls > snap)
                & ((1.0 - u) * ls > snap)
            )
            # pairs sharing an endpoint bit-exactly cannot cross
            # anywhere else (straight lines meet once; the shared point
            # is already a node) — the float solve on two near-parallel
            # pieces of the SAME original edge otherwise yields a
            # phantom interior crossing arbitrarily far away (lever-arm
            # effect: a 0.006-offset phantom node ate a 4e-4 face in
            # union(A\\B, B\\A), caught by the exact-oracle soak)
            ei1, ei2 = e1[ii[gen]], e2[ii[gen]]
            oj1, oj2 = o1[jj[gen]], o2[jj[gen]]
            shared = (
                (ei1 == oj1).all(axis=1)
                | (ei1 == oj2).all(axis=1)
                | (ei2 == oj1).all(axis=1)
                | (ei2 == oj2).all(axis=1)
            )
            m &= ~shared
            if m.any():
                ig = ii[gen][m]
                jg = jj[gen][m]
                tm = t[m]
                um = u[m]
                pe = e1[ig] + tm[:, None] * d_all[ig]
                po = o1[jg] + um[:, None] * s_all[jg]
                cut_e.append(ig)
                cut_t.append(tm)
                cut_p.append((pe + po) / 2.0)
    # vertex-on-edge pass: other-set endpoints within 10*snap of an
    # edge's interior become cuts AT THE VERTEX COORDINATES. Covers
    # (near-)collinear partial overlap, T-junctions and near-incident
    # vertices — all the shapes where the crossing solve above has a
    # ~zero denominator. 10*snap matches _classify's on-boundary
    # tolerance so "cut here" and "shared boundary" stay in agreement.
    verts = np.unique(np.vstack([o1, o2]), axis=0)
    vtol = snap * 10.0
    n_v = len(verts)
    blk_v = max(1, 4_000_000 // max(n_v, 1))
    for b0 in range(0, n_e, blk_v):
        b1 = min(n_e, b0 + blk_v)
        cand = (
            (verts[None, :, 0] >= eb_lo[b0:b1, None, 0] - vtol)
            & (verts[None, :, 0] <= eb_hi[b0:b1, None, 0] + vtol)
            & (verts[None, :, 1] >= eb_lo[b0:b1, None, 1] - vtol)
            & (verts[None, :, 1] <= eb_hi[b0:b1, None, 1] + vtol)
        )
        ii, jj = np.nonzero(cand)
        if not len(ii):
            continue
        ii = ii + b0
        d = d_all[ii]
        dd = d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1]
        v = verts[jj]
        w = v - e1[ii]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(dd == 0, -1.0, (w[:, 0] * d[:, 0] + w[:, 1] * d[:, 1]) / np.where(dd == 0, 1.0, dd))
        proj = e1[ii] + t[:, None] * d
        dist = np.hypot(v[:, 0] - proj[:, 0], v[:, 1] - proj[:, 1])
        ld = len_d_all[ii]
        m = (dist <= vtol) & (t * ld > vtol) & ((1.0 - t) * ld > vtol)
        cut_e.append(ii[m])
        cut_t.append(t[m])
        cut_p.append(v[m])
    ie = np.concatenate([np.empty(0, dtype=np.intp)] + cut_e)
    if not len(ie):
        return edges
    # each edge's cuts sorted by (t, x, y) — stable, so exact ties keep
    # pass order — then laid out as one point run per edge: start, cuts,
    # end. Consecutive points within a run are the pieces; on a cut
    # edge, pieces whose ends share a snap cell are dropped.
    t_c = np.concatenate(cut_t)
    p_c = np.vstack(cut_p)
    order = np.lexsort((p_c[:, 1], p_c[:, 0], t_c, ie))
    ie = ie[order]
    k = np.bincount(ie, minlength=n_e)
    first = 2 * np.arange(n_e) + np.cumsum(k) - k
    pts = np.empty((2 * n_e + len(ie), 2))
    pts[first] = e1
    pts[first + k + 1] = e2
    pts[2 * ie + np.arange(len(ie)) + 1] = p_c[order]
    piece = np.ones(len(pts) - 1, dtype=bool)
    piece[(first + k + 1)[:-1]] = False
    cells = np.round(pts / snap)
    distinct = (cells[:-1] != cells[1:]).any(axis=1)[piece]
    out = np.hstack([pts[:-1], pts[1:]])[piece]
    return out[(np.repeat(k, k + 1) == 0) | distinct]


def _midpoints(edges: np.ndarray) -> np.ndarray:
    return (edges[:, :2] + edges[:, 2:]) / 2


def _poly_segments(poly: Geometry) -> np.ndarray:
    """All boundary segments in raw ring orientation, zero-length ones
    included: the boundary-band distance reference of _classify."""
    return _chain_edges([r for part in get_parts(poly) for r in part.data], skip_zero=False)


def _nearest_segment(mids: np.ndarray, segs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-midpoint ``(distance, index)`` of the nearest of the (m, 4)
    segments — one broadcast distance matrix per segment block (a
    per-segment python loop was the profiled hot spot), blocked so
    memory stays bounded for very large polygons. ``segs`` must not be
    empty; ties keep the lowest index."""
    from pygeoops_spark.geom.kernels import point_segment_distance

    n = len(mids)
    px, py = mids[:, 0][:, None], mids[:, 1][:, None]
    rows = np.arange(n)
    block = max(int(4_000_000 / max(n, 1)), 16)
    for s0 in range(0, len(segs), block):
        sb = segs[s0 : s0 + block]
        d = point_segment_distance(
            px, py, sb[None, :, 0], sb[None, :, 1], sb[None, :, 2], sb[None, :, 3]
        )
        loc = d.argmin(axis=1)
        dm = d[rows, loc]
        if s0 == 0:
            best, jmin = dm, loc
        else:
            upd = dm < best
            best, jmin = np.where(upd, dm, best), np.where(upd, loc + s0, jmin)
    return best, jmin


def _classify(
    edges: np.ndarray,
    mids: np.ndarray,
    other: Geometry,
    segs: np.ndarray,
    noded: np.ndarray,
    snap: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Where each edge lies relative to ``other``: the one edge
    classification of the overlay core. ``mids`` are the edges'
    midpoints, ``segs`` other's raw boundary segments (_poly_segments)
    and ``noded`` its NODED edge array. Returns per-edge boolean arrays
    ``(onb, left, right)``:

    * ``onb`` — the midpoint lies within the 10*snap band of other's
      boundary (the noding tolerance, so "cut here" and "shared
      boundary" agree).
    * ``left`` / ``right`` — that side of the edge lies inside other.
      Off the band both read the midpoint's exact point-in-polygon.
      On it they are the exact off->0 limit of side sampling: when the
      midpoint is ON other's noded chain to ~100 ulps (line offset
      against the nearest segment below ``scale * 1e-13``, projection
      inside the segment), the sides follow that segment's direction —
      both edge sets are normalized interior-left (shell CCW, holes
      CW), so a co-directed edge has other's interior on its left, an
      anti-directed one on its right (the arrangement rule for
      coincident boundaries). Otherwise they read the same
      point-in-polygon value: distances down to ~100 ulps resolve fine
      in doubles, and the band is 10*snap >> that.

    Coincidence MUST be judged against the arrangement the stitcher
    walks, not the original boundary: vertex-on-edge noding detours
    chains onto the opposite set's vertices (up to 10*snap off the
    original boundary), and a piece bit-identical to a detoured chain
    segment reads as "strictly inside by 5e-10" against the original
    segments, producing a spurious keep, a dangling spur and a
    spurious coarse retry (the round-6 regression of the `difference`
    query's v2 variant). No finite sampling offset replaces the limit: noding
    near-duplicate vertices makes micro edges bounding wedges thinner
    than any offset — the exact rational oracle
    (tests/test_exact_oracle.py) caught the intersection kernel
    emptying a 0.09-area overlap through a 100*snap sample, and a
    14-degree corner wedge through a quarter-edge-length one.
    """
    inside = np.asarray(points_in_polygon(mids[:, 0], mids[:, 1], other), dtype=bool)
    onb = np.zeros(len(edges), dtype=bool)
    if len(segs):
        onb = _nearest_segment(mids, segs)[0] <= snap * 10
    left, right = inside.copy(), inside.copy()
    idx = np.nonzero(onb)[0]
    if len(idx) and len(noded):
        m = mids[idx]
        near = noded[_nearest_segment(m, noded)[1]]
        dx, dy = near[:, 2] - near[:, 0], near[:, 3] - near[:, 1]
        vx, vy = m[:, 0] - near[:, 0], m[:, 1] - near[:, 1]
        seg_len2 = dx * dx + dy * dy
        seg_len = np.sqrt(seg_len2)
        with np.errstate(divide="ignore", invalid="ignore"):
            s = (dx * vy - dy * vx) / seg_len
            t = (dx * vx + dy * vy) / seg_len2
        scale = np.maximum(1.0, np.abs(near).max(axis=1))
        thr = np.maximum(scale, np.abs(m).max(axis=1)) * 1e-13
        with np.errstate(divide="ignore", invalid="ignore"):
            tpad = thr / seg_len
        coin = (np.abs(s) <= thr) & (t >= -tpad) & (t <= 1 + tpad) & (seg_len > 0)
        e = edges[idx]
        codir = (e[:, 2] - e[:, 0]) * dx + (e[:, 3] - e[:, 1]) * dy > 0
        left[idx] = np.where(coin, codir, inside[idx])
        right[idx] = np.where(coin, ~codir, inside[idx])
    return onb, left, right


def _cluster_nodes(uniq: np.ndarray, radius: int) -> np.ndarray:
    """Union-find over (n, 2) int64 grid keys: merge nodes within
    Chebyshev distance <= radius cells. Returns the canonical index per
    node (smallest member index of its cluster). Coarse spatial hashing
    keeps this O(n) for the sparse node sets overlays produce."""
    n = len(uniq)
    parent = np.arange(n)

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    coarse = uniq // max(radius, 1)
    buckets: dict[tuple[int, int], list[int]] = defaultdict(list)
    for i in range(n):
        buckets[(int(coarse[i, 0]), int(coarse[i, 1]))].append(i)
    for i in range(n):
        cx, cy = int(coarse[i, 0]), int(coarse[i, 1])
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                for j in buckets.get((cx + dx, cy + dy), ()):
                    if j <= i:
                        continue
                    if (
                        abs(int(uniq[i, 0]) - int(uniq[j, 0])) <= radius
                        and abs(int(uniq[i, 1]) - int(uniq[j, 1])) <= radius
                    ):
                        ri, rj = find(i), find(j)
                        if ri != rj:
                            if ri < rj:
                                parent[rj] = ri
                            else:
                                parent[ri] = rj
    return np.array([find(i) for i in range(n)])


def _stitch(edges: np.ndarray, snap: float = SNAP) -> tuple[list[np.ndarray], float]:
    """Assemble a directed edge array into closed rings. At branching
    vertices pick the most counter-clockwise continuation (keeps
    minimal rings).

    Two-phase: the fast path uses raw grid keys and NO degenerate-input
    machinery — a clean overlay (the overwhelming majority, e.g. every
    hull union inside buffer_by_m) walks with zero discarded edges, so
    node clustering / degree repair / gap bridging would be pure
    overhead (~12% of the union profile). Only when the fast walk
    drops or bridges anything does the robust path re-run with the
    full tolerance machinery.

    Returns ``(rings, lost_frac)`` — the fraction of total edge length
    that was discarded (repair removals + dangling chains). A material
    ``lost_frac`` is the callers' signal that the input boundary graph
    was classification-inconsistent (e.g. N-way near-coincident seams
    whose pairwise overlap/gap signs disagree) and a coarser-grid
    retry is warranted; tolerance-scale sliver losses stay far below
    any threshold.
    """
    rings, clean, _lost = _stitch_core(edges, snap, robust=False)
    if clean:
        return rings, 0.0
    rings, _clean, lost_frac = _stitch_core(edges, snap, robust=True)
    return rings, lost_frac


def _stitch_core(
    edges: np.ndarray, snap: float, robust: bool
) -> tuple[list[np.ndarray], bool, float]:
    # dedupe identical directed edges, then drop anti-parallel pairs
    # entirely (BOTH members): an edge traversed in both directions is
    # an interior seam between coincident boundaries — keeping either
    # one forms a degenerate 2-edge ring in the max-turn walk and
    # consumes an edge a real ring needed.
    # Keys are snapped in ONE numpy pass (per-endpoint _key calls were
    # ~20% of the union profile). In robust mode they are CLUSTERED
    # within the 10*snap classification tolerance: dropped micro-pieces
    # (e.g. a 1.4*snap connector between a vertex and a degenerate
    # crossing, classified as shared boundary and absorbed by the other
    # operand) would otherwise leave a gap wider than one grid cell and
    # the walk would discard the whole ring as an open chain.
    if not len(edges):
        return [], True, 0.0
    ka = np.round(edges[:, :2] / snap).astype(np.int64)
    kb = np.round(edges[:, 2:] / snap).astype(np.int64)
    if robust:
        n_edge = len(edges)
        uniq, inv = np.unique(np.vstack([ka, kb]), axis=0, return_inverse=True)
        canon = _cluster_nodes(uniq, radius=10)
        ka, kb = uniq[canon[inv[:n_edge]]], uniq[canon[inv[n_edge:]]]
    # degenerate: both endpoints on one node (zero-length after snap /
    # collapsed cluster)
    live = (ka != kb).any(axis=1)
    edges = edges[live]
    keys = [(tuple(a), tuple(b)) for a, b in zip(ka[live].tolist(), kb[live].tolist())]
    seen = set(keys)
    kept_idx: list[int] = []
    emitted: set[tuple] = set()
    for i, k in enumerate(keys):
        if k in emitted:
            continue
        if (k[1], k[0]) in seen:
            continue
        emitted.add(k)
        kept_idx.append(i)
    edge_keys = [keys[i] for i in kept_idx]
    # the walk reads the kept rows [x1, y1, x2, y2] as python floats
    edges = edges[kept_idx].tolist()
    # loss accounting (robust mode): reference length BEFORE repair;
    # everything not emitted into a ring (repair removals + dangling
    # chains) counts as lost — the caller's catastrophic-loss signal
    total_len = sum(math.hypot(x2 - x1, y2 - y1) for x1, y1, x2, y2 in edges)
    emitted_len = 0.0

    # degree repair (robust mode): in a clean overlay every node has
    # out-degree == in-degree (each face boundary passes through). A
    # spurious seam edge — one operand's boundary hugging the other's
    # corner inside the tolerance band, kept with no anti-parallel
    # partner — adds exactly one surplus-out node and one surplus-in
    # node; the max-turn walk then takes it, dead-ends, and discards a
    # whole valid ring. Remove the shortest surplus->deficit edge until
    # balanced. The fast path instead treats ANY imbalance as the
    # degenerate-input signal and defers to the robust re-run.
    clean = True
    while True:
        outdeg: dict[tuple, int] = defaultdict(int)
        indeg: dict[tuple, int] = defaultdict(int)
        for ka, kb in edge_keys:
            outdeg[ka] += 1
            indeg[kb] += 1
        cands = [
            i
            for i, (ka, kb) in enumerate(edge_keys)
            if outdeg[ka] > indeg[ka] and indeg[kb] > outdeg[kb]
        ]
        if not cands:
            if not robust and any(
                outdeg.get(k, 0) != indeg.get(k, 0)
                for k in set(outdeg) | set(indeg)
            ):
                return [], False, 0.0
            break
        if not robust:
            return [], False, 0.0
        drop = min(
            cands,
            key=lambda i: math.hypot(edges[i][2] - edges[i][0], edges[i][3] - edges[i][1]),
        )
        del edges[drop]
        del edge_keys[drop]

    out_map: dict[tuple, list[int]] = defaultdict(list)
    for i, (ka, _kb) in enumerate(edge_keys):
        out_map[ka].append(i)
    used = [False] * len(edges)
    rings: list[np.ndarray] = []
    # Hierholzer-style walk with turn preference: whenever the path
    # returns to ANY node already on it, that sub-cycle is pinched off
    # as a ring and the walk continues from the remaining path. A plain
    # "close only at the start node" walk discards a whole valid ring
    # when it happens to start on a dangling micro-chain (e.g. the
    # edges of a sub-tolerance sliver whose connector was absorbed) and
    # dead-ends after traversing the ring.
    for start in range(len(edges)):
        if used[start]:
            continue
        used[start] = True
        stack = [start]
        nodes = [edge_keys[start][0]]  # nodes[i] = start node of stack[i]
        node_pos = {nodes[0]: 0}
        while stack:
            cur = stack[-1]
            end_key = edge_keys[cur][1]
            i0 = node_pos.get(end_key)
            if i0 is not None:
                emitted_len += _pinch_off(edges, stack, nodes, node_pos, i0, rings)
                continue
            cands = [i for i in out_map[end_key] if not used[i]]
            if not cands and not robust:
                # fast path: a dead end means degenerate input — defer
                # to the robust re-run (clustered keys + repair +
                # bridging) instead of discarding anything here
                return [], False, 0.0
            if not cands:
                # dead end: bridge a tolerance-scale gap. The onb
                # keep/drop rules can absorb a connector piece up to
                # ~100 cells long (coincidence-band scale), leaving the
                # ring unclosable by exact key match; jump to the
                # nearest node (within 1.5x the scale) that is on the
                # path or still has an unused out-edge. Area error is
                # bounded by gap * perimeter — the discarded-ring
                # alternative loses the whole face.
                best_key, best_d = None, 151
                for nk in node_pos:
                    dch = max(abs(nk[0] - end_key[0]), abs(nk[1] - end_key[1]))
                    if 0 < dch < best_d:
                        best_key, best_d = nk, dch
                for nk, lst in out_map.items():
                    if any(not used[i] for i in lst):
                        dch = max(abs(nk[0] - end_key[0]), abs(nk[1] - end_key[1]))
                        if 0 < dch < best_d:
                            best_key, best_d = nk, dch
                if best_key is None:
                    break  # genuinely dangling: discard (rings already emitted)
                if best_key in node_pos and not any(
                    not used[i] for i in out_map.get(best_key, ())
                ):
                    i0 = node_pos[best_key]
                    emitted_len += _pinch_off(edges, stack, nodes, node_pos, i0, rings)
                    continue
                cands = [i for i in out_map[best_key] if not used[i]]
            if len(cands) == 1:
                nxt = cands[0]
            else:
                # rightmost (sharpest clockwise) turn relative to the
                # incoming direction keeps each simple loop separate at
                # figure-eight vertices (touching rings stay two rings)
                x1, y1, x2, y2 = edges[cur]
                ain = math.atan2(y2 - y1, x2 - x1)

                def turn(i):
                    e = edges[i]
                    ang = math.atan2(e[3] - e[1], e[2] - e[0]) - (ain + math.pi)
                    while ang <= 0:
                        ang += 2 * math.pi
                    while ang > 2 * math.pi:
                        ang -= 2 * math.pi
                    return ang

                nxt = max(cands, key=turn)
            used[nxt] = True
            node_pos[end_key] = len(stack)
            nodes.append(end_key)
            stack.append(nxt)
    lost_frac = (
        max(0.0, total_len - emitted_len) / total_len if total_len > 0 else 0.0
    )
    return rings, clean, lost_frac


def _pinch_off(
    edges: list[list[float]],
    stack: list[int],
    nodes: list[tuple],
    node_pos: dict[tuple, int],
    i0: int,
    rings: list[np.ndarray],
) -> float:
    """Pinch the sub-cycle ``stack[i0:]`` off the stitch walk's path:
    emit it as a ring when it has >= 3 edges, drop it and its nodes
    from the path, and return the edge length emitted. ``edges`` are
    the walk's rows [x1, y1, x2, y2]."""
    cycle = stack[i0:]
    emitted = 0.0
    if len(cycle) >= 3:
        rings.append(np.array([edges[e][:2] for e in cycle] + [edges[cycle[-1]][2:]]))
        emitted = sum(
            math.hypot(edges[e][2] - edges[e][0], edges[e][3] - edges[e][1]) for e in cycle
        )
    del stack[i0:]
    for nk in nodes[i0:]:
        node_pos.pop(nk, None)
    del nodes[i0:]
    return emitted


def _rings_to_polygons(rings: list[np.ndarray], snap: float = 0.0) -> Geometry | None:
    """Shells (CCW) and holes (CW) of the stitched rings as a
    (multi)polygon. Rings are 2-D, so the result is tagged ``xy``
    whatever the inputs carried: overlay results drop Z/M."""
    shells, holes = [], []
    for r in rings:
        if len(r) < 4:
            continue
        # stitched rings can close within tolerance rather than
        # bit-exactly (clustered nodes / bridged gaps); emit a properly
        # closed ring so downstream consumers and the shoelace see the
        # exact closure
        if r[-1, 0] != r[0, 0] or r[-1, 1] != r[0, 1]:
            r = np.vstack([r, r[0]])
        area = ring_signed_area(r)
        # min-area filter is scale-relative like the noding tolerance:
        # node clustering / gap bridging can produce sliver rings of
        # width up to ~2*snap whose area (width*perimeter/2) exceeds
        # the absolute SNAP floor at projected-CRS magnitudes; a ring
        # thinner than 2*snap is below the noding resolution and is
        # stitching debris, not geometry
        seg = np.diff(r, axis=0)
        perim = float(np.hypot(seg[:, 0], seg[:, 1]).sum())
        if abs(area) < max(SNAP, snap * perim):
            continue
        (shells if area > 0 else holes).append(r)
    return _assemble_polygons(shells, holes)


def _loop_interior_point(loop: np.ndarray) -> np.ndarray:
    """A point strictly inside a simple closed loop: start from the ear
    centroid at the rightmost (then lowest) vertex — a strictly convex
    corner — and walk geometrically toward that vertex until the
    even-odd test confirms interiority. Repeated consecutive vertices
    are skipped: a repeat next to that corner flattens its ear onto an
    edge."""
    arr = np.asarray(loop, dtype=float)[:, :2]
    arr = arr[np.any(arr != np.roll(arr, 1, axis=0), axis=1)]
    n = len(arr)
    i = int(np.lexsort((arr[:, 1], -arr[:, 0]))[0])  # max x, then min y
    P, V, N = arr[(i - 1) % n], arr[i], arr[(i + 1) % n]
    c = (P + V + N) / 3.0
    g = Geometry(POLYGON, [np.vstack([arr, arr[:1]])])
    t = 1.0
    for _ in range(50):
        p = V + t * (c - V)
        if points_in_polygon(np.array([p[0]]), np.array([p[1]]), g)[0]:
            return p
        t *= 0.5
    return c


def _assemble_polygons(
    shells: list[np.ndarray], holes: list[np.ndarray], dims: str = "xy"
) -> Geometry | None:
    """The (multi)polygon of closed ``shells`` and ``holes``: the one
    hole-nesting step of the geometry core. Shell order is kept; each
    hole, in input order, goes to the smallest shell that contains a
    point strictly inside the hole (_loop_interior_point) and encloses
    more area than the hole — an island inside the hole is smaller
    than it, so the hole never lands on the island. A hole no shell
    contains is dropped. Rings narrower than ``dims`` (repaired rings
    come back 2-D) drop every ring to 2-D, tagged ``xy``."""
    if not shells:
        return None
    areas = [abs(ring_signed_area(s)) for s in shells]
    polys = [[s] for s in shells]
    for h in holes:
        h_area = abs(ring_signed_area(h))
        px, py = _loop_interior_point(h)
        best = None
        for i, s in enumerate(shells):
            if (
                h_area < areas[i]
                and (best is None or areas[i] < areas[best])
                and points_in_polygon(np.array([px]), np.array([py]), Geometry(POLYGON, [s]))[0]
            ):
                best = i
        if best is not None:
            polys[best].append(h)
    if any(r.shape[1] != len(dims) for p in polys for r in p):
        polys = [[r[:, :2] for r in p] for p in polys]
        dims = "xy"
    if len(polys) == 1:
        return Geometry(POLYGON, polys[0], dims)
    return multi(MULTIPOLYGON, [Geometry(POLYGON, p, dims) for p in polys])


def _as_polys(geom: Geometry | None) -> list[Geometry]:
    if geom is None:
        return []
    return [p for p in get_parts(geom) if p.type_id == POLYGON and p.data]


def _codirected_near_duplicate(kept_a: np.ndarray, kept_b: np.ndarray, snap: float) -> bool:
    """True when some kept B-side shared edge lies within the noding
    tolerance of a CO-DIRECTED kept A-side shared edge without being
    bit-identical to it: the double-keep signature of a sub-tolerance
    strip bounded twice (once per rule). Distance is point-to-segment
    (the two chains may be cut at different nodes). Both edge arrays
    are boundary-scale small, so the pairwise scan is cheap."""
    tol = snap * 20
    for p2, q2 in zip(kept_b[:, :2], kept_b[:, 2:]):
        m2 = (p2 + q2) / 2
        d2 = q2 - p2
        l2 = math.hypot(d2[0], d2[1])
        if l2 == 0:
            continue
        for p1, q1 in zip(kept_a[:, :2], kept_a[:, 2:]):
            d1 = q1 - p1
            l1 = math.hypot(d1[0], d1[1])
            if l1 == 0:
                continue
            # co-directed: parallel within tolerance and same sense
            if d1[0] * d2[0] + d1[1] * d2[1] <= 0:
                continue
            if abs(d1[0] * d2[1] - d1[1] * d2[0]) > tol * (l1 + l2):
                continue
            # midpoint of the B edge within tol of the A segment
            t = ((m2 - p1) @ d1) / (l1 * l1)
            t = min(1.0, max(0.0, t))
            c = p1 + t * d1
            if math.hypot(m2[0] - c[0], m2[1] - c[1]) > tol:
                continue
            # exactly-coincident duplicates collapse in _stitch
            if (
                p1[0] == p2[0] and p1[1] == p2[1]
                and q1[0] == q2[0] and q1[1] == q2[1]
            ):
                continue
            return True
    return False


class _Rule(NamedTuple):
    """A binary boolean op as an edge-selection rule over _binary_overlay.

    ``sides`` holds, for A then B, whether the edges kept lie inside
    the other operand (else outside) and whether they are kept
    reversed. A kept edge bounds the result on its left, so the side
    of an edge that _classify must find inside (or outside) the other
    operand is its left, or its right when reversed; one test keeps
    the strict and the on-boundary edges alike. ``b_empty_keeps_a``:
    the result is A when B has no polygon (else None).
    ``bound(|A|, |B|)``: the retry's area upper bound. ``dedupe``: a
    shared edge is kept once by its snapped key. ``near_dup``:
    co-directed near-duplicate shared edges from both operands force
    the coarse retry."""

    sides: tuple[tuple[bool, bool], tuple[bool, bool]]
    b_empty_keeps_a: bool
    bound: Callable[[float, float], float]
    dedupe: bool
    near_dup: bool


# A \ B: A-edges outside B, plus B-edges inside A reversed (they bound
# holes). Both shared-edge rules bounding the SAME tolerance strip
# double-subtract when each survives as a complete ring (a plug hugging
# a hole at sub-tolerance offset: the result is SMALLER than A, which
# the area bound cannot see) — hence the near-duplicate trigger.
_DIFFERENCE = _Rule(((False, False), (True, True)), True, lambda aa, ab: aa, False, True)
# A ∩ B: edges of either operand inside the other; co-directed shared
# edges count once.
_INTERSECTION = _Rule(((True, False), (True, False)), False, min, True, False)


def _binary_overlay(
    a: Geometry | None, b: Geometry | None, rule: _Rule, snapped: bool = False
) -> Geometry | None:
    """The one binary overlay pipeline: snap scale, node both ways,
    classify both ways, strict keeps, on-boundary keeps, stitch, rings
    to polygons, then the coarse-grid retry (skipped when ``snapped``)."""
    pa, pb = _as_polys(a), _as_polys(b)
    if not pa:
        return None
    if not pb:
        return a if rule.b_empty_keeps_a else None
    ops = (a, b)
    snap = _op_snap(ops)
    edges = [_poly_edges(pa), _poly_edges(pb)]
    noded = [_node_edges(edges[i], edges[1 - i], snap) for i in (0, 1)]
    segs = [_poly_segments(g) for g in ops]
    # strict keeps of A then B, then the edges on the other operand's
    # boundary of A then B. B-edges hugging A's boundary from inside
    # bound a sub-tolerance strip of the result; exact-shared
    # duplicates collapse in _stitch and tolerance-zone double-keeps
    # fall to its degree repair.
    keep, shared = [], []
    for i, (inside, rev) in enumerate(rule.sides):
        onb, left, right = _classify(
            noded[i], _midpoints(noded[i]), ops[1 - i], segs[1 - i], noded[1 - i], snap
        )
        kept = (right if rev else left) == inside
        e = noded[i][:, [2, 3, 0, 1]] if rev else noded[i]
        keep.append(e[kept & ~onb])
        shared.append(e[kept & onb])
    if rule.dedupe:
        seen = set(_cell_keys(np.vstack(keep), snap))
        for i, e in enumerate(shared):
            fresh = np.zeros(len(e), dtype=bool)
            for j, k in enumerate(_cell_keys(e, snap)):
                if k not in seen:
                    seen.add(k)
                    fresh[j] = True
            shared[i] = e[fresh]
    keep = np.vstack(keep + shared)
    rings, lost = _stitch(keep, snap)
    result = _rings_to_polygons(rings, snap)
    if snapped:
        return result
    return _retry_on_coarse_grid(
        result,
        lost,
        snap,
        lambda: rule.bound(sum(_area_of(p) for p in pa), sum(_area_of(p) for p in pb)),
        ops,
        lambda g: _binary_overlay(g[0], g[1], rule, snapped=True),
        suspect=lambda: rule.near_dup
        and bool(len(shared[0]) and len(shared[1]))
        and _codirected_near_duplicate(shared[0], shared[1], snap),
    )


def polygon_difference(a: Geometry, b: Geometry) -> Geometry | None:
    """A \\ B for (multi)polygons; None when empty."""
    return _binary_overlay(a, b, _DIFFERENCE)


def polygon_intersection(a: Geometry, b: Geometry) -> Geometry | None:
    """A ∩ B for (multi)polygons; None when empty."""
    return _binary_overlay(a, b, _INTERSECTION)


def polygon_union(
    polys: list[Geometry], _snapped: bool = False
) -> Geometry | None:
    """N-ary union: keep boundary edges not strictly inside any other
    input polygon; anti-directed shared edges cancel. None inputs
    (empty operands, e.g. an empty difference result) are skipped."""
    flat = [p for g in polys if g is not None for p in _as_polys(g)]
    flat = [p for p in flat if p.data and abs(ring_signed_area(np.asarray(p.data[0]))) > 0]
    if not flat:
        return None
    if len(flat) == 1:
        return flat[0]
    snap = _op_snap(flat)
    per_poly_edges = [_poly_edges([p]) for p in flat]
    # bbox prefilter (exact): a polygon whose bbox is disjoint from
    # polygon i's bbox can neither cut i's edges nor contain any of
    # them — skip both the noding input and the classify pass. Turns
    # the O(n^2) classify loop into O(n * overlapping) — e.g. a buffer
    # chain of k hulls does ~3k classifies instead of k^2.
    boxes = []
    for p in flat:
        arr = np.asarray(p.data[0], dtype=float)
        boxes.append((arr[:, 0].min(), arr[:, 1].min(), arr[:, 0].max(), arr[:, 1].max()))

    def _bbox_overlap(a, b):
        # expanded by the shared-boundary tolerance: polygons whose
        # bboxes are disjoint by less than snap*10 can still have
        # near-coincident edges that _classify must see as on-boundary
        eps = snap * 10
        return not (
            a[2] < b[0] - eps or b[2] < a[0] - eps or a[3] < b[1] - eps or b[3] < a[1] - eps
        )

    near_all = [
        [j for j in range(len(flat)) if j != i and _bbox_overlap(boxes[i], boxes[j])]
        for i in range(len(flat))
    ]
    # noded edges for ALL polygons first: the sides of an edge on a
    # neighbour's boundary are judged against that neighbour's NODED
    # arrangement (chains detour onto the opposite set's vertices)
    noded_all = [
        _node_edges(per_poly_edges[i], np.vstack([per_poly_edges[j] for j in near]), snap)
        if near
        else per_poly_edges[i]
        for i, near in enumerate(near_all)
    ]
    # raw boundaries only of polygons that are some polygon's neighbour
    raw_segs = {j: _poly_segments(flat[j]) for j in sorted(set().union(*near_all))}
    keep = []
    for near, noded in zip(near_all, noded_all):
        # an edge survives iff its RIGHT side (this polygon's own
        # exterior: interior is left of a CCW shell / normalized hole
        # edge) lies inside no neighbour. On a neighbour's boundary
        # that is its off->0 side: anti-directed shared CHAINS cancel
        # even when the two sides were noded at different cut points
        # (edge-level key matching cannot pair those). Exact
        # co-directed duplicates both survive and collapse via
        # _stitch's directed-key dedupe, near-identical ones via its
        # degree repair.
        onb = np.zeros(len(noded), dtype=bool)
        covered = np.zeros(len(noded), dtype=bool)
        mids = _midpoints(noded)
        for j in near:
            onb_j, _, right_j = _classify(noded, mids, flat[j], raw_segs[j], noded_all[j], snap)
            onb |= onb_j
            covered |= right_j
        live = (noded[:, 0] != noded[:, 2]) | (noded[:, 1] != noded[:, 3])
        keep += [noded[onb & ~covered & live], noded[~onb & ~covered]]
    keep = np.vstack(keep)
    rings, lost = _stitch(keep, snap)
    result = _rings_to_polygons(rings, snap)
    if _snapped:
        return result
    return _retry_on_coarse_grid(
        result,
        lost,
        snap,
        lambda: _hull_area(flat),
        flat,
        lambda g: polygon_union(g, _snapped=True),
    )


def dissolve_partition(polys: list[Geometry]) -> Geometry | None:
    """Union of interior-disjoint polygons whose shared boundaries lie
    on axis-aligned lines — the exact shape produced by subdivide tiling
    (+ per-tile difference), which cuts on vertical/horizontal lines.

    Instead of polygon_union's pairwise noding + point-in-polygon
    classification (quadratic in coordinates for a tile fan-out), shared
    boundaries are cancelled by signed 1D coverage per cut line: every
    axis-aligned directed edge becomes a signed interval on its line;
    summing coverage over elementary intervals cancels the anti-directed
    overlap between neighbouring tiles even when the two sides split the
    shared edge at different points. Surviving segments + all
    non-axis-aligned edges stitch into rings as usual.

    Input contract: pieces are interior-disjoint (tile results are, by
    construction). Violations that surface at the boundary level —
    coincident same-direction segments (|coverage| > 1), shared diagonal
    edges, stitch failures — are detected via interval algebra plus an
    area-conservation check (union area of a partition == sum of part
    areas) and fall back to the general polygon_union. Fully interior
    overlaps without coincident boundaries are NOT detected (both sides
    of the area check see the same sum) — don't call this on arbitrary
    possibly-overlapping sets; use polygon_union there.

    Mirrors the recombination semantics of the reference's
    difference_all_tiled (shapely.unary_union over interior-disjoint
    tile results, /root/reference/pygeoops/_difference.py:103-110).
    """
    from pygeoops_spark.geom.kernels import polygon_area

    flat = [p for g in polys if g is not None for p in _as_polys(g)]
    flat = [p for p in flat if p.data and abs(ring_signed_area(np.asarray(p.data[0]))) > 0]
    if not flat:
        return None
    if len(flat) == 1:
        return flat[0]

    edges = _poly_edges(flat)
    is_vert = edges[:, 0] == edges[:, 2]
    is_horiz = ~is_vert & (edges[:, 1] == edges[:, 3])
    emitted: list[list[float]] = []  # surviving axis-aligned rows
    # line buckets: snapped coordinate -> list of (lo, hi, sign, coord)
    vert: dict[int, list] = defaultdict(list)
    horiz: dict[int, list] = defaultdict(list)
    for bucket, mask, c in ((vert, is_vert, 0), (horiz, is_horiz, 1)):
        along = 1 - c
        for e in edges[mask].tolist():
            a, b = e[along], e[along + 2]
            sign = 1 if b > a else -1
            lo, hi = (a, b) if sign == 1 else (b, a)
            bucket[round(e[c] / SNAP)].append((lo, hi, sign, e[c]))

    def _emit(bucket: dict[int, list], vertical: bool) -> bool:
        for ivals in bucket.values():
            if len(ivals) == 1:
                lo, hi, sign, c = ivals[0]
                pts = ((c, lo), (c, hi)) if vertical else ((lo, c), (hi, c))
                a, b = (pts if sign == 1 else pts[::-1])
                emitted.append([*a, *b])
                continue
            # elementary breakpoints (snap-deduped, keep representative float)
            reps: dict[int, float] = {}
            for lo, hi, _s, _c in ivals:
                reps.setdefault(round(lo / SNAP), lo)
                reps.setdefault(round(hi / SNAP), hi)
            keys = sorted(reps, key=lambda k: reps[k])
            idx = {k: i for i, k in enumerate(keys)}
            cov = [0] * len(keys)
            for lo, hi, sign, _c in ivals:
                cov[idx[round(lo / SNAP)]] += sign
                cov[idx[round(hi / SNAP)]] -= sign
            c = ivals[0][3]
            run_sign, run_start = 0, 0.0
            net = 0
            for i, k in enumerate(keys):
                net += cov[i]
                v = reps[k]
                if run_sign and (i == len(keys) - 1 or net != run_sign):
                    a = (c, run_start) if vertical else (run_start, c)
                    b = (c, v) if vertical else (v, c)
                    emitted.append([*a, *b] if run_sign == 1 else [*b, *a])
                    run_sign = 0
                if net != 0 and run_sign == 0 and i < len(keys) - 1:
                    if abs(net) > 1:
                        return False  # pieces overlap: not a partition
                    run_sign, run_start = net, v
            if net != 0:
                return False  # unbalanced interval algebra
        return True

    ok = _emit(vert, True) and _emit(horiz, False)
    if ok:
        keep = np.vstack([edges[~is_vert & ~is_horiz], np.reshape(emitted, (-1, 4))])
        result = _rings_to_polygons(_stitch(keep)[0])
    else:
        result = None
    target = sum(polygon_area(p) for p in flat)
    if (
        result is None
        or abs(polygon_area(result) - target) > 1e-8 * max(target, 1.0)
    ):
        # fall back with the None-filtered inputs: polygon_union does
        # not accept None elements
        return polygon_union([g for g in polys if g is not None])
    return result


def line_intersection(line_coords: np.ndarray, poly: Geometry) -> list[np.ndarray]:
    """Line clipped to polygon: split at boundary crossings, keep pieces
    on the closed polygon (inside or on its boundary band)."""
    chains = line_difference(line_coords, poly, keep_outside=False)
    return chains


def line_difference(
    line_coords: np.ndarray, poly: Geometry, keep_outside: bool = True
) -> list[np.ndarray]:
    """Line minus polygon: split at boundary crossings, keep pieces off
    the closed polygon (or on it when keep_outside=False): a piece on
    the boundary band is on the polygon, whichever edge of the ring it
    follows. Consecutive kept pieces whose ends share a snap cell form
    one chain. A zero-length line is a point: it comes back as one
    two-vertex chain when kept."""
    ring_edges = _poly_edges(_as_polys(poly))
    noded = _node_edges(_chain_edges([line_coords], skip_zero=False), ring_edges)
    if not len(noded):
        return []
    onb, left, _ = _classify(
        noded, _midpoints(noded), poly, _poly_segments(poly), ring_edges, SNAP
    )
    inside = onb | left
    keep = ~inside if keep_outside else inside
    cells = np.round(noded / SNAP)
    joined = np.zeros(len(noded), dtype=bool)
    joined[1:] = keep[1:] & keep[:-1] & (cells[:-1, 2:] == cells[1:, :2]).all(axis=1)
    kept = np.nonzero(keep)[0]
    if not len(kept):
        return []
    runs = np.split(kept, np.nonzero(~joined[kept])[0][1:])
    return [np.vstack([noded[r[0], :2], noded[r, 2:]]) for r in runs]
