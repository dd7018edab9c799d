"""Polygon boolean operations (union / intersection / difference) from
scratch — no GEOS available in this environment.

Approach (noding, then faces by winding).
An edge set is ONE (n, 4) float64 array, a row ``[x1 y1 x2 y2]`` per
directed edge, from the moment a ring is cut into edges (_chain_edges)
until it is walked into rings; every step below takes and returns that
array, in order, and picks edges with boolean masks or concatenations:
 1. collect the directed boundary edges of all input polygons
    (_poly_edges: one _chain_edges call over the oriented rings:
    interior on the left)
 2. node: split every edge at its intersections with edges of the
    other input(s) (bbox-prefiltered pairwise tests); each edge's
    pieces replace it in place, in order along the edge
 3. faces: every polygon op reads its result from ONE function,
    _winding_region — the half-edge arrangement of the edges, its
    faces, and each face's winding number per operand; the result is
    the boundary between kept and other faces. Union passes the noded
    edges of all inputs as one operand, so the winding is the coverage
    count (every ring is normalized interior-left) and a face is kept
    where it is nonzero; make_valid passes a self-noded ring. The
    binary ops pass both operands' noded edges, each labelled by its
    operand, and keep faces by a rule over the two counts (a _Rule row):
       intersection: wA != 0 and wB != 0
       difference:   wA != 0 and wB == 0
    dissolve_partition passes its tiles' edges as one operand too, each
    axis-aligned edge first split at the endpoints on its line (the
    seams' T-junctions), so the two sides of a seam cancel here
 4. lines and points (line_difference, line_intersection, the point
    case of difference_all): each noded piece is kept or dropped by
    _classify, the one line-and-point test — on the closed polygon
    (within its 10*snap boundary band, or strictly inside) or off it;
    kept pieces join into chains
 5. classify the rings as shells/holes by signed area and nest the
    holes (_assemble_polygons, the one hole-nesting step, which
    make_valid shares): a hole goes to the smallest shell that contains
    a point strictly inside the hole and encloses more area than it,
    never to an island inside the hole.

This is the kernel behind difference_all / difference_all_tiled
(reference semantics: /root/reference/pygeoops/_difference.py — union
subtrahends once then a single difference, :167-169) and the polygon
unions in buffer_by_m / centerline.

Robustness: exact float arithmetic where possible; vertices are snapped
to a scale-relative grid in the arrangement (mirrors the reference's 1e-8
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
   IDENTICAL cut coordinates and the two operands' edges meet at nodes —
   even for ill-conditioned near-parallel crossings.
 * endpoint-sharing pairs never cross: segments that share an endpoint
   bit-exactly are excluded from the general-position solve (straight
   lines meet at most once; collinear overlap has its own branch) —
   otherwise ulp-rotated pieces of the same original edge produce a
   phantom interior crossing arbitrarily far from the shared node.
 * no polygon op samples the side of an edge: a face's winding
   numbers decide it, so a shared or near-shared boundary needs no
   sampling offset (noding near-duplicate vertices creates micro edges
   bounding wedges thinner than any fixed offset).
 * polygons are closed point sets (OGC Simple Features): a line piece
   or a point on the boundary band lies on the polygon, so a
   difference removes it on every edge of a ring alike.
 * one arrangement decides every polygon op: where near-coincident
   input leaves a contact unnoded, _winding_region's clustered pass
   merges the near nodes of the components its signals name, and of
   any component such a merge brings into contact. No op reruns on
   inputs snapped to a coarser grid.

These invariants are graded against an exact rational-arithmetic area
oracle (geom/exact.py, signed-trapezoid decomposition over Fractions)
in tests/test_exact_oracle.py, including 5000-example soaks.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np

from pygeoops_spark.geom.kernels import (
    points_in_polygon,
    ring_signed_area,
    segments_touch,
)
from pygeoops_spark.geom.wkb import (
    Geometry,
    MULTIPOLYGON,
    POLYGON,
    get_coordinates,
    get_parts,
    multi,
    require_finite,
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
    e.g. projected metre coordinates). A non-finite vertex raises the
    ValueError of wkb.require_finite: its snapped cell is meaningless,
    and the faces around it would silently vanish."""
    geoms = [g for g in geoms if g is not None]
    # one stack over the op, a polygon's rings read as they are
    chains = [c for g in geoms for c in (g.data if g.type_id == POLYGON else [get_coordinates(g)])]
    xy = np.vstack([np.empty((0, 2))] + [np.asarray(c)[:, :2] for c in chains])
    if not np.isfinite(xy).all():
        for g in geoms:
            require_finite(g, "overlay")
    return max(SNAP, float(np.abs(xy).max(initial=1.0)) * 1e-12)


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
    # pass order
    p_c = np.vstack(cut_p)
    order = np.lexsort((p_c[:, 1], p_c[:, 0], np.concatenate(cut_t), ie))
    return _split_edges(edges, ie[order], p_c[order], snap)


def _split_edges(edges: np.ndarray, ie: np.ndarray, cuts: np.ndarray, snap: float) -> np.ndarray:
    """Each edge replaced in place by its pieces between the ``cuts``
    points on it (``ie``: their edges, sorted; each edge's cuts in order
    along it), laid out as one point run per edge: start, cuts, end.
    Consecutive points within a run are the pieces; on a cut edge,
    pieces whose ends share a snap cell are dropped."""
    n_e = len(edges)
    k = np.bincount(ie, minlength=n_e)
    first = 2 * np.arange(n_e) + np.cumsum(k) - k
    pts = np.empty((2 * n_e + len(ie), 2))
    pts[first] = edges[:, :2]
    pts[first + k + 1] = edges[:, 2:]
    pts[2 * ie + np.arange(len(ie)) + 1] = cuts
    piece = np.ones(len(pts) - 1, dtype=bool)
    piece[(first + k + 1)[:-1]] = False
    cells = np.round(pts / snap)
    distinct = (cells[:-1] != cells[1:]).any(axis=1)[piece]
    out = np.hstack([pts[:-1], pts[1:]])[piece]
    return out[(np.repeat(k, k + 1) == 0) | distinct]


def _nearest_segment(mids: np.ndarray, segs: np.ndarray) -> np.ndarray:
    """Per-midpoint distance to the nearest of the (m, 4) segments — one
    broadcast distance matrix per segment block (a per-segment python
    loop was the profiled hot spot), blocked so memory stays bounded
    for very large polygons. ``segs`` must not be empty."""
    from pygeoops_spark.geom.kernels import point_segment_distance

    px, py = mids[:, 0][:, None], mids[:, 1][:, None]
    block = max(int(4_000_000 / max(len(mids), 1)), 16)
    best = np.full(len(mids), np.inf)
    for s0 in range(0, len(segs), block):
        sb = segs[s0 : s0 + block]
        d = point_segment_distance(
            px, py, sb[None, :, 0], sb[None, :, 1], sb[None, :, 2], sb[None, :, 3]
        )
        best = np.minimum(best, d.min(axis=1))
    return best


def _classify(edges: np.ndarray, poly: Geometry, snap: float) -> np.ndarray:
    """Whether each edge of a line lies on the closed polygon ``poly``
    — the one line-and-point test of the overlay core: its midpoint is
    within the 10*snap band of poly's boundary segments (the noding
    tolerance, so "cut here" and "on the boundary" agree), or strictly
    inside poly. Polygons are closed for lines and points, as in GEOS:
    a piece on the band lies on the polygon whichever edge of the ring
    it follows."""
    mids = (edges[:, :2] + edges[:, 2:]) / 2
    segs = _chain_edges([r for part in get_parts(poly) for r in part.data], skip_zero=False)
    onb = _nearest_segment(mids, segs) <= snap * 10 if len(segs) else np.zeros(len(edges), dtype=bool)
    return onb | np.asarray(points_in_polygon(mids[:, 0], mids[:, 1], poly), dtype=bool)


def _ranges(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Every ``(k, i)`` with ``lo[k] <= i < hi[k]``, as two index arrays
    in order of k, then i."""
    n = np.maximum(hi - lo, 0)
    k = np.repeat(np.arange(len(lo)), n)
    return k, lo[k] + np.arange(len(k)) - np.repeat(np.cumsum(n) - n, n)


def _near_pairs(cells: np.ndarray, radius: int) -> tuple[np.ndarray, np.ndarray]:
    """Index pairs ``(i, j)`` of the distinct (n, 2) int64 grid keys
    ``cells`` that lie within Chebyshev distance ``radius``, each pair
    once. Keys are bucketed by ``x // (radius + 1)`` and sorted by
    (bucket, y); a key meets the keys after it in its own bucket up to
    ``radius`` higher in y, and those of the next bucket within
    ``radius`` in y, so no key meets more than ``3 * (radius + 1)**2``
    others (a column of keys sharing one x stays linear)."""
    n = len(cells)
    z = cells[:, 0] // (radius + 1) + 1j * cells[:, 1]
    o = np.argsort(z, kind="stable")
    z = z[o]
    # the first places at or past (bucket, y + radius + 1), (bucket + 1,
    # y - radius) and (bucket + 1, y + radius + 1): keys are integers
    up, down = 1j * (radius + 1), -1j * radius
    ends = np.searchsorted(z, np.concatenate([z + up, z + 1 + down, z + 1 + up]))
    lo = np.concatenate([np.arange(1, n + 1), ends[n : 2 * n]])
    hi = np.concatenate([ends[:n], ends[2 * n :]])
    if (hi <= lo).all():
        return o[:0], o[:0]
    k, j = _ranges(lo, hi)
    i, j = o[k % n], o[j]
    near = np.abs(cells[i, 0] - cells[j, 0]) <= radius
    return i[near], j[near]


def _min_labels(n: int, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Connected components of ``n`` nodes joined by the pairs ``(i,
    j)``: each node's label is the smallest node in its component,
    spread over the pairs with pointer jumping until it settles."""
    label, ij = np.arange(n), np.concatenate([i, j])
    while True:
        new = label.copy()
        np.minimum.at(new, ij, np.tile(np.minimum(label[i], label[j]), 2))
        new = new[new]
        if (new == label).all():
            return label
        label = new


def _cluster_nodes(uniq: np.ndarray, radius: int) -> np.ndarray:
    """Clusters of the sorted (n, 2) int64 grid keys ``uniq`` (as
    ``np.unique`` returns them), merging keys within Chebyshev distance
    ``radius`` transitively: each key's canonical index is the smallest
    index in its cluster."""
    return _min_labels(len(uniq), *_near_pairs(uniq, radius))


def _revisit_loops(keys: list) -> tuple[list[list[int]], list[int]]:
    """The vertex-revisit stack walk over a vertex sequence, given as
    one hashable key per vertex: whenever a key repeats, the positions
    since its first visit (both visits included) close a simple loop
    and leave the path. Returns the loops, inner ones first, and the
    positions the walk leaves open."""
    loops: list[list[int]] = []
    path: list[int] = []
    at: dict = {}
    for v, k in enumerate(keys):
        i = at.get(k)
        if i is None:
            at[k] = len(path)
            path.append(v)
            continue
        loops.append(path[i:] + [v])
        for p in path[i + 1 :]:
            del at[keys[p]]
        del path[i + 1 :]
    return loops, path


def _winding_region(
    edges: np.ndarray,
    snap: float,
    dirty: np.ndarray | None = None,
    operand: np.ndarray | None = None,
    keep: Callable[[np.ndarray], np.ndarray] | None = None,
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """The boundary of the kept region of a noded directed edge array:
    the one face walk of the geometry core, under every polygon op.
    Returns ``(shells, holes)``: closed coordinate arrays, shells CCW and
    holes CW.

    Each edge belongs to one operand (``operand``: a label per edge, all
    0 when None), and each face carries one winding number per operand.
    ``keep`` maps the (faces, operands) windings to the kept faces; by
    default a face is kept where any winding is nonzero. Union and
    make_valid pass one operand (coverage > 0: every ring is normalized
    interior-left), dissolve_partition its seam-split edges, and the
    binary ops both operands' noded edges with a rule over the two
    counts (_Rule).

    The half-edge arrangement is built with whole-array numpy. Vertices
    are the edges' snapped cells, numbered in cell order; a vertex takes
    the coordinates of its first occurrence in edge order. Each
    undirected edge carries, per operand, the signed count of the edges
    laid on it (one ``np.bincount``): coincident edges merge, and
    anti-directed ones cancel to 0 and stay in the arrangement. One
    ``lexsort`` by origin and angle gives each half-edge its next, the
    clockwise-next edge out of its end after its twin, so a face lies on
    the left of its cycle; the faces are the cycles of that permutation
    (pointer doubling). Windings are carried across twins, one frontier
    of faces per pass, from the outer (most negative area) face of each
    connected component; where there are several, an outer face takes
    the winding of one of its component's vertices against the other
    components' edges. The kept region's boundary (a kept face on the
    left, one not kept on the right) is walked the same way, rings
    starting at the boundary half-edges in (origin, end) order; a walk
    through one vertex twice (a hole touching its shell) is pinched into
    simple rings there, and a ring vertex takes its vertex's
    coordinates.

    Near-coincident input can leave edges unnoded, and then the faces
    are wrong. Two signals catch it, each naming the components it
    fires in:

    * two edges out of vertices within 16 cells of each other touch or
      cross away from a shared vertex: noding leaves a contact uncut
      only that close to another vertex, a component's vertex on
      another component's edge included;
    * crossing a twin disagrees with a winding already assigned (for
      any operand), a face is reached from no outer face, or a
      component is not a planar map (V - E + F != 2); a boundary walk
      that does not close names them all.

    On a signal the arrangement is rebuilt, the clustered pass:
    the ``dirty`` rows (the named components' edges) are noded again
    among themselves, each keeping its operand, and their endpoint
    cells join their 10-cell clusters (_cluster_nodes). That merges the
    topology and moves no coordinate: a boundary half-edge takes one of
    the edges laid on it — stepping from its kept face across them,
    from left to right, the last one that turns a kept winding into one
    not kept — and its ring runs through both ends of it, so a merged
    vertex keeps the end of the edge into it as well as the start of
    the edge out of it. For one operand that is the edge furthest to
    the right (where near edges merged, a union keeps the widest); where
    A's and B's boundaries merged, it is the operand whose edge ends
    the kept region (an intersection keeps the narrowest).

    A merge can bring a named component into contact with one the
    signals left out: a parcel overlapping a named one by 1e-9 then lies
    on the merged edge, and its outer face would take that edge's
    winding and vanish. The clustered pass's signals name it, and the
    pass runs again with it, until they name no component it left out.
    Past that, only a boundary walk that does not close changes the
    result: it comes back empty."""
    if not len(edges):
        return [], []
    if operand is None:
        operand = np.zeros(len(edges), dtype=np.intp)
    n_op = int(operand.max()) + 1
    o0 = edges[0, :2]
    src_edges, src_operand = edges, operand
    if dirty is not None:
        # a cut at a near vertex bends an edge, and the bent pieces can
        # cross a neighbour: the flagged components are noded again
        # among themselves, and their cells join their 10-cell clusters
        # (the topology merges, no coordinate moves)
        flagged = [_node_edges(edges[dirty & (operand == i)], edges[dirty], snap) for i in range(n_op)]
        operand = np.concatenate([operand[~dirty]] + [np.full(len(f), i) for i, f in enumerate(flagged)])
        flagged = np.vstack(flagged)
        edges = np.vstack([edges[~dirty], flagged])
    xy = edges.reshape(-1, 2)
    keys = np.round(xy / snap).astype(np.int64)
    if dirty is not None and len(flagged):
        uniq, inv = np.unique(keys[-2 * len(flagged) :], axis=0, return_inverse=True)
        keys[-2 * len(flagged) :] = uniq[_cluster_nodes(uniq, radius=10)[inv.ravel()]]
    alive = (keys[0::2] != keys[1::2]).any(axis=1)
    if not alive.any():
        return [], []
    # vertices: endpoint keys in edge order (start, end, start, ...),
    # numbered in cell order (complex keys sort by x, then y) with the
    # coordinates of their first occurrence
    keys, xy, op = keys[alive.repeat(2)], xy[alive.repeat(2)], operand[alive]
    _, first, vid = np.unique(keys[:, 0] + 1j * keys[:, 1], True, True)
    cells, pts, nv = keys[first], xy[first], len(first)
    a, b = vid[0::2], vid[1::2]
    # undirected edges lo < hi with the net count per operand laid on
    # lo -> hi
    und, inv = np.unique(np.minimum(a, b) * nv + np.maximum(a, b), return_inverse=True)
    m = len(und)
    delta = np.bincount(inv * n_op + op, np.sign(b - a), m * n_op)
    delta = delta.reshape(m, n_op).astype(np.int64)
    # half-edge h < m runs lo -> hi and h + m is its twin; the winding
    # on the left of a half-edge exceeds the right by its count
    org = np.concatenate([und // nv, und % nv])
    dst = np.concatenate([und % nv, und // nv])
    twin = np.concatenate([np.arange(m, 2 * m), np.arange(m)])
    count = np.concatenate([delta, -delta])
    d = pts[dst] - pts[org]
    order = np.lexsort((np.arctan2(d[:, 1], d[:, 0]), org))
    deg = np.bincount(org, minlength=nv)
    beg = np.cumsum(deg) - deg
    # a face is named by the lowest half-edge on its cycle; each
    # half-edge's next is the one before its twin around the end vertex
    # (p: the twin's place in that order)
    face = np.arange(2 * m)
    p = np.argsort(order)[twin]
    succ = order[np.where(p > beg[dst], p - 1, beg[dst] + deg[dst] - 1)]
    step = succ
    for _ in range((2 * m).bit_length()):
        face = np.minimum(face, face[step])
        step = step[step]
    right = face[twin]
    rel = pts - o0
    cross = rel[org, 0] * rel[dst, 1] - rel[dst, 0] * rel[org, 1]
    area = np.bincount(face, weights=cross, minlength=2 * m) / 2
    # components: V - E + F = 2 for each planar one (and less for one
    # that is not). A component's outer face is its most negative one; a
    # lone component needs no labels
    faces = np.nonzero(face == np.arange(2 * m))[0]
    if nv - m + len(faces) == 2:
        comp, outer = np.zeros(2 * m, dtype=np.intp), faces[[np.argmin(area[faces])]]
    else:
        comp = _min_labels(2 * m, face, right)[face]
        o = np.lexsort((area[faces], comp[faces]))
        outer = faces[o][np.r_[True, np.diff(comp[faces][o]) != 0]]
    wind = np.zeros((2 * m, n_op), dtype=np.int64)
    if len(outer) > 1:
        # an outer face takes the winding of a vertex of its component
        # against the other components' edges: the half-open crossing
        # rule over the (edge, vertex) pairs whose edge spans its y
        q = pts[org[outer]]
        by_y = np.argsort(q[:, 1], kind="stable")
        p1, p2 = pts[org[:m]], pts[dst[:m]]
        lo, hi = np.minimum(p1[:, 1], p2[:, 1]), np.maximum(p1[:, 1], p2[:, 1])
        e, k = _ranges(np.searchsorted(q[by_y, 1], lo), np.searchsorted(q[by_y, 1], hi))
        k = by_y[k]
        s = (p2[e, 0] - p1[e, 0]) * (q[k, 1] - p1[e, 1]) - (q[k, 0] - p1[e, 0]) * (p2[e, 1] - p1[e, 1])
        up = p2[e, 1] > p1[e, 1]
        hit = np.where(up, s > 0, s < 0) & (comp[e] != comp[outer][k])
        np.add.at(wind, outer[k], (np.where(up, 1, -1) * hit)[:, None] * delta[e])
    # windings spread from the outer faces across twins, one frontier of
    # faces per pass
    done = np.zeros(2 * m, dtype=bool)
    done[outer] = True
    while (go := done[face] & ~done[right]).any():
        wind[right[go]] = wind[face[go]] - count[go]
        done[right[go]] = True
    # the signals, per half-edge: an unnoded contact (a half-edge out of
    # a vertex that touches or crosses, away from a shared vertex, one
    # out of a vertex within 16 cells), a face no winding reached, a twin
    # that disagrees, a component that is not a planar map
    i, j = _near_pairs(cells, 16)
    bad = np.zeros(2 * m, dtype=bool)
    if len(i):
        p, f = _ranges(beg[i], beg[i] + deg[i])
        q, g = _ranges(beg[j[p]], beg[j[p]] + deg[j[p]])
        f, g = order[f[q]], order[g]
        hit = (org[f] != dst[g]) & (dst[f] != org[g]) & (dst[f] != dst[g])
        hit &= segments_touch(pts[org[f]], pts[dst[f]], pts[org[g]], pts[dst[g]])
        bad[f[hit]] = bad[g[hit]] = True
    bad |= ~done[face] | (wind[face] - wind[right] != count).any(axis=1)
    if nv - m + len(faces) != 2 * len(outer):
        euler = np.bincount(comp[order[beg]], minlength=2 * m) + np.bincount(comp[faces], minlength=2 * m)
        bad |= (euler - np.bincount(comp[:m], minlength=2 * m) != 2)[comp]
    keep = keep or (lambda w: w.any(axis=1))
    kept = keep(wind[face])
    bnd = kept & ~kept[twin]
    hb = np.nonzero(bnd)[0]
    # each boundary half-edge's successor: its next around the end
    # vertex, turned on clockwise to the first boundary half-edge. The
    # walk closes only where that is a permutation of the boundary.
    nb = succ[hb]
    for _ in range(int(deg.max())):
        off = ~bnd[nb]
        if not off.any():
            break
        nb[off] = succ[twin[nb[off]]]
    local = np.full(2 * m, -1)
    local[hb] = np.arange(len(hb))
    nb = local[nb]
    closes = bool((nb >= 0).all()) and bool((np.bincount(nb, minlength=len(hb)) == 1).all())
    bad |= not closes
    if bad.any():
        # the components a signal names go to the clustered pass, with
        # the rows it already clustered (the rows it left out come first
        # in ``edges``, in their order)
        named = np.zeros(len(edges), dtype=bool)
        named[alive] = np.isin(comp[inv], comp[bad])
        grown = np.zeros(len(src_edges), dtype=bool) if dirty is None else dirty.copy()
        more = named[: np.count_nonzero(~grown)]
        if more.any():
            grown[~grown] = more
            return _winding_region(src_edges, snap, grown, src_operand, keep)
    if not closes:
        return [], []
    # ring coordinates: a half-edge's origin vertex. On the clustered
    # pass, a boundary half-edge runs through both ends of one edge laid
    # on it: stepping from its kept face across those edges, from left
    # to right, the last one that turns a kept winding into one not kept
    # (for one operand, the edge furthest to its right)
    hxy = pts[org]
    if dirty is not None:
        lo_xy, hi_xy = pts[np.minimum(a, b)], pts[np.maximum(a, b)]
        mid = (xy[0::2] + xy[1::2]) / 2 - lo_xy
        o = np.lexsort(((hi_xy[:, 0] - lo_xy[:, 0]) * mid[:, 1] - (hi_xy[:, 1] - lo_xy[:, 1]) * mid[:, 0], inv))
        st = np.searchsorted(inv[o], np.arange(m + 1))
        g = hb % m
        k, pos = _ranges(st[g], st[g + 1])
        # lo -> hi meets its edges by falling offset, hi -> lo by rising
        back = hb[k] < m
        j = o[np.where(back, st[g][k] + st[g + 1][k] - 1 - pos, pos)]
        step = np.zeros((len(j), n_op), dtype=np.int64)
        step[np.arange(len(j)), op[j]] = np.where(back, 1, -1) * np.sign(b[j] - a[j])
        # whether the windings past each edge are kept, and before it
        n = st[g + 1] - st[g]
        head = np.cumsum(n) - n
        cs = np.cumsum(step, axis=0)
        inside = keep(wind[face[hb]][k] - cs + (cs - step)[head][k])
        before = np.r_[True, inside][:-1]
        before[head] = True
        turn = np.nonzero(before & ~inside)[0]
        at = np.full(len(hb), -1)
        np.maximum.at(at, k[turn], turn)
        # where the windings disagree and nothing turns: the furthest
        rep = j[np.where(at < 0, head + n - 1, at)]
        hxy = np.empty((2 * m, 2))
        hxd = np.empty((2 * m, 2))
        hxy[hb] = xy[2 * rep + (a[rep] != org[hb])]
        hxd[hb] = xy[2 * rep + (a[rep] == org[hb])]
    shells, holes = [], []
    nb, start = nb.tolist(), org[hb].tolist()
    seen: set[int] = set()
    for s0 in np.lexsort((dst[hb], org[hb])).tolist():
        if s0 in seen:
            continue
        walk = [s0]
        while nb[walk[-1]] != s0:
            walk.append(nb[walk[-1]])
        seen.update(walk)
        # a walk through one vertex twice (a hole touching its shell) is
        # pinched there into simple rings; any other walk is one ring
        keys = [start[h] for h in walk]
        loops = [walk + walk[:1]]
        if len(set(keys)) < len(keys):
            loops = _revisit_loops(keys + keys[:1])[0]
            loops = [[walk[k - 1] for k in loop[1:]] + [walk[loop[1] - 1]] for loop in loops]
        for loop in loops:
            h = hb[loop]
            ring = hxy[h]
            if dirty is not None:
                # a merged vertex keeps the end of the edge into it as
                # well as the start of the edge out of it
                ring = np.stack([hxy[h], hxd[h]], axis=1).reshape(-1, 2)[:-1]
                ring = ring[np.r_[True, (ring[1:] != ring[:-1]).any(axis=1)]]
            ring_area = ring_signed_area(ring)
            if abs(ring_area) > 1e-12:
                (shells if ring_area > 0 else holes).append(ring)
    return shells, holes


def _rings_to_polygons(rings: list[np.ndarray], snap: float = 0.0) -> Geometry | None:
    """Shells (CCW) and holes (CW) of the closed rings of
    _winding_region as a (multi)polygon. Rings are 2-D, so the result
    is tagged ``xy`` whatever the inputs carried: overlay results drop
    Z/M."""
    shells, holes = [], []
    for r in rings:
        if len(r) < 4:
            continue
        area = ring_signed_area(r)
        # min-area filter is scale-relative like the noding tolerance:
        # node clustering can produce sliver rings of width up to
        # ~2*snap whose area (width*perimeter/2) exceeds the absolute
        # SNAP floor at projected-CRS magnitudes; a ring thinner than
        # 2*snap is below the noding resolution and is debris, not
        # geometry
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


class _Rule(NamedTuple):
    """A binary boolean op as a face rule over _binary_overlay.

    ``keep`` takes each face's (faces, 2) winding counts, in A then in
    B, and returns the faces the result covers. ``b_empty_keeps_a``:
    the result is A when B has no polygon, or no edge (else None)."""

    keep: Callable[[np.ndarray], np.ndarray]
    b_empty_keeps_a: bool


# A \ B: faces inside A and outside B.
_DIFFERENCE = _Rule(lambda w: (w[:, 0] != 0) & (w[:, 1] == 0), True)
# A ∩ B: faces inside both.
_INTERSECTION = _Rule(lambda w: (w != 0).all(axis=1), False)


def _binary_overlay(a: Geometry | None, b: Geometry | None, rule: _Rule) -> Geometry | None:
    """The one binary overlay pipeline: snap scale, node both ways, the
    winding region of both operands' noded edges (each edge labelled by
    its operand) under the rule, rings to polygons."""
    pa, pb = _as_polys(a), _as_polys(b)
    if not pa:
        return None
    if not pb:
        return a if rule.b_empty_keeps_a else None
    snap = _op_snap((a, b))
    edges = [_poly_edges(pa), _poly_edges(pb)]
    noded = [_node_edges(edges[i], edges[1 - i], snap) for i in (0, 1)]
    # an operand left with no edge (rings collapsed to a point) covers
    # no face, as if it had no polygon
    if not len(noded[0]):
        return None
    if not len(noded[1]):
        return a if rule.b_empty_keeps_a else None
    operand = np.repeat([0, 1], [len(e) for e in noded])
    shells, holes = _winding_region(np.vstack(noded), snap, operand=operand, keep=rule.keep)
    return _rings_to_polygons(shells + holes, snap)


def polygon_difference(a: Geometry, b: Geometry) -> Geometry | None:
    """A \\ B for (multi)polygons; None when empty."""
    return _binary_overlay(a, b, _DIFFERENCE)


def polygon_intersection(a: Geometry, b: Geometry) -> Geometry | None:
    """A ∩ B for (multi)polygons; None when empty."""
    return _binary_overlay(a, b, _INTERSECTION)


def polygon_union(polys: list[Geometry]) -> Geometry | None:
    """N-ary union: the region of nonzero winding (coverage > 0) of the
    normalized input rings over one noded arrangement (_winding_region).
    None inputs (empty operands, e.g. an empty difference result) are
    skipped."""
    flat = [p for g in polys if g is not None for p in _as_polys(g)]
    snap = _op_snap(flat)
    flat = [p for p in flat if abs(ring_signed_area(np.asarray(p.data[0]))) > 0]
    if not flat:
        return None
    if len(flat) == 1:
        return flat[0]
    edges = [_poly_edges([p]) for p in flat]
    # each polygon is noded against the polygons whose bboxes come
    # within the noding tolerance of its own: the others can neither
    # cut it nor touch it (one all-against-all noding is quadratic in
    # the edge count: 5x slower on 800 scattered circles)
    lo = np.array([np.minimum(e[:, :2], e[:, 2:]).min(axis=0) for e in edges]) - snap * 10
    hi = np.array([np.maximum(e[:, :2], e[:, 2:]).max(axis=0) for e in edges])
    near = (lo[:, None] <= hi[None]).all(axis=2) & (lo[None] <= hi[:, None]).all(axis=2)
    np.fill_diagonal(near, False)
    noded = [
        _node_edges(e, np.vstack([edges[j] for j in np.nonzero(row)[0]]), snap) if row.any() else e
        for e, row in zip(edges, near)
    ]
    shells, holes = _winding_region(np.vstack(noded), snap)
    return _rings_to_polygons(shells + holes, snap)


def dissolve_partition(polys: list[Geometry]) -> Geometry | None:
    """Union of interior-disjoint polygons whose shared boundaries lie
    on axis-aligned lines — the exact shape produced by subdivide tiling
    (+ per-tile difference), which cuts on vertical/horizontal lines.

    The fast path of polygon_union for that shape: instead of its
    pairwise noding (quadratic in coordinates for a tile fan-out), each
    axis-aligned edge is split at the endpoints of the other edges on
    its line (the seams' T-junctions, found with one sort per axis), so
    the two sides of a seam lay the same pieces in opposite directions.
    The split edges go to the one winding arrangement
    (_winding_region), keyed by the op's snap (_op_snap), where
    coincident anti-directed pieces cancel like every other coincident
    edge; sloped edges pass unsplit. On a partition the result is
    polygon_union's, byte for byte.

    A non-finite vertex raises wkb.require_finite's ValueError, as in
    the other polygon ops.

    Input contract: pieces are interior-disjoint (tile results are, by
    construction). A set that is not a partition falls back to the
    general polygon_union when it fails the area-conservation check
    (the union area of a partition == the sum of the part areas), since
    the winding region covers an overlap once. A set that overlaps pays
    for the dissolve and then the union, so polygon_union stays the op
    for sets that may overlap.

    Mirrors the recombination semantics of the reference's
    difference_all_tiled (shapely.unary_union over interior-disjoint
    tile results, /root/reference/pygeoops/_difference.py:103-110).
    """
    from pygeoops_spark.geom.kernels import polygon_area

    flat = [p for g in polys if g is not None for p in _as_polys(g)]
    snap = _op_snap(flat)
    flat = [p for p in flat if abs(ring_signed_area(np.asarray(p.data[0]))) > 0]
    if not flat:
        return None
    if len(flat) == 1:
        return flat[0]
    edges = _poly_edges(flat)
    # vertical edges (c = 0), then horizontal ones: each is cut at the
    # endpoints on its line more than 10*snap inside it (_node_edges'
    # vertex rule), keyed (line, position) as one complex number, in its
    # own direction
    cut_e, cut_p = [], []
    for c in (0, 1):
        rows = np.nonzero(edges[:, c] == edges[:, c + 2])[0]
        line = np.round(edges[rows, c] / snap)
        a, b = edges[rows, 1 - c], edges[rows, 3 - c]
        ends = np.unique(np.concatenate([line + 1j * a, line + 1j * b]))
        lo = np.searchsorted(ends, line + 1j * (np.minimum(a, b) + snap * 10), "right")
        hi = np.searchsorted(ends, line + 1j * (np.maximum(a, b) - snap * 10), "left")
        k, j = _ranges(lo, hi)
        j = np.where(b[k] < a[k], lo[k] + hi[k] - 1 - j, j)
        p = np.empty((len(k), 2))
        p[:, c], p[:, 1 - c] = edges[rows[k], c], ends[j].imag
        cut_e.append(rows[k])
        cut_p.append(p)
    ie = np.concatenate(cut_e)
    order = np.argsort(ie, kind="stable")
    edges = _split_edges(edges, ie[order], np.vstack(cut_p)[order], snap)
    shells, holes = _winding_region(edges, snap)
    result = _rings_to_polygons(shells + holes, snap)
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
    return line_difference(line_coords, poly, keep_outside=False)


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
    inside = _classify(noded, poly, SNAP)
    keep = ~inside if keep_outside else inside
    cells = np.round(noded / SNAP)
    joined = np.zeros(len(noded), dtype=bool)
    joined[1:] = keep[1:] & keep[:-1] & (cells[:-1, 2:] == cells[1:, :2]).all(axis=1)
    kept = np.nonzero(keep)[0]
    if not len(kept):
        return []
    runs = np.split(kept, np.nonzero(~joined[kept])[0][1:])
    return [np.vstack([noded[r[0], :2], noded[r, 2:]]) for r in runs]
