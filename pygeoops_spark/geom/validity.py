"""Validity repair (make_valid) for any geometry.

Polygonal inputs get the full planar-arrangement repair below;
linework inputs follow GEOS MakeValid's rules (valid unless degenerate
— a zero-length line collapses to a Point under keep_collapsed, see
_make_valid_line); points are always valid; GeometryCollections
recurse per part.

A non-simple shell ring is resolved by the NONZERO-WINDING rule over
its full planar arrangement (_nonzero_region): node the ring against
itself (once, _self_noded: the loop split reads the same edge array),
walk the half-edge faces, propagate winding numbers from the
unbounded face, keep faces with winding != 0, and re-assemble the kept
region's boundary rings.  One rule covers all the shapes the reference
test-suite exercises (tests/test_simplify.py:181-251) and beyond:

* self-touch / self-cross shells (figure-eight, bowtie) -> one part
  per lobe (winding 0 -> +-1 on each side);
* a hole encoded by self-touching into the shell ring (outer loop CCW,
  inner loop CW) -> polygon with interior ring (winding 1 -> 0);
* an island inside that hole (another nested CCW loop) -> separate
  polygon part (winding 0 -> 1 again);
* a doubly-wound (spiral) ring -> the double-covered region is kept
  once (winding 2 is still nonzero);
* partially-overlapping lobes (pentagram-like rings where extracted
  loops cross each other at shared nodes) -> the exact union region,
  which a pure loop-nesting classification cannot produce.

The kept region's holes and the input's interior rings (loop-split
the same way) are nested by the geometry core's one hole-nesting step,
overlay._assemble_polygons: each goes to the smallest kept shell that
contains a point strictly inside it and encloses more area than it (an
island inside a hole never takes the hole); holes outside every shell
are dropped.

Semantics note vs GEOS: shapely.make_valid's default "linework" method
classifies faces even-odd, which differs from the nonzero rule only
for regions wound >= 2 times by the same ring (we keep them covered,
matching MakeValid's point-set-preserving "structure" method and the
documented guarantee that no input area is lost).  The reference's
own tests never exercise that corner.

Rings that COLLAPSE to a lower dimension (zero area: a line or a
point) follow the reference's keep_collapsed semantics
(/root/reference/pygeoops/_general.py:419-479 delegating to GEOS
MakeValid): keep_collapsed=True emits the collapsed LineString/Point
(mixed results become a GeometryCollection), keep_collapsed=False
drops them.
"""

from __future__ import annotations

import math

import numpy as np

from pygeoops_spark.geom.kernels import ring_signed_area
from pygeoops_spark.geom.overlay import (
    SNAP,
    _assemble_polygons,
    _cell_keys,
    _chain_edges,
    _node_edges,
)
from pygeoops_spark.geom.wkb import (
    Geometry,
    GEOMETRYCOLLECTION,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    get_parts,
    multi,
)


def _collapsed_geometry(coords: np.ndarray) -> Geometry | None:
    """Zero-area ring -> its lower-dimension remnant: the deduped
    traversal path as a LineString, or a Point when fully degenerate
    (mirrors GEOS MakeValid's collapse output for flat rings)."""
    arr = np.asarray(coords, dtype=float)[:, :2]
    if len(arr) >= 2 and np.array_equal(arr[0], arr[-1]):
        arr = arr[:-1]
    if len(arr) >= 2:
        keep = np.ones(len(arr), dtype=bool)
        keep[1:] = np.any(arr[1:] != arr[:-1], axis=1)
        arr = arr[keep]
    if len(arr) == 0:
        return None
    uniq = np.unique(arr, axis=0)
    if len(uniq) == 1:
        # ndarray payload (wkb_dumps packs point coords via .reshape)
        return Geometry(POINT, arr[0].copy())
    return Geometry(LINESTRING, arr)


def _self_noded(ring: np.ndarray) -> np.ndarray:
    """A closed ring's edge array noded against itself (crossing points
    inserted), in ring order with each edge's cuts sorted along it. The
    one arrangement of a ring: the validity check, the loop split and
    the nonzero region all read it, so a ring is noded once."""
    edges = _chain_edges([ring])
    return _node_edges(edges, edges)


def _ring_loops(ring: np.ndarray) -> list[np.ndarray]:
    """Split a (possibly self-touching/crossing) closed ring into simple
    loops (see _noded_loops). Returns [ring] when already simple."""
    return _noded_loops(_self_noded(ring))


def _noded_loops(noded: np.ndarray) -> list[np.ndarray]:
    """The simple loops of a self-noded ring (_self_noded), by the
    vertex-revisit stack walk: walk in ring order popping a loop
    whenever a vertex repeats."""
    if not len(noded):
        return []
    verts = np.vstack([noded[:1, :2], noded[:, 2:]])
    keys = _cell_keys(verts, SNAP)
    loops: list[np.ndarray] = []
    path: list[int] = []  # vertex indices
    index: dict[tuple, int] = {}
    for v, k in enumerate(keys):
        if k in index:
            i = index[k]
            loop = path[i:] + [v]
            if len(loop) >= 4:
                lp = verts[loop]
                if abs(ring_signed_area(lp)) > 1e-12:
                    loops.append(lp)
            for p in path[i + 1 :]:
                index.pop(keys[p], None)
            path = path[: i + 1]
        else:
            index[k] = len(path)
            path.append(v)
    if len(path) >= 3:
        lp = verts[path + path[:1]]
        if abs(ring_signed_area(lp)) > 1e-12:
            loops.append(lp)
    return loops


def polygon_is_simple(poly: Geometry) -> bool:
    """Does the shell form a single simple loop?"""
    if not poly.data:
        return True
    return len(_ring_loops(np.asarray(poly.data[0]))) <= 1


def make_valid(
    geom: Geometry | None,
    keep_collapsed: bool = True,
    only_if_invalid: bool = False,
) -> Geometry | None:
    """Repair self-touching/crossing polygon shells; pass through other
    types. Multi-loop shells become MultiPolygon parts ordered by
    descending area (deterministic; matches the reference tests' use of
    geoms[0] as the dominant part). Collapsed rings follow
    keep_collapsed (see module docstring). only_if_invalid mirrors the
    reference's fast path (_general.py:446-458): check validity first
    and return the input untouched when already simple — cheaper when
    most geometries are valid."""
    if geom is None:
        return None
    t = geom.type_id
    if t in (POLYGON, MULTIPOLYGON):
        polys = [geom] if t == POLYGON else list(geom.data)
        # each shell is noded once, for the check and the repair alike
        shells = [_self_noded(p.data[0]) if p.data else None for p in polys]
        # valid: every shell is exactly ONE simple loop. A zero-area
        # (collapsed) shell yields 0 loops and is INVALID — it must
        # fall through to the repair path so keep_collapsed applies
        if only_if_invalid and all(s is None or len(_noded_loops(s)) == 1 for s in shells):
            return geom
        repaired = [_make_valid_polygon(p, s, keep_collapsed) for p, s in zip(polys, shells)]
        if t == POLYGON:
            return repaired[0]
        parts = [q for r in repaired if r is not None for q in get_parts(r)]
        if not parts:
            return None
        if len(parts) == 1:
            return parts[0]
        if all(p.type_id == POLYGON for p in parts):
            if any(p.dims != parts[0].dims for p in parts):
                # a repaired part came back 2-D: drop Z/M from all parts
                parts = [Geometry(POLYGON, [r[:, :2] for r in p.data]) for p in parts]
            return multi(MULTIPOLYGON, parts)
        return multi(GEOMETRYCOLLECTION, parts)
    if t == LINESTRING:
        return _make_valid_line(geom, keep_collapsed)
    if t == MULTILINESTRING:
        parts = []
        for p in get_parts(geom):
            r = _make_valid_line(p, keep_collapsed)
            if r is not None:
                parts.append(r)
        return _reassemble(parts, MULTILINESTRING, LINESTRING)
    if t == GEOMETRYCOLLECTION:
        parts = []
        for p in get_parts(geom):
            # only_if_invalid propagates: an already-valid part inside
            # a collection takes the reference's fast path untouched
            # (_general.py:446-458) instead of a full arrangement
            # repair that may reorder its sub-parts by area
            r = make_valid(p, keep_collapsed, only_if_invalid)
            if r is not None:
                parts.append(r)
        if not parts:
            return None
        return multi(GEOMETRYCOLLECTION, parts, geom.dims)
    # POINT / MULTIPOINT: always valid (GEOS MakeValid is the identity)
    return geom


def _reassemble(parts: list, multi_type: int, part_type: int):
    """Post-repair container rule (mirrors GEOS MakeValid output
    shapes, pinned by the reference test
    tests/test_general.py:485-505: MultiLineString with one collapsed
    part -> GeometryCollection(LineString, Point) when keeping
    collapses, plain LineString when dropping them)."""
    if not parts:
        return None
    if len(parts) == 1:
        return parts[0]
    if all(p.type_id == part_type for p in parts):
        return multi(multi_type, parts)
    return multi(GEOMETRYCOLLECTION, parts)


def _make_valid_line(line: Geometry, keep_collapsed: bool = True) -> Geometry | None:
    """Linework validity: a LineString is valid iff it has >= 2 distinct
    vertices — self-intersection is NON-simplicity, not invalidity, so
    (matching GEOS MakeValid via the reference's delegation,
    /root/reference/pygeoops/_general.py:470-479) a self-crossing line
    is returned unchanged.  A zero-length line collapses to its Point
    when keep_collapsed else is dropped."""
    arr = np.asarray(line.data, dtype=float)
    if arr.ndim != 2 or len(arr) == 0:
        return None
    uniq = np.unique(arr[:, :2], axis=0)
    if len(uniq) >= 2:
        return line
    # ndarray payload (wkb_dumps packs point coords via .reshape)
    return Geometry(POINT, arr[0].copy(), line.dims) if keep_collapsed else None


def _nonzero_region(noded: np.ndarray):
    """Planar-arrangement resolution of a self-intersecting closed ring,
    given noded against itself (_self_noded), under the NONZERO-WINDING
    rule.

    Classical algorithm: from the self-noded ring, build the
    half-edge arrangement, walk faces (face-on-the-left rule: the next
    half-edge is the clockwise-next outgoing edge after the twin),
    propagate winding numbers from the unbounded face across edges
    (+1 to the left of each traversal direction), keep faces with
    winding != 0, and re-assemble the kept region's boundary with the
    same angular walk restricted to boundary half-edges.  Handles
    partially-overlapping lobes (e.g. pentagram-like rings) that a
    pure loop-nesting classification cannot.

    Returns (shells, holes) as lists of closed coordinate arrays:
    shells CCW-walked, holes CW-walked (as produced by the left-hand
    boundary walk)."""
    if not len(noded):
        return [], []

    pts: dict[tuple, np.ndarray] = {}
    # traversal list as vertex keys; net winding delta per undirected edge
    delta: dict[tuple, int] = {}
    for cells, e in zip(_cell_keys(noded, SNAP), noded):
        ka, kb = cells[:2], cells[2:]
        if ka == kb:
            continue
        pts.setdefault(ka, e[:2])
        pts.setdefault(kb, e[2:])
        und = (ka, kb) if ka <= kb else (kb, ka)
        delta[und] = delta.get(und, 0) + (1 if ka <= kb else -1)

    # half-edges: both directions of every undirected arrangement edge
    out_edges: dict[tuple, list[tuple]] = {}
    for (ka, kb) in delta:
        out_edges.setdefault(ka, []).append(kb)
        out_edges.setdefault(kb, []).append(ka)
    # angular order of outgoing half-edges at each vertex
    ang: dict[tuple, float] = {}
    for ka, nbrs in out_edges.items():
        pa = pts[ka]
        nbrs.sort(key=lambda kb: math.atan2(pts[kb][1] - pa[1], pts[kb][0] - pa[0]))
        for kb in nbrs:
            pb = pts[kb]
            ang[(ka, kb)] = math.atan2(pb[1] - pa[1], pb[0] - pa[0])

    def cw_next(v: tuple, frm: tuple, pool=None) -> tuple:
        """Outgoing half-edge at v that is clockwise-next after (v, frm)."""
        nbrs = out_edges[v] if pool is None else pool[v]
        a0 = ang[(v, frm)]
        best, best_d = None, None
        for kb in nbrs:
            d = (a0 - ang[(v, kb)]) % (2.0 * math.pi)
            if d < 1e-15:
                d = 2.0 * math.pi  # the twin itself comes last
            if best_d is None or d < best_d:
                best, best_d = kb, d
        return (v, best)

    # face walk: assign every half-edge to a face (face on its left)
    face_of: dict[tuple, int] = {}
    faces: list[list[tuple]] = []
    for ka, nbrs in out_edges.items():
        for kb in nbrs:
            h = (ka, kb)
            if h in face_of:
                continue
            walk = []
            cur = h
            while cur not in face_of:
                face_of[cur] = len(faces)
                walk.append(cur)
                cur = cw_next(cur[1], cur[0])
            faces.append(walk)

    def walk_area(walk) -> float:
        c = np.array([pts[h[0]] for h in walk] + [pts[walk[0][0]]])
        return ring_signed_area(c)

    # winding propagation: BFS from the unbounded face (most negative
    # walk area) with w = 0; stepping across half-edge h from face(h)
    # to face(twin): the ring's net traversal delta D on that edge has
    # winding D higher on the left of ka->kb
    areas = [walk_area(w) for w in faces]
    outer = int(np.argmin(areas))
    w_face = {outer: 0}
    queue = [outer]
    while queue:
        fi = queue.pop()
        for (ka, kb) in faces[fi]:
            tw = (kb, ka)
            fj = face_of[tw]
            if fj in w_face:
                continue
            und = (ka, kb) if ka <= kb else (kb, ka)
            d = delta[und] if ka <= kb else -delta[und]
            # face fi is on the LEFT of ka->kb; crossing to the right
            # face lowers the winding by d
            w_face[fj] = w_face[fi] - d
            queue.append(fj)

    kept = {fi for fi, w in w_face.items() if w != 0}
    if not kept:
        return [], []

    # boundary half-edges: kept face on the left, not-kept on the right
    boundary = {
        h
        for h, fi in face_of.items()
        if fi in kept and face_of[(h[1], h[0])] not in kept
    }
    pool: dict[tuple, list[tuple]] = {}
    for (ka, kb) in boundary:
        pool.setdefault(ka, []).append(kb)
    shells: list[np.ndarray] = []
    holes: list[np.ndarray] = []
    seen: set[tuple] = set()
    for h0 in sorted(boundary):  # deterministic ring starts
        if h0 in seen:
            continue
        walk = [h0]
        seen.add(h0)
        cur = h0
        while True:
            cur = cw_next(cur[1], cur[0], pool)
            if cur == h0:
                break
            seen.add(cur)
            walk.append(cur)
        coords = np.array([pts[h[0]] for h in walk] + [pts[walk[0][0]]])
        if abs(ring_signed_area(coords)) <= 1e-12:
            continue
        (shells if ring_signed_area(coords) > 0 else holes).append(coords)
    return shells, holes


def _make_valid_polygon(
    poly: Geometry, noded: np.ndarray | None, keep_collapsed: bool
) -> Geometry | None:
    """Repair one polygon whose shell ``noded`` is already self-noded
    (None when the polygon is empty)."""
    if not poly.data:
        return poly
    loops = _noded_loops(noded)
    if not loops:
        # the whole shell is zero-area: a collapse to line/point
        return _collapsed_geometry(np.asarray(poly.data[0])) if keep_collapsed else None
    holes: list[np.ndarray] = []
    if len(loops) == 1:
        # keep the original shell coords (repair is a no-op)
        shells = [np.asarray(poly.data[0], dtype=float)]
    else:
        shells, holes = _nonzero_region(noded)
        if not shells:  # arrangement degenerated: fall back to loops
            shells, holes = loops, []
        shells.sort(key=lambda lp: -abs(ring_signed_area(lp)))
    for hole in poly.data[1:]:
        hole = np.asarray(hole, dtype=float)
        hloops = _ring_loops(hole)
        # keep original coords when the hole was already simple
        holes += [hole] if len(hloops) == 1 else hloops
    return _assemble_polygons(shells, holes, poly.dims)
