"""Validity repair (make_valid) for any geometry.

Polygonal inputs get the full planar-arrangement repair below;
linework inputs follow GEOS MakeValid's rules (valid unless degenerate
— a zero-length line collapses to a Point under keep_collapsed, see
_make_valid_line); points are always valid; GeometryCollections
recurse per part.

A non-simple shell ring is resolved by the NONZERO-WINDING rule over
its full planar arrangement, decided by the geometry core's one face
walk, overlay._winding_region (every polygon op reads the same function):
node the ring against itself (once, _self_noded: the loop split reads
the same edge array), build the half-edge arrangement, carry winding
numbers across its faces from the unbounded face, keep faces with
winding != 0, and walk the kept region's boundary rings.  One rule
covers all the shapes the reference test-suite exercises
(tests/test_simplify.py:181-251) and beyond:

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

import numpy as np

from pygeoops_spark.geom.kernels import ring_signed_area
from pygeoops_spark.geom.overlay import (
    SNAP,
    _assemble_polygons,
    _cell_keys,
    _chain_edges,
    _node_edges,
    _revisit_loops,
    _winding_region,
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
    the winding region all read it, so a ring is noded once."""
    edges = _chain_edges([ring])
    return _node_edges(edges, edges)


def _ring_loops(ring: np.ndarray) -> list[np.ndarray]:
    """Split a (possibly self-touching/crossing) closed ring into simple
    loops (see _noded_loops). Returns [ring] when already simple."""
    return _noded_loops(_self_noded(ring))


def _noded_loops(noded: np.ndarray) -> list[np.ndarray]:
    """The simple loops of a self-noded ring (_self_noded), by the
    vertex-revisit stack walk (overlay._revisit_loops) in ring order;
    loops of no area are dropped."""
    if not len(noded):
        return []
    verts = np.vstack([noded[:1, :2], noded[:, 2:]])
    loops, path = _revisit_loops(_cell_keys(verts, SNAP))
    if len(path) >= 3:
        loops.append(path + path[:1])
    rings = [verts[lp] for lp in loops if len(lp) >= 4]
    return [r for r in rings if abs(ring_signed_area(r)) > 1e-12]


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
        # each shell is noded and split into loops once, for the check
        # and the repair alike
        shells = [_self_noded(p.data[0]) if p.data else None for p in polys]
        loops = [None if s is None else _noded_loops(s) for s in shells]
        # valid: every shell is exactly ONE simple loop. A zero-area
        # (collapsed) shell yields 0 loops and is INVALID — it must
        # fall through to the repair path so keep_collapsed applies
        if only_if_invalid and all(lp is None or len(lp) == 1 for lp in loops):
            return geom
        repaired = [
            _make_valid_polygon(p, s, lp, keep_collapsed) for p, s, lp in zip(polys, shells, loops)
        ]
        if t == POLYGON:
            return repaired[0]
        parts = [q for r in repaired if r is not None for q in get_parts(r)]
        if all(p.type_id == POLYGON for p in parts) and len({p.dims for p in parts}) > 1:
            # a repaired part came back 2-D: drop Z/M from all parts
            parts = [Geometry(POLYGON, [r[:, :2] for r in p.data]) for p in parts]
        return _reassemble(parts, MULTIPOLYGON, POLYGON)
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


def _make_valid_polygon(
    poly: Geometry, noded: np.ndarray | None, loops: list | None, keep_collapsed: bool
) -> Geometry | None:
    """Repair one polygon whose shell ``noded`` is already self-noded and
    split into its simple ``loops`` (both None when the polygon is
    empty)."""
    if not poly.data:
        return poly
    if not loops:
        # the whole shell is zero-area: a collapse to line/point
        return _collapsed_geometry(np.asarray(poly.data[0])) if keep_collapsed else None
    holes: list[np.ndarray] = []
    if len(loops) == 1:
        # keep the original shell coords (repair is a no-op)
        shells = [np.asarray(poly.data[0], dtype=float)]
    else:
        shells, holes = _winding_region(noded, SNAP)
        if not shells:  # arrangement degenerated: fall back to loops
            shells, holes = loops, []
        shells.sort(key=lambda lp: -abs(ring_signed_area(lp)))
    for hole in poly.data[1:]:
        hole = np.asarray(hole, dtype=float)
        hloops = _ring_loops(hole)
        # keep original coords when the hole was already simple
        holes += [hole] if len(hloops) == 1 else hloops
    return _assemble_polygons(shells, holes, poly.dims)
