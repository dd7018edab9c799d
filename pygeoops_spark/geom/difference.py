"""difference_all / difference_all_tiled kernels.

Reference semantics (/root/reference/pygeoops/_difference.py, studied
not copied):
  * difference_all (:115-186): optional intersects prefilter, union all
    subtrahends ONCE then a single difference (:167-169 notes this is
    much faster than looping), collection_extract to the requested
    primitive type.
  * difference_all_tiled (:14-112): subdivide the (complex) input into
    ~1000-coord tiles, per-tile difference with check_intersects=True,
    drop empties, union the surviving tiles. The reference's
    ThreadPoolExecutor(<=4) parallelism maps to Spark partition
    parallelism in the operator layer; the kernel here is the per-task
    unit of work.
"""

from __future__ import annotations

import numpy as np

from pygeoops_spark.geom.general import collect, collection_extract, subdivide
from pygeoops_spark.geom.kernels import get_primitivetype_id
from pygeoops_spark.geom.overlay import (
    dissolve_partition,
    line_difference,
    polygon_difference,
    polygon_union,
)
from pygeoops_spark.geom.wkb import (
    Geometry,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    bounds,
    empty,
    get_parts,
    multi,
)


def _bbox_overlaps(a: Geometry, b: Geometry) -> bool:
    ba, bb = bounds(a), bounds(b)
    if any(np.isnan(v) for v in ba) or any(np.isnan(v) for v in bb):
        return False
    return ba[0] <= bb[2] and bb[0] <= ba[2] and ba[1] <= bb[3] and bb[1] <= ba[3]


def _subtract_polyset(geom: Geometry, sub: Geometry | None) -> Geometry | None:
    """Subtract a (multi)polygon from any single geometry."""
    if sub is None:
        return geom
    t = geom.type_id
    if t == POINT:
        if geom.data is None:
            return geom
        # a point is a zero-length line: on the closed polygon (inside
        # or on its boundary) it is subtracted
        p = np.asarray(geom.data, dtype=float)[:2]
        return geom if line_difference(np.array([p, p]), sub) else None
    if t == LINESTRING:
        chains = line_difference(np.asarray(geom.data), sub)
        if not chains:
            return None
        if len(chains) == 1:
            return Geometry(LINESTRING, chains[0], geom.dims)
        return multi(MULTILINESTRING, [Geometry(LINESTRING, c, geom.dims) for c in chains])
    if t == POLYGON:
        return polygon_difference(geom, sub)
    # multi / collection: recurse over parts, re-collect
    parts = []
    for p in get_parts(geom):
        r = _subtract_polyset(p, sub)
        if r is not None and not r.is_empty:
            parts.append(r)
    if not parts:
        return None
    return collect(parts)


def difference_all(
    geometry: Geometry | None,
    geometries_to_subtract: list[Geometry] | Geometry | None,
    keep_geom_type: bool | int = False,
    check_intersects: bool = False,
) -> Geometry | None:
    """Subtract all subtrahends from a single geometry (union-first)."""
    if geometry is None:
        return None
    if geometry.is_empty:
        return geometry
    subs = (
        list(geometries_to_subtract)
        if isinstance(geometries_to_subtract, list)
        else ([geometries_to_subtract] if geometries_to_subtract is not None else [])
    )
    # only polygonal subtrahends change a difference result
    polys = [
        p
        for s in subs
        if s is not None
        for p in get_parts(s)
        if p.type_id == POLYGON and not p.is_empty
    ]
    if check_intersects:
        polys = [p for p in polys if _bbox_overlaps(geometry, p)]
    pid = _keep_geom_type_to_pid(keep_geom_type, geometry)
    if not polys:
        return collection_extract(geometry, pid)
    sub_union = polygon_union(polys) if len(polys) > 1 else polys[0]
    result = _subtract_polyset(geometry, sub_union)
    if result is None:
        return None
    return collection_extract(result, pid)


def _keep_geom_type_to_pid(keep_geom_type: bool | int, geometry: Geometry) -> int:
    """bool/int -> primitive type id (True => input's own type);
    reference /root/reference/pygeoops/_paramvalidation.py:7-37."""
    if keep_geom_type is True:
        return get_primitivetype_id(geometry)
    if keep_geom_type is False:
        return 0
    if keep_geom_type in (0, 1, 2, 3):
        return int(keep_geom_type)
    raise ValueError(f"Invalid value for keep_geom_type: {keep_geom_type}")


def difference_all_tiled(
    geometry: Geometry | None,
    geometries_to_subtract: list[Geometry] | Geometry | None,
    keep_geom_type: bool | int = False,
    subdivide_coords: int = 1000,
) -> Geometry | None:
    """Tile the input, difference per tile, union the survivors."""
    if geometry is None:
        return None
    if geometry.is_empty:
        return geometry
    pid = _keep_geom_type_to_pid(keep_geom_type, geometry)
    return merge_tiles(
        [
            difference_all(tile, geometries_to_subtract, keep_geom_type=pid, check_intersects=True)
            for tile in subdivide(geometry, subdivide_coords)
        ],
        geometry.type_id,
    )


def merge_tiles(pieces: list[Geometry | None], type_id: int) -> Geometry:
    """The merge step of the tiled difference, for the kernel above and
    the distributed operator alike: ``pieces`` are the per-tile results
    in tile order (None or empty where a tile was subtracted away). No
    surviving piece gives an empty geometry of the input's ``type_id``;
    polygonal pieces dissolve back together (tile pieces are
    interior-disjoint with axis-aligned shared cuts — the signed-
    coverage dissolve is O(E log E) and falls back to polygon_union on
    any contract violation); other types collect."""
    results = [r for r in pieces if r is not None and not r.is_empty]
    if not results:
        return empty(type_id)
    if len(results) == 1:
        return results[0]
    if all(p.type_id in (POLYGON, MULTIPOLYGON) for p in results):
        return dissolve_partition(results)
    return collect(results)


def keep_geom_type2primitivetype_id(
    keep_geom_type: bool | int, geometry: Geometry
) -> int:
    """Reference-parity public name for _keep_geom_type_to_pid
    (reference: _paramvalidation.py:7-37)."""
    return _keep_geom_type_to_pid(keep_geom_type, geometry)
