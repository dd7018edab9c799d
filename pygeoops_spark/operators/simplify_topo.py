"""Topology-preserving cross-feature simplify (simplify_topo).

Reference behavior (/root/reference/pygeoops/_simplify_topo.py:21-162,
studied not copied): build a topology over ALL features, detect shared
arcs, simplify each arc ONCE, write back — so features sharing a
boundary stay edge-matched after simplification (tests pin that a
vertex of one feature lying on another's edge becomes a junction:
tests/test_simplify_topo.py:12-38).

Distributed pipeline (the only reference operator that is inherently
multi-row — a genuine shuffle DAG, not a scalar UDF):

 1. explode features into directed ring segments: one row
    kernel per feature returns its segments, exploded in SQL  (narrow)
 2. node: join other features' vertices into segments by
    cell id; split segments at interior on-segment points
    (a segment with no such point stays one sub-segment)     (shuffle 1)
 3. shared-segment signature = sorted fid set per canonical
    segment key, via ONE window exchange (r01 used a groupBy
    + join-back = two)                                       (shuffle 2)
 4. per-feature arc assembly + simplification + rebuild: the
    segments are collected per fid and one row kernel per
    feature rebuilds it; arcs are canonically oriented and
    the simplify kernel is DETERMINISTIC, so two features
    sharing an arc compute byte-identical simplified coords
    independently — cross-feature consistency without the
    r01 distinct-arc shuffle + join-back (three exchanges
    and the per-arc sha1 key deleted)                        (shuffle 3)

All shuffles key on compact values; geometry bytes move only into the
final per-feature aggregate. Both kernels go through the row-UDF
factory (pygeoops_spark/udf.py:row_udf).
"""

from __future__ import annotations

from itertools import groupby
from operator import itemgetter

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from pygeoops_spark.geom.general import get_parts_recursive
from pygeoops_spark.geom.simplify_geom import _simplify_ring_idx
from pygeoops_spark.geom.wkb import (
    GEOMETRYCOLLECTION,
    Geometry,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOLYGON,
    POLYGON,
    multi,
    wkb_loads,
)
from pygeoops_spark.join.cells import cell_id, cover_cells_bbox
from pygeoops_spark.operators.partitioning import repartition_for_cpu
from pygeoops_spark.session import checkpoint_and_release
from pygeoops_spark.udf import row_udf

_SNAP = 1e-9


def _k(v: float) -> int:
    return round(v / _SNAP)


_SEGMENTS = ArrayType(
    StructType(
        [StructField(c, IntegerType()) for c in ("part", "ring", "seq")]
        + [StructField(c, DoubleType()) for c in ("ax", "ay", "bx", "by")]
    )
)


def _segments(g: Geometry) -> list[tuple]:
    """Directed segments (part, ring, seq, ax, ay, bx, by) of every
    polygon ring (ring >= 0) and every linestring part (ring == -1,
    open chain) — the reference's topology covers mixed poly/line
    inputs (tests/test_simplify_topo.py:141-167), and a line sharing a
    polygon boundary must pick up the polygon's vertices as junctions.
    Other parts yield no segment."""
    out = []
    for part_no, part in enumerate(get_parts_recursive(g)):
        if part.type_id == POLYGON:
            chains = enumerate(part.data)
        elif part.type_id == LINESTRING:
            chains = [(-1, part.data)]
        else:
            continue
        for ring_no, r in chains:
            a = np.asarray(r, dtype=float)
            n = len(a) - 1
            if n < 1:
                continue
            out.extend(
                zip(
                    [part_no] * n, [ring_no] * n, range(n),
                    a[:-1, 0].tolist(), a[:-1, 1].tolist(), a[1:, 0].tolist(), a[1:, 1].tolist(),
                )
            )
    return out


def _chain(segs_l: np.ndarray, sigs: list, is_line: bool, simplify) -> np.ndarray:
    """One ring or line of a feature from its (seq, sub)-ordered
    segments: split into arcs at signature changes, simplify each arc
    on its canonical orientation, and join the arcs back."""
    n = len(segs_l)
    if is_line:
        order = list(range(n))  # open chain: no rotation
    else:
        # rotate so the ring starts at a signature change
        start = 0
        for i in range(n):
            if sigs[i] != sigs[i - 1]:
                start = i
                break
        else:
            # uniform signature (e.g. an island whose whole shell
            # coincides with another feature's hole): both owners must
            # build the IDENTICAL arc, so rotate to the
            # lexicographically smallest snapped vertex instead of this
            # ring's arbitrary first vertex (ADVICE r02)
            start = min(range(n), key=lambda i: (_k(segs_l[i][0]), _k(segs_l[i][1])))
        order = list(range(start, n)) + list(range(0, start))
    # group consecutive equal signatures into arcs
    arcs: list[list[int]] = []
    for idx in order:
        if arcs and sigs[idx] == sigs[arcs[-1][-1]]:
            arcs[-1].append(idx)
        else:
            arcs.append([idx])
    pts: list[list[float]] = []
    for arc in arcs:
        coords = [segs_l[arc[0]][:2].tolist()] + [segs_l[i][2:].tolist() for i in arc]
        carr = np.array(coords)
        fwd = [(_k(x), _k(y)) for x, y in carr]
        rev = fwd[::-1]
        flip = not (fwd <= rev)
        canon = carr[::-1] if flip else carr
        simplified = canon[simplify(canon)]
        if flip:
            simplified = simplified[::-1]
        chunk = simplified if not pts else simplified[1:]
        pts.extend(chunk.tolist())
    return np.array(pts)


def _feature(segs: list, simplify) -> Geometry | None:
    """Rebuild one feature from its collected noded segments (dicts of
    part, ring, seq, sub, ax, ay, bx, by, fids)."""
    segs = sorted(segs, key=itemgetter("part", "ring", "seq", "sub"))
    parts: list[Geometry] = []
    for _, in_part in groupby(segs, key=itemgetter("part")):
        rings_out = []
        lines_out = []
        for ring, chain in groupby(in_part, key=itemgetter("ring")):
            chain = list(chain)
            xy = np.array([[s["ax"], s["ay"], s["bx"], s["by"]] for s in chain], dtype=float)
            arr = _chain(xy, [tuple(s["fids"]) for s in chain], ring == -1, simplify)
            if ring == -1:
                if len(arr) >= 2:
                    lines_out.append(arr)
                continue
            if len(arr) and not np.array_equal(arr[0], arr[-1]):
                arr = np.vstack([arr, arr[:1]])
            if len(arr) >= 4:
                rings_out.append(arr)
        if rings_out:
            # ring 0 = shell, rest holes (within one polygon part)
            parts.append(Geometry(POLYGON, rings_out))
        for larr in lines_out:
            parts.append(Geometry(LINESTRING, larr))
    if not parts:
        return None
    if len(parts) == 1:
        return parts[0]
    if all(p.type_id == POLYGON for p in parts):
        return multi(MULTIPOLYGON, parts)
    if all(p.type_id == LINESTRING for p in parts):
        return multi(MULTILINESTRING, parts)
    return multi(GEOMETRYCOLLECTION, parts)


def simplify_topo(
    df: DataFrame,
    id_col: str,
    wkb_col: str,
    tolerance: float,
    algorithm: str = "rdp",
    lookahead: int = 8,
    cell_level: int = 6,
    keep_points_on_wkb: bytes | None = None,
) -> DataFrame:
    """Returns (id_col, simplified_wkb). Features are (multi)polygons and
    (multi)linestrings; a row with no ring or line part (null, points)
    comes back as NULL.

    ``keep_points_on_wkb``: optional broadcast WKB geometry whose points
    are never removed (reference simplify_topo's keep_points_on,
    _simplify_topo.py:23-47) — merged into each arc's keep set on the
    canonical orientation, so shared-arc consistency is preserved.

    Eager, like jaccard_pairs: the result is checkpointed before it is
    returned and the persisted segments are released."""
    kpo = wkb_loads(keep_points_on_wkb) if keep_points_on_wkb else None  # decoded once, on the driver

    def simplify(canon):
        return _simplify_ring_idx(canon, tolerance, algorithm, lookahead, kpo)

    # --- 1. segments; scanned four times below, so persisted ----------
    segs = (
        df.select(F.col(id_col).alias("fid"), F.explode(row_udf(_segments, _SEGMENTS)(wkb_col)).alias("s"))
        .select("fid", "s.*")
        .cache()
    )

    # --- 2. noding: other features' vertices that lie ON a segment ----
    # segment STARTS cover every ring vertex; open line chains also
    # need their final endpoint, so union both segment ends
    verts = (
        segs.select(F.col("fid").alias("vfid"), F.col("ax").alias("vx"), F.col("ay").alias("vy"))
        .union(
            segs.select(
                F.col("fid").alias("vfid"), F.col("bx").alias("vx"), F.col("by").alias("vy")
            )
        )
        .distinct()
        .withColumn("_cell", cell_id("vx", "vy", cell_level))
    )
    # segments replicated over the cells their bbox covers
    seg_cells = segs.withColumn(
        "_cell",
        F.explode(
            cover_cells_bbox(
                F.least("ax", "bx"), F.least("ay", "by"), F.greatest("ax", "bx"), F.greatest("ay", "by"), cell_level
            )
        ),
    )
    joined = seg_cells.join(verts, "_cell").where(F.col("vfid") != F.col("fid"))
    # strict interior, collinear within snap tolerance
    dxe, dye = F.col("bx") - F.col("ax"), F.col("by") - F.col("ay")
    dxv, dyv = F.col("vx") - F.col("ax"), F.col("vy") - F.col("ay")
    seg_len2 = dxe * dxe + dye * dye
    cross = dxe * dyv - dye * dxv
    t = (dxv * dxe + dyv * dye) / seg_len2
    split_map = (
        joined.where(seg_len2 > 0)
        .where((F.abs(cross) / F.sqrt(seg_len2)) < 1e-9)
        .where((t > 1e-12) & (t < 1 - 1e-12))
        .select("fid", "part", "ring", "seq", t.alias("t"), "vx", "vy")
        .distinct()
        .groupBy("fid", "part", "ring", "seq")
        .agg(F.sort_array(F.collect_list(F.struct("t", "vx", "vy"))).alias("pts"))
    )
    # a segment with no split point is one sub-segment (sub 0)
    noded = (
        segs.join(split_map, ["fid", "part", "ring", "seq"], "left")
        .withColumn(
            "chain",
            F.concat(
                F.array(F.struct(F.lit(-1.0).alias("t"), F.col("ax").alias("vx"), F.col("ay").alias("vy"))),
                F.coalesce("pts", F.array()),
                F.array(F.struct(F.lit(2.0).alias("t"), F.col("bx").alias("vx"), F.col("by").alias("vy"))),
            ),
        )
        .select(
            "fid",
            "part",
            "ring",
            "seq",
            F.posexplode(
                F.expr(
                    "transform(slice(chain, 1, size(chain)-1), (c, i) -> "
                    "struct(c.vx as ax, c.vy as ay, chain[i+1].vx as bx, chain[i+1].vy as by))"
                )
            ).alias("sub", "s"),
        )
        .select("fid", "part", "ring", "seq", "sub", "s.*")
    )

    # --- 3. shared-segment signature: ONE exchange (window over the
    # canonical segment key), not groupBy + join-back ------------------
    def snap_str(x: str, y: str):
        return F.concat_ws(
            ":",
            F.round(F.col(x) / F.lit(_SNAP)).cast("long"),
            F.round(F.col(y) / F.lit(_SNAP)).cast("long"),
        )

    a_s, b_s = snap_str("ax", "ay"), snap_str("bx", "by")
    noded = noded.withColumn(
        "skey", F.concat(F.least(a_s, b_s), F.lit("|"), F.greatest(a_s, b_s))
    )
    noded = noded.withColumn(
        "fids", F.sort_array(F.collect_set("fid").over(Window.partitionBy("skey")))
    )

    # --- 4. arcs + simplify + rebuild, one aggregate per fid ----------
    # Shared-boundary consistency WITHOUT a global distinct-arc pass:
    # every feature orients each arc canonically (lexicographic snapped
    # coords) and runs the deterministic simplify kernel on the
    # canonical orientation, so the two owners of a shared arc produce
    # byte-identical simplified coordinates independently. The segment
    # rows are tiny and the kernel is CPU-bound: pin the partition
    # count so AQE can't serialize it (see operators/partitioning.py).
    seg_struct = F.struct("part", "ring", "seq", "sub", "ax", "ay", "bx", "by", "fids")
    out = (
        repartition_for_cpu(noded, "fid")
        .groupBy("fid")
        .agg(F.collect_list(seg_struct).alias("segs"))
        .select(
            F.col("fid").alias(id_col),
            row_udf(lambda rows: _feature(rows, simplify), BinaryType())("segs").alias("simplified_wkb"),
        )
    )
    # preserve input rows: None / empty / unsupported-type features
    # produce no segments but must come back as NULL, not vanish
    # (reference: simplify_topo([None]) == [None])
    return checkpoint_and_release(df.select(id_col).join(out, id_col, "left"), [segs])
