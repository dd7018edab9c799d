"""Grid / tiling math (pure numpy + python, no Spark).

Behavioral parity targets (studied, not copied):
* create_grid  — /root/reference/pygeoops/_grid.py:17-37
* create_grid2 — /root/reference/pygeoops/_grid.py:92-145 (squarish
  tiles; python banker's rounding + max-cap decrement loop pinned by
  the reference tests: 100 -> 96 tiles, 150 max 150 -> 148)
* create_grid3 — /root/reference/pygeoops/_grid.py:40-89 (column-major
  emission, ceil rows/cols, edge tiles may overshoot bounds — no clamp)
* split_tiles  — /root/reference/pygeoops/_grid.py:148-232 (split in 2,
  or 3 when round(remaining_ratio)==3, across the longer side until the
  per-tile ratio <= 1; attribute columns fan out to children)

Tiles here are axis-aligned bboxes (col, row, xmin, ymin, xmax, ymax);
the Spark layer turns them into WKB polygons when needed. All of this
is also expressible in pure Spark SQL — see operators/grid.py — these
kernels are the single-node reference used by tests.
"""

from __future__ import annotations

import math

import numpy as np

Bounds = tuple[float, float, float, float]


def grid_shape_squarish(
    total_bounds: Bounds, nb_squarish_tiles: int, nb_squarish_tiles_max: int | None = None
) -> tuple[int, int]:
    """(nb_columns, nb_rows) for a ~square tiling; reference create_grid2
    parameter derivation, including its validation errors."""
    if nb_squarish_tiles <= 0:
        raise ValueError("nb_squarish_tiles should be > 0")
    if nb_squarish_tiles_max is not None:
        if nb_squarish_tiles_max <= 0:
            raise ValueError("nb_squarish_tiles_max should be > 0")
        if nb_squarish_tiles_max < nb_squarish_tiles:
            raise ValueError("nb_squarish_tiles_max should be >= nb_squarich_tiles")
    xmin, ymin, xmax, ymax = total_bounds
    w, h = xmax - xmin, ymax - ymin
    aspect = w / h
    nb_rows = max(round(math.sqrt(nb_squarish_tiles / aspect)), 1)
    nb_rows = min(nb_rows, nb_squarish_tiles)
    nb_columns = max(round(nb_squarish_tiles / nb_rows), 1)
    if nb_squarish_tiles_max is not None:
        while nb_rows * nb_columns > nb_squarish_tiles_max:
            # shrink along the axis whose cells are longer
            if nb_columns > 1 and (nb_rows == 1 or w / nb_columns > h / nb_rows):
                nb_columns -= 1
            else:
                nb_rows -= 1
    return nb_columns, nb_rows


def create_grid_bboxes(total_bounds: Bounds, nb_columns: int, nb_rows: int) -> np.ndarray:
    """Tiles of an nb_columns x nb_rows grid, column-major order.

    Returns array (n, 6): col, row, xmin, ymin, xmax, ymax.
    """
    xmin, ymin, xmax, ymax = total_bounds
    width = (xmax - xmin) / nb_columns
    height = (ymax - ymin) / nb_rows
    return create_grid_bboxes_wh(total_bounds, width, height)


def create_grid_bboxes_wh(total_bounds: Bounds, width: float, height: float) -> np.ndarray:
    """Grid by tile size; ceil cols/rows, edge tiles overshoot bounds
    (reference create_grid3 semantics: no clamping)."""
    xmin, ymin, xmax, ymax = total_bounds
    cols = math.ceil((xmax - xmin) / width)
    rows = math.ceil((ymax - ymin) / height)
    cc, rr = np.meshgrid(np.arange(cols), np.arange(rows), indexing="ij")
    cc, rr = cc.ravel(), rr.ravel()  # column-major: row varies fastest
    x0 = xmin + cc * width
    y0 = ymin + rr * height
    out = np.column_stack([cc, rr, x0, y0, x0 + width, y0 + height])
    return out


def split_tile_bboxes(
    xmin: float, ymin: float, xmax: float, ymax: float, ratio: float
) -> list[tuple[float, float, float, float]]:
    """Children of one tile after repeated 2/3-way splits along the
    longer side, until the remaining ratio <= 1 (reference split_tiles
    inner loop)."""
    tiles = [(xmin, ymin, xmax, ymax)]
    todo = ratio
    while todo > 1:
        divisor = 3 if round(todo) == 3 else 2
        todo /= divisor
        nxt: list[tuple[float, float, float, float]] = []
        for x0, y0, x1, y1 in tiles:
            w, h = abs(x1 - x0), abs(y1 - y0)
            if divisor == 3:
                if w > h:
                    xs = [x0, x0 + w / 3, x0 + 2 * w / 3, x1]
                    nxt.extend((xs[i], y0, xs[i + 1], y1) for i in range(3))
                else:
                    ys = [y0, y0 + h / 3, y0 + 2 * h / 3, y1]
                    nxt.extend((x0, ys[i], x1, ys[i + 1]) for i in range(3))
            elif w > h:
                xm = x0 + w / 2
                nxt.extend([(x0, y0, xm, y1), (xm, y0, x1, y1)])
            else:
                ym = y0 + h / 2
                nxt.extend([(x0, y0, x1, ym), (x0, ym, x1, y1)])
        tiles = nxt
    return tiles


def split_tile_geometry(geom, ratio: float) -> list:
    """Children of one arbitrary (multi)polygon tile after the same
    repeated 2/3-way splits as split_tile_bboxes, but cutting the
    actual geometry (reference split_tiles on non-rectangular tiles,
    /root/reference/pygeoops/_grid.py:148-232: cut lines derived from
    the CURRENT piece's bounds each iteration, pieces split with
    shapely.ops.split semantics).

    A cut along x=c (or y=c) is realized as two/three rectangle clips
    (slabs spanning the piece's padded bbox) whose cut points lie
    exactly on the cut line, so neighbouring children share their seam
    bit for bit; a concave piece whose Sutherland-Hodgman clip pinches
    into a self-touching ring is separated into its proper parts by the
    nonzero-winding make_valid, matching split()'s
    one-geometry-per-connected-piece output.
    Children that collapse to zero area are dropped.  Output order:
    slab order (low to high along the cut axis), then descending area
    within a slab — deterministic.
    """
    from pygeoops_spark.geom.clip import clip_geom_rect
    from pygeoops_spark.geom.validity import make_valid
    from pygeoops_spark.geom.wkb import POLYGON, bounds, get_parts

    pieces = [geom]
    todo = ratio
    while todo > 1:
        divisor = 3 if round(todo) == 3 else 2
        todo /= divisor
        nxt = []
        for g in pieces:
            x0, y0, x1, y1 = bounds(g)
            w, h = abs(x1 - x0), abs(y1 - y0)
            # OUTER slab edges are padded past the piece's own bounds
            # (matching the reference's +-1-padded cut lines): only the
            # INTERIOR cut lines clip.  Re-clipping a piece along its
            # own boundary — a PREVIOUS cut line — creates overlapping
            # opposite edges that degrade the arrangement repair and
            # can drop a sliver face (found by the star-polygon
            # property sweep).
            if divisor == 3:
                if w > h:
                    cuts = [x0 - 1.0, x0 + w / 3, x0 + 2 * w / 3, x1 + 1.0]
                    slabs = [
                        (cuts[i], y0 - 1.0, cuts[i + 1], y1 + 1.0) for i in range(3)
                    ]
                else:
                    cuts = [y0 - 1.0, y0 + h / 3, y0 + 2 * h / 3, y1 + 1.0]
                    slabs = [
                        (x0 - 1.0, cuts[i], x1 + 1.0, cuts[i + 1]) for i in range(3)
                    ]
            elif w > h:
                xm = x0 + w / 2
                slabs = [
                    (x0 - 1.0, y0 - 1.0, xm, y1 + 1.0),
                    (xm, y0 - 1.0, x1 + 1.0, y1 + 1.0),
                ]
            else:
                ym = y0 + h / 2
                slabs = [
                    (x0 - 1.0, y0 - 1.0, x1 + 1.0, ym),
                    (x0 - 1.0, ym, x1 + 1.0, y1 + 1.0),
                ]
            for sx0, sy0, sx1, sy1 in slabs:
                c = clip_geom_rect(g, sx0, sy0, sx1, sy1)
                if c is None:
                    continue
                repaired = make_valid(c, keep_collapsed=False)
                if repaired is None:
                    continue
                nxt.extend(
                    p for p in get_parts(repaired) if p.type_id == POLYGON
                )
        pieces = nxt
    return pieces

