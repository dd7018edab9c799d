"""Seeded input generators and independent reference results.

Nothing here imports pygeoops_spark or Spark: inputs are built with
numpy and written with pyarrow, and every reference answer is computed
from those inputs with numpy, the standard library or DuckDB.  The
engine's results are compared against these, so a bug shared by the
engine and its checker cannot hide.
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WGS84_A = 6378137.0
BOUNDS = (0.0, 0.0, 1000.0, 1000.0)
GRID = 8  # assign_to_grid is 8 x 8 over BOUNDS


# -- little-endian ISO WKB, only the shapes the benchmark uses ------------
def wkb_polygon(rings: list[np.ndarray]) -> bytes:
    out = [struct.pack("<BII", 1, 3, len(rings))]
    for r in rings:
        out.append(struct.pack("<I", len(r)))
        out.append(np.ascontiguousarray(r, dtype="<f8").tobytes())
    return b"".join(out)


def wkb_linestring_m(coords: np.ndarray) -> bytes:
    return (
        struct.pack("<BII", 1, 2002, len(coords))
        + np.ascontiguousarray(coords, dtype="<f8").tobytes()
    )


_DIMS = {0: 2, 1: 3, 2: 3, 3: 4}  # ISO type // 1000 -> coordinate width


def wkb_polygons(buf: bytes) -> list[list[np.ndarray]]:
    """Every polygon in a (multi)polygon or collection, as lists of
    rings (2D coordinates).  Lines and points are skipped."""
    out: list[list[np.ndarray]] = []
    _read(memoryview(buf), 0, out)
    return out


def _read(buf: memoryview, off: int, out: list) -> int:
    order = "<" if buf[off] == 1 else ">"
    (code,) = struct.unpack_from(order + "I", buf, off + 1)
    off += 5
    kind, width = code % 1000, _DIMS[code // 1000]
    if kind == 1:
        return off + 8 * width
    if kind == 2:
        (n,) = struct.unpack_from(order + "I", buf, off)
        return off + 4 + 8 * width * n
    if kind == 3:
        (nr,) = struct.unpack_from(order + "I", buf, off)
        off += 4
        rings = []
        for _ in range(nr):
            (n,) = struct.unpack_from(order + "I", buf, off)
            off += 4
            a = np.frombuffer(buf, dtype=order + "f8", count=n * width, offset=off)
            rings.append(a.reshape(n, width)[:, :2])
            off += 8 * width * n
        out.append(rings)
        return off
    (n,) = struct.unpack_from(order + "I", buf, off)
    off += 4
    for _ in range(n):
        off = _read(buf, off, out)
    return off


def ring_area(r: np.ndarray) -> float:
    x, y = r[:, 0], r[:, 1]
    return 0.5 * abs(float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1])))


def polygons_area(buf: bytes) -> float:
    return sum(
        ring_area(rings[0]) - sum(ring_area(h) for h in rings[1:])
        for rings in wkb_polygons(buf)
    )


def _write_parts(table: pa.Table, path: str, parts: int) -> None:
    """Several files, so Spark scans them with several tasks (one
    row group per file would give one scan task for the whole table)."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def densified_rect(x0: float, y0: float, w: float, h: float, per_side: int) -> np.ndarray:
    corners = np.array([(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h), (x0, y0)])
    t = np.arange(per_side) / per_side
    sides = [a + (b - a) * t[:, None] for a, b in zip(corners[:-1], corners[1:])]
    return np.vstack(sides + [corners[:1]])


# -- pip_tile --------------------------------------------------------------
def pip_tile_inputs(seed: int, n_pages: int, n_vertices: int, path: str, parts: int) -> dict:
    """Zones: 64 star polygons, one per jittered cell of an 8 x 8
    lattice, each carrying its bounding box.  Pages: 80 % uniform over
    BOUNDS, 20 % in a 10 x 10 hotspot at the centre of zone 36.  Every
    star holds a radius-35 disc around its centre and no other zone's
    box reaches it, so the hotspot is one zone's candidates for every
    seed, and the op's work does not swing with where it lands."""
    rng = np.random.default_rng(seed)
    rings, wkbs, centres = [], [], []
    theta = 2.0 * np.pi * np.arange(n_vertices) / n_vertices
    for zid in range(64):
        cx = (zid % 8) * 125.0 + 62.5 + rng.uniform(-12.0, 12.0)
        cy = (zid // 8) * 125.0 + 62.5 + rng.uniform(-12.0, 12.0)
        rad = rng.uniform(35.0, 70.0, n_vertices)
        ring = np.column_stack((cx + rad * np.cos(theta), cy + rad * np.sin(theta)))
        ring = np.vstack((ring, ring[:1]))
        rings.append(ring)
        wkbs.append(wkb_polygon([ring]))
        centres.append((cx, cy))

    hx, hy = centres[36]
    hot = rng.random(n_pages) < 0.2
    x = np.where(hot, hx - 5.0 + 10.0 * rng.random(n_pages), 1000.0 * rng.random(n_pages))
    y = np.where(hot, hy - 5.0 + 10.0 * rng.random(n_pages), 1000.0 * rng.random(n_pages))
    pages = pa.table({"page_id": np.arange(n_pages, dtype=np.int64), "x": x, "y": y})
    _write_parts(pages, os.path.join(path, "pages"), parts)
    zones = pa.table(
        {
            "zone_id": np.arange(64, dtype=np.int64),
            "xmin": [float(r[:, 0].min()) for r in rings],
            "ymin": [float(r[:, 1].min()) for r in rings],
            "xmax": [float(r[:, 0].max()) for r in rings],
            "ymax": [float(r[:, 1].max()) for r in rings],
            "zone_wkb": pa.array(wkbs, pa.binary()),
        }
    )
    _write_parts(zones, os.path.join(path, "zones"), 1)
    return {"x": x, "y": y, "rings": rings, "rows": n_pages}


def points_in_ring(x: np.ndarray, y: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Crossing-number test: a point is inside when a ray to +x crosses
    an odd number of edges (half-open in y)."""
    inside = np.zeros(len(x), dtype=bool)
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    for ax, ay, bx, by in zip(x0, y0, x1, y1):
        spans = (ay > y) != (by > y)
        if not spans.any():
            continue
        xs = ax + (y[spans] - ay) * (bx - ax) / (by - ay)
        idx = np.nonzero(spans)[0]
        inside[idx[x[spans] < xs]] ^= True
    return inside


def tile_ids(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    xmin, ymin, xmax, ymax = BOUNDS
    c = np.clip(np.floor((x - xmin) / ((xmax - xmin) / GRID)), 0, GRID - 1).astype(np.int64)
    r = np.clip(np.floor((y - ymin) / ((ymax - ymin) / GRID)), 0, GRID - 1).astype(np.int64)
    return c * GRID + r


def pip_tile_reference(inp: dict) -> dict[tuple[int, int], int]:
    """{(zone_id, tile_id): pages} by crossing number after a bbox
    prefilter."""
    x, y = inp["x"], inp["y"]
    out: dict[tuple[int, int], int] = {}
    for zid, ring in enumerate(inp["rings"]):
        box = np.nonzero(
            (x >= ring[:, 0].min()) & (x <= ring[:, 0].max())
            & (y >= ring[:, 1].min()) & (y <= ring[:, 1].max())
        )[0]
        hit = box[points_in_ring(x[box], y[box], ring)]
        tiles, counts = np.unique(tile_ids(x[hit], y[hit]), return_counts=True)
        for t, n in zip(tiles.tolist(), counts.tolist()):
            out[(zid, t)] = n
    return out


def check_pip_tile(ref: dict, rows: list[tuple[int, int, int]]) -> str | None:
    got: dict[tuple[int, int], int] = {}
    for z, t, n in rows:
        if (z, t) in got:
            return f"duplicate group {(z, t)}"
        got[(z, t)] = n
    if got == ref:
        return None
    diff = sorted(set(got.items()) ^ set(ref.items()))[:3]
    return f"{len(set(got.items()) ^ set(ref.items()))} group counts differ, e.g. {diff}"


# -- knn_ring --------------------------------------------------------------
def knn_inputs(
    seed: int, n_probes: int, n_targets: int, path: str, parts: int, sample: int, k: int
) -> dict:
    """Planar probes/targets over BOUNDS and geographic probes/hubs over
    latitudes -80..80; references are brute force over the first
    `sample` probes of each."""
    rng = np.random.default_rng(seed)
    px, py = 1000.0 * rng.random(n_probes), 1000.0 * rng.random(n_probes)
    tx, ty = 1000.0 * rng.random(n_targets), 1000.0 * rng.random(n_targets)
    plon, plat = rng.uniform(-180.0, 180.0, n_probes), rng.uniform(-80.0, 80.0, n_probes)
    tlon, tlat = rng.uniform(-180.0, 180.0, n_targets), rng.uniform(-80.0, 80.0, n_targets)
    ids_p, ids_t = np.arange(n_probes, dtype=np.int64), np.arange(n_targets, dtype=np.int64)
    _write_parts(pa.table({"pid": ids_p, "x": px, "y": py}), os.path.join(path, "probes"), parts)
    _write_parts(pa.table({"tid": ids_t, "x": tx, "y": ty}), os.path.join(path, "targets"), 1)
    _write_parts(
        pa.table({"pid": ids_p, "lon": plon, "lat": plat}), os.path.join(path, "gprobes"), parts
    )
    _write_parts(pa.table({"tid": ids_t, "lon": tlon, "lat": tlat}), os.path.join(path, "hubs"), 1)
    return {
        "planar": (px[:sample], py[:sample], tx, ty),
        "geo": (plon[:sample], plat[:sample], tlon, tlat),
        "k": k,
        "rows": 2 * n_probes,
        "expected_rows": n_probes * k,
    }


def _topk(dist: np.ndarray, k: int) -> list[list[tuple[int, float]]]:
    out = []
    tids = np.arange(dist.shape[1])
    for row in dist:
        order = np.lexsort((tids, row))[:k]
        out.append([(int(t), float(row[t])) for t in order])
    return out


def knn_reference(inp: dict) -> dict:
    px, py, tx, ty = inp["planar"]
    dx, dy = px[:, None] - tx[None, :], py[:, None] - ty[None, :]
    planar = _topk(np.sqrt(dx * dx + dy * dy), inp["k"])
    plon, plat, tlon, tlat = inp["geo"]
    rp, rt = np.radians(plat)[:, None], np.radians(tlat)[None, :]
    cosang = np.sin(rp) * np.sin(rt) + np.cos(rp) * np.cos(rt) * np.cos(
        np.radians(plon[:, None] - tlon[None, :])
    )
    geo = _topk(WGS84_A * np.arccos(np.clip(cosang, -1.0, 1.0)), inp["k"])
    return {"planar": planar, "geo": geo, "expected_rows": inp["expected_rows"]}


def check_knn(ref: list, n_rows: int, expected_rows: int, sample_rows: list) -> str | None:
    """sample_rows: (probe id, target id, distance, rank) for the
    reference sample's probes."""
    if n_rows != expected_rows:
        return f"{n_rows} rows, expected {expected_rows}"
    got: dict[int, list] = {}
    for pid, tid, d, rank in sample_rows:
        got.setdefault(int(pid), []).append((int(rank), int(tid), float(d)))
    for pid, want in enumerate(ref):
        have = sorted(got.get(pid, []))
        if [r for r, _, _ in have] != list(range(1, len(want) + 1)):
            return f"probe {pid}: ranks {[r for r, _, _ in have]}"
        for (_, tid, d), (wt, wd) in zip(have, want):
            if tid != wt or not math.isclose(d, wd, rel_tol=1e-9, abs_tol=1e-9):
                return f"probe {pid}: got {[(t, d) for _, t, d in have]}, want {want}"
    return None


# -- geom_batch ------------------------------------------------------------
def geom_inputs(
    seed: int, n_simplify: int, n_buffer: int, n_centerline: int, n_difference: int,
    path: str, parts: int,
) -> dict:
    rng = np.random.default_rng(seed)

    def rects(n: int, wlo: float, whi: float, hlo: float, hhi: float):
        return (
            rng.uniform(0.0, 5000.0, n), rng.uniform(0.0, 5000.0, n),
            rng.uniform(wlo, whi, n), rng.uniform(hlo, hhi, n),
        )

    # simplify: rectangles densified to 101 coordinates (25 per side)
    sx, sy, sw, sh = rects(n_simplify, 60.0, 140.0, 40.0, 90.0)
    simp = [wkb_polygon([densified_rect(*r, 25)]) for r in zip(sx, sy, sw, sh)]
    # buffer_by_m: 7-vertex zig-zag lines with a radius per vertex (M)
    lines = []
    for i in range(n_buffer):
        x0, y0 = rng.uniform(0.0, 5000.0, 2)
        v = np.arange(7)
        m = rng.uniform(1.0, 6.0, 7)
        lines.append(wkb_linestring_m(np.column_stack((x0 + 20.0 * v, y0 + 10.0 * (v % 2), m))))
    # centerline: elongated rectangles
    cx, cy, cw, ch = rects(n_centerline, 80.0, 160.0, 8.0, 24.0)
    cent = [
        wkb_polygon([densified_rect(*r, 1)]) for r in zip(cx, cy, cw, ch)
    ]
    # difference: large rectangles densified to 801 coordinates, minus
    # 8 pairwise-disjoint boxes (one per cell of a 4 x 2 layout)
    dx, dy = rng.uniform(0.0, 500.0, n_difference), rng.uniform(0.0, 300.0, n_difference)
    dw, dh = rng.uniform(300.0, 400.0, n_difference), rng.uniform(200.0, 280.0, n_difference)
    diff = [wkb_polygon([densified_rect(*r, 200)]) for r in zip(dx, dy, dw, dh)]
    boxes = [
        (c * 200.0 + rng.uniform(0.0, 120.0), rr * 300.0 + rng.uniform(0.0, 220.0),
         rng.uniform(30.0, 70.0), rng.uniform(30.0, 70.0))
        for c in range(4) for rr in range(2)
    ]
    for name, col in (("simplify", simp), ("buffer", lines), ("centerline", cent), ("difference", diff)):
        t = pa.table({"gid": np.arange(len(col), dtype=np.int64), "wkb": pa.array(col, pa.binary())})
        _write_parts(t, os.path.join(path, name), parts if len(col) >= 4 * parts else 1)
    return {
        "simplify_area": (sw * sh).tolist(),
        "difference_area": [
            w * h - sum(_overlap((x, y, w, h), b) for b in boxes)
            for x, y, w, h in zip(dx, dy, dw, dh)
        ],
        "boxes": [wkb_polygon([densified_rect(*b, 1)]) for b in boxes],
        "rows": n_simplify + n_buffer + n_centerline + n_difference,
    }


def _overlap(a, b) -> float:
    ox = min(a[0] + a[2], b[0] + b[2]) - max(a[0], b[0])
    oy = min(a[1] + a[3], b[1] + b[3]) - max(a[1], b[1])
    return max(ox, 0.0) * max(oy, 0.0)


def check_areas(want: list[float], rows: list[tuple[int, bytes]], what: str) -> str | None:
    """rows: (id, wkb) — every id present once, with the closed-form area."""
    if sorted(i for i, _ in rows) != list(range(len(want))):
        return f"{what}: {len(rows)} rows for {len(want)} ids"
    for i, b in rows:
        if b is None:
            return f"{what}: id {i} is null"
        a = polygons_area(bytes(b))
        if not math.isclose(a, want[i], rel_tol=1e-7):
            return f"{what}: id {i} area {a}, expected {want[i]}"
    return None


# -- text_dedup ------------------------------------------------------------
def text_reference(docs_path: str, threshold: float) -> dict:
    """Exact 3-word-shingle Jaccard pairs (id_a < id_b, J >= threshold)
    and the component count of their graph, by an inverted-index
    self-join in DuckDB over the materialized documents."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        rows = con.execute(
            f"""
            WITH w AS (
              SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
              FROM read_parquet('{docs_path}/*.parquet')
            ),
            starts AS (
              SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 2, 1) + 1)) AS i FROM w
            ),
            sh AS (
              SELECT DISTINCT doc_id, array_to_string(ws[i : i + 2], ' ') AS s FROM starts
            ),
            n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            c AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
              CAST(common AS DOUBLE) / (na.n + nb.n - common) AS j
            FROM c JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
            WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= {float(threshold)}
            """
        ).fetchall()
    finally:
        con.close()
    pairs = {(int(a), int(b)): float(j) for a, b, j in rows}
    return {"pairs": pairs, "components": components(pairs)}


def components(pairs) -> dict[int, int]:
    """node -> smallest node id in its component (union-find)."""
    parent: dict[int, int] = {}

    def find(u: int) -> int:
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in parent}


def check_text(ref: dict, pairs: list, labels: list, lsh_pairs: list) -> str | None:
    got = {(int(a), int(b)): float(j) for a, b, j in pairs}
    if set(got) != set(ref["pairs"]):
        return f"jaccard_pairs: {len(got)} pairs, expected {len(ref['pairs'])}"
    for p, j in got.items():
        if abs(j - ref["pairs"][p]) > 1e-6:
            return f"jaccard_pairs: {p} has J={j}, expected {ref['pairs'][p]}"
    lab = {int(n): int(c) for n, c in labels}
    if lab != ref["components"]:
        return f"connected_components: {len(set(lab.values()))} components, expected {len(set(ref['components'].values()))}"
    for a, b, j in lsh_pairs:
        want = ref["pairs"].get((int(a), int(b)))
        if want is None or abs(float(j) - want) > 1e-6:
            return f"minhash_lsh_pairs: ({a}, {b}, {j}) is not an exact pair"
    return None
