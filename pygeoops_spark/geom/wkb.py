"""WKB/WKT codec and the engine's geometry representation.

No GEOS/shapely in this environment, so this is the canonical geometry
carrier for the whole engine: Spark columns hold little-endian ISO WKB
bytes; kernels decode to numpy arrays, compute, and re-encode.

Representation
--------------
``Geometry`` is a small tagged object:

* type_id: WKB ids — 1 Point, 2 LineString, 3 Polygon, 4 MultiPoint,
  5 MultiLineString, 6 MultiPolygon, 7 GeometryCollection
  (Z +1000, M +2000, ZM +3000 handled via ``dims``).
* dims: "xy" | "xyz" | "xym" | "xyzm" (column layout of coord arrays)
* data:
    Point            -> (k,) float64 array, or None when EMPTY
    LineString       -> (n, k) float64 array
    Polygon          -> list of (n, k) rings (first = shell, closed)
    Multi*/Collection-> list of child Geometry

Semantics follow the reference library's observable behavior
(/root/reference/pygeoops/_types.py numbering; geometry model per OGC),
re-implemented from scratch.
"""

from __future__ import annotations

import re
import struct
from typing import Iterable, Sequence

import numpy as np

POINT, LINESTRING, POLYGON = 1, 2, 3
MULTIPOINT, MULTILINESTRING, MULTIPOLYGON, GEOMETRYCOLLECTION = 4, 5, 6, 7

_TYPE_NAMES = {
    POINT: "POINT",
    LINESTRING: "LINESTRING",
    POLYGON: "POLYGON",
    MULTIPOINT: "MULTIPOINT",
    MULTILINESTRING: "MULTILINESTRING",
    MULTIPOLYGON: "MULTIPOLYGON",
    GEOMETRYCOLLECTION: "GEOMETRYCOLLECTION",
}
_NAME_TYPES = {v: k for k, v in _TYPE_NAMES.items()}

_DIM_OFFSET = {"xy": 0, "xyz": 1000, "xym": 2000, "xyzm": 3000}
_OFFSET_DIM = {v: k for k, v in _DIM_OFFSET.items()}
_DIM_K = {"xy": 2, "xyz": 3, "xym": 3, "xyzm": 4}


class Geometry:
    __slots__ = ("type_id", "dims", "data")

    def __init__(self, type_id: int, data, dims: str = "xy"):
        self.type_id = type_id
        self.dims = dims
        self.data = data

    # -- basic queries ----------------------------------------------------
    @property
    def ndim(self) -> int:
        return _DIM_K[self.dims]

    @property
    def is_empty(self) -> bool:
        if self.type_id == POINT:
            return self.data is None
        if self.type_id == LINESTRING:
            return len(self.data) == 0
        if self.type_id == POLYGON:
            return len(self.data) == 0
        return len(self.data) == 0 or all(g.is_empty for g in self.data)

    @property
    def geom_type(self) -> str:
        return _TYPE_NAMES[self.type_id]

    def __repr__(self) -> str:  # pragma: no cover - debug only
        return f"<Geometry {wkt_dumps(self)[:80]}>"

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, Geometry)
            and self.type_id == other.type_id
            and self.dims == other.dims
            and wkb_dumps(self) == wkb_dumps(other)
        )

    def __hash__(self) -> int:
        return hash(wkb_dumps(self))


# -- constructors ---------------------------------------------------------
def point(x: float, y: float, *extra: float, dims: str = "xy") -> Geometry:
    if extra and dims == "xy":
        dims = "xyz" if len(extra) == 1 else "xyzm"
    return Geometry(POINT, np.array((x, y, *extra), dtype=np.float64), dims)


def empty(type_id: int = GEOMETRYCOLLECTION, dims: str = "xy") -> Geometry:
    if type_id == POINT:
        return Geometry(POINT, None, dims)
    if type_id in (LINESTRING, POLYGON):
        return Geometry(type_id, [] if type_id == POLYGON else np.empty((0, _DIM_K[dims])), dims)
    return Geometry(type_id, [], dims)


def linestring(coords: Sequence, dims: str = "xy") -> Geometry:
    arr = np.asarray(coords, dtype=np.float64)
    if arr.ndim != 2:
        arr = arr.reshape(0, _DIM_K[dims])
    if dims == "xy" and arr.shape[1] > 2:
        dims = {3: "xyz", 4: "xyzm"}[arr.shape[1]]
    return Geometry(LINESTRING, arr, dims)


def _close_ring(arr: np.ndarray) -> np.ndarray:
    if len(arr) and not np.array_equal(arr[0], arr[-1]):
        arr = np.vstack([arr, arr[:1]])
    return arr


def polygon(shell: Sequence, holes: Iterable[Sequence] = (), dims: str = "xy") -> Geometry:
    shell_arr = np.asarray(shell, dtype=np.float64)
    if shell_arr.size == 0:
        return empty(POLYGON, dims)
    rings = [_close_ring(shell_arr)]
    for h in holes:
        rings.append(_close_ring(np.asarray(h, dtype=np.float64)))
    if dims == "xy" and rings[0].shape[1] > 2:
        dims = {3: "xyz", 4: "xyzm"}[rings[0].shape[1]]
    return Geometry(POLYGON, rings, dims)


def multi(type_id: int, parts: Iterable[Geometry], dims: str = "xy") -> Geometry:
    parts = list(parts)
    if parts:
        dims = parts[0].dims
    return Geometry(type_id, parts, dims)


def collection(parts: Iterable[Geometry], dims: str = "xy") -> Geometry:
    return multi(GEOMETRYCOLLECTION, list(parts), dims)


# -- coordinate access ----------------------------------------------------
def get_coordinates(geom: Geometry) -> np.ndarray:
    """All coordinates of geom as an (n, k) array (like the reference's
    coordinate-level columnar access; /root/reference uses
    shapely.get_coordinates for the same purpose)."""
    k = geom.ndim
    if geom.type_id == POINT:
        if geom.data is None:
            return np.empty((0, k))
        return geom.data.reshape(1, -1)
    if geom.type_id == LINESTRING:
        return np.asarray(geom.data).reshape(-1, k)
    if geom.type_id == POLYGON:
        if not geom.data:
            return np.empty((0, k))
        return np.vstack(geom.data)
    if not geom.data:
        return np.empty((0, k))
    arrs = [get_coordinates(g) for g in geom.data]
    arrs = [a for a in arrs if len(a)]
    return np.vstack(arrs) if arrs else np.empty((0, k))


def require_finite(geom: Geometry, kernel: str) -> np.ndarray:
    """The coordinates of ``geom`` (``get_coordinates``), after checking
    that every vertex of its non-empty points, lines and rings has a
    finite x and y; a ValueError names the first that does not.  An
    empty geometry holds no vertex (WKB's NaN-coordinate empty point
    decodes to one), so empties pass."""
    coords = get_coordinates(geom)
    bad = ~np.isfinite(coords[:, :2]).all(axis=1)
    if bad.any():
        i = int(np.argmax(bad))
        raise ValueError(f"{kernel}: vertex {i} is not finite: {tuple(coords[i].tolist())}")
    return coords


def bounds(geom: Geometry) -> tuple[float, float, float, float]:
    c = get_coordinates(geom)
    if len(c) == 0:
        return (np.nan, np.nan, np.nan, np.nan)
    return (c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max())


def get_parts(geom: Geometry) -> list[Geometry]:
    if geom.type_id in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON, GEOMETRYCOLLECTION):
        return list(geom.data)
    return [geom]


# -- WKB ------------------------------------------------------------------
def _wkb_code(geom: Geometry) -> int:
    return geom.type_id + _DIM_OFFSET[geom.dims]


def _pack_coords(arr: np.ndarray, geom: Geometry) -> bytes:
    """Coordinate rows as little-endian doubles. A row narrower or
    wider than ``geom.dims`` would write bytes no reader can decode
    (the type code promises ``len(dims)`` doubles per vertex), so it is
    refused."""
    if arr.size and (arr.ndim != 2 or arr.shape[1] != geom.ndim):
        raise ValueError(
            f"{arr.shape[-1]}-wide coordinates cannot be written as {geom.dims!r}"
        )
    return np.ascontiguousarray(arr, dtype="<f8").tobytes()


def wkb_dumps(geom: Geometry) -> bytes:
    out = bytearray()
    _wkb_write(geom, out)
    return bytes(out)


def _wkb_write(geom: Geometry, out: bytearray) -> None:
    out += b"\x01"
    out += struct.pack("<I", _wkb_code(geom))
    t = geom.type_id
    if t == POINT:
        if geom.data is None:
            out += struct.pack("<%dd" % geom.ndim, *([float("nan")] * geom.ndim))
        else:
            out += _pack_coords(geom.data.reshape(1, -1), geom)
    elif t == LINESTRING:
        arr = np.asarray(geom.data)
        out += struct.pack("<I", len(arr))
        out += _pack_coords(arr, geom)
    elif t == POLYGON:
        out += struct.pack("<I", len(geom.data))
        for ring in geom.data:
            out += struct.pack("<I", len(ring))
            out += _pack_coords(np.asarray(ring), geom)
    else:
        out += struct.pack("<I", len(geom.data))
        for part in geom.data:
            _wkb_write(part, out)


def wkb_loads(buf: bytes) -> Geometry:
    geom, _ = _wkb_read(memoryview(buf), 0)
    return geom


def _wkb_read(mv: memoryview, off: int) -> tuple[Geometry, int]:
    byte_order = mv[off]
    off += 1
    fmt = "<" if byte_order == 1 else ">"
    (code,) = struct.unpack_from(fmt + "I", mv, off)
    off += 4
    has_srid = bool(code & 0x20000000)
    code &= 0x1FFFFFFF
    if has_srid:
        off += 4
    # ISO offsets, plus EWKB flag bits
    if code & 0x80000000:
        code = (code & 0xFF) + 1000  # pragma: no cover
    base = code % 1000
    dims = _OFFSET_DIM.get(code - base, "xy")
    k = _DIM_K[dims]
    if base == POINT:
        vals = struct.unpack_from(fmt + "%dd" % k, mv, off)
        off += 8 * k
        if all(v != v for v in vals):  # all-NaN => EMPTY point
            return Geometry(POINT, None, dims), off
        return Geometry(POINT, np.array(vals), dims), off
    if base == LINESTRING:
        (n,) = struct.unpack_from(fmt + "I", mv, off)
        off += 4
        arr = np.frombuffer(mv, dtype=fmt + "f8", count=n * k, offset=off).reshape(n, k).copy()
        off += 8 * n * k
        return Geometry(LINESTRING, arr, dims), off
    if base == POLYGON:
        (nr,) = struct.unpack_from(fmt + "I", mv, off)
        off += 4
        rings = []
        for _ in range(nr):
            (n,) = struct.unpack_from(fmt + "I", mv, off)
            off += 4
            arr = np.frombuffer(mv, dtype=fmt + "f8", count=n * k, offset=off).reshape(n, k).copy()
            off += 8 * n * k
            rings.append(arr)
        return Geometry(POLYGON, rings, dims), off
    (np_,) = struct.unpack_from(fmt + "I", mv, off)
    off += 4
    parts = []
    for _ in range(np_):
        g, off = _wkb_read(mv, off)
        parts.append(g)
    return Geometry(base, parts, dims), off


# -- WKT ------------------------------------------------------------------
def _fmt_num(v: float) -> str:
    if v == int(v) and abs(v) < 1e16:
        return str(int(v))
    return repr(float(v))


def _fmt_coords(arr: np.ndarray) -> str:
    return ", ".join(" ".join(_fmt_num(v) for v in row) for row in np.atleast_2d(arr))


def wkt_dumps(geom: Geometry) -> str:
    name = geom.geom_type
    suffix = {"xy": "", "xyz": " Z", "xym": " M", "xyzm": " ZM"}[geom.dims]
    t = geom.type_id
    if geom.is_empty:
        return f"{name}{suffix} EMPTY"
    if t == POINT:
        return f"{name}{suffix} ({_fmt_coords(geom.data)})"
    if t == LINESTRING:
        return f"{name}{suffix} ({_fmt_coords(geom.data)})"
    if t == POLYGON:
        rings = ", ".join(f"({_fmt_coords(r)})" for r in geom.data)
        return f"{name}{suffix} ({rings})"
    if t == GEOMETRYCOLLECTION:
        inner = ", ".join(wkt_dumps(g) for g in geom.data)
        return f"{name}{suffix} ({inner})"
    # MULTI*: strip child type names
    parts = []
    for g in geom.data:
        child = wkt_dumps(g)
        body = child[child.index("(") :] if "(" in child else "EMPTY"
        parts.append(body)
    return f"{name}{suffix} ({', '.join(parts)})"


_WKT_HEAD = re.compile(
    r"\s*([A-Za-z]+)\s*(Z|M|ZM)?\s*(EMPTY|\()", re.IGNORECASE
)


def wkt_loads(text: str) -> Geometry:
    geom, _ = _wkt_parse(text, 0)
    return geom


def _wkt_parse(text: str, pos: int) -> tuple[Geometry, int]:
    m = _WKT_HEAD.match(text, pos)
    if not m:
        raise ValueError(f"invalid WKT at {pos}: {text[pos:pos+40]!r}")
    name = m.group(1).upper()
    dims = {"Z": "xyz", "M": "xym", "ZM": "xyzm", None: "xy"}[
        m.group(2).upper() if m.group(2) else None
    ]
    type_id = _NAME_TYPES[name]
    if m.group(3).upper() == "EMPTY":
        return empty(type_id, dims), m.end()
    pos = m.end()  # just after '('
    k = _DIM_K[dims]

    def parse_coords(p):
        # parse "x y, x y, ..." until ')'
        end = _match_paren(text, p - 1)
        body = text[p : end]
        toks = body.replace(",", " ").split()
        vals = np.array(toks, dtype=np.float64) if toks else np.empty(0)
        if dims == "xy" and len(vals) % 2 == 0:
            kk = 2
        else:
            kk = k
        # tolerate WKT that has Z coords without a Z tag
        if len(vals) % kk != 0:
            for cand in (2, 3, 4):
                if len(vals) % cand == 0:
                    kk = cand
                    break
        return vals.reshape(-1, kk), end + 1

    if type_id == POINT:
        arr, pos = parse_coords(pos)
        d = dims if arr.shape[1] == k else {2: "xy", 3: "xyz", 4: "xyzm"}[arr.shape[1]]
        return Geometry(POINT, arr[0], d), pos
    if type_id == LINESTRING:
        arr, pos = parse_coords(pos)
        d = dims if arr.shape[1] == k else {2: "xy", 3: "xyz", 4: "xyzm"}[arr.shape[1]]
        return Geometry(LINESTRING, arr, d), pos
    if type_id == POLYGON:
        rings = []
        while True:
            p = _skip_ws(text, pos)
            if text[p] == ")":
                pos = p + 1
                break
            if text[p] == ",":
                pos = p + 1
                continue
            assert text[p] == "(", text[p:]
            arr, pos = parse_coords(p + 1)
            rings.append(arr)
        d = dims if not rings or rings[0].shape[1] == k else {2: "xy", 3: "xyz", 4: "xyzm"}[rings[0].shape[1]]
        return Geometry(POLYGON, rings, d), pos
    # MULTI* / collection
    parts: list[Geometry] = []
    child_name = {MULTIPOINT: "POINT", MULTILINESTRING: "LINESTRING", MULTIPOLYGON: "POLYGON"}.get(type_id)
    while True:
        p = _skip_ws(text, pos)
        if text[p] == ")":
            pos = p + 1
            break
        if text[p] == ",":
            pos = p + 1
            continue
        if type_id == GEOMETRYCOLLECTION:
            g, pos = _wkt_parse(text, p)
            parts.append(g)
        elif text[p] == "(":
            # bare coordinate body, e.g. MULTIPOINT ((1 2), (3 4)) or
            # MULTIPOLYGON (((...)), ((...)))
            g, pos = _wkt_parse(f"{child_name} ", 0) if False else _wkt_parse_body(child_name, dims, text, p)
            parts.append(g)
        elif type_id == MULTIPOINT:
            # MULTIPOINT (1 2, 3 4) legacy form: bare coordinate tuples
            end = p
            while end < len(text) and text[end] not in ",)":
                end += 1
            vals = np.array(text[p:end].split(), dtype=np.float64)
            d = dims if len(vals) == k else {2: "xy", 3: "xyz", 4: "xyzm"}[len(vals)]
            parts.append(Geometry(POINT, vals, d))
            pos = end
        else:
            raise ValueError(f"unsupported WKT form at {p}: {text[p:p+30]!r}")
    return Geometry(type_id, parts, parts[0].dims if parts else dims), pos


def _wkt_parse_body(child_name: str, dims: str, text: str, pos: int) -> tuple[Geometry, int]:
    """Parse a parenthesized body as a child geometry of child_name."""
    tag = {"xy": "", "xyz": " Z", "xym": " M", "xyzm": " ZM"}[dims]
    sub = f"{child_name}{tag} "
    g, end = _wkt_parse(sub + text[pos:], 0)
    return g, pos + (end - len(sub))


def _skip_ws(text: str, pos: int) -> int:
    while pos < len(text) and text[pos].isspace():
        pos += 1
    return pos


def _match_paren(text: str, open_pos: int) -> int:
    """Index of the ')' matching text[open_pos]=='('."""
    depth = 0
    for i in range(open_pos, len(text)):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    raise ValueError("unbalanced parens in WKT")
