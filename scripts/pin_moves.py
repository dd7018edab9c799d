"""Which overlay pin cases moved between two source trees, and how.

Runs the corpus of ``tests/test_overlay_pins.py`` (this checkout's
corpus, on both trees) through each op in one fresh process per tree,
then compares the result WKB case by case. For every case whose bytes
moved it prints:

* the exact area of each tree's result (``geom/exact.py:exact_area``;
  for the line ops, the float length of the result chains);
* each tree's error against the exact oracle, where ``geom/exact.py``
  has one for the op (none for make_valid; unions of more than six
  operands are past ``exact_union_area``'s cap);
* ``hole_nesting_faults`` of each tree's result;
* the coarse retries the case took on each tree (a spy on
  ``overlay._snap_geometry``, which only the coarse-grid retry of older
  trees calls; a tree without it reads 0);
* the clustered passes the case took on each tree (a spy on
  ``overlay._winding_region`` that counts its calls with ``dirty``
  set).

Then one summary row per op: cases, bytes moved, measure moved (closer
to / further from the oracle), the worst error of each tree over all
its cases, the summed error, the retry and clustered-pass counts, and
the hole-nesting faults of the moved cases on this checkout.

    python scripts/pin_moves.py <parent_tree> [op ...]
    python scripts/pin_moves.py <parent_tree> polygon_difference --quiet

A child (one JSON line: per op, the WKB hex, the retries and the
clustered passes per case):

    python scripts/pin_moves.py --child <tree> [op ...]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPS = (
    "polygon_difference",
    "polygon_intersection",
    "polygon_union",
    "dissolve_partition",
    "make_valid",
    "make_valid_shapes",
    "line_difference",
    "line_intersection",
    "difference_all",
    "difference_all_tiled",
)


def _pins():
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    import test_overlay_pins

    return test_overlay_pins


def _child(tree: str, ops: list[str]) -> None:
    sys.path.insert(0, tree)
    from pygeoops_spark.geom import overlay

    pins = _pins()
    assert overlay.__file__.startswith(os.path.abspath(tree)), overlay.__file__
    retries, clustered = [], []
    if hasattr(overlay, "_snap_geometry"):
        snap = overlay._snap_geometry
        overlay._snap_geometry = lambda g, grid: retries.append(grid) or snap(g, grid)
    winding = overlay._winding_region

    def spy(edges, snap, dirty=None, operand=None, keep=None):
        clustered.append(dirty is not None)
        return winding(edges, snap, dirty, operand, keep)

    overlay._winding_region = spy
    out = {}
    for op in ops:
        wkb, count, passes = [], [], []
        for fn, args in pins._cases(op):
            before, calls = len(retries), len(clustered)
            wkb.append(pins._enc(fn(*args)).hex())
            # one retry snaps every operand: count ladders, not operands
            count.append(int(len(retries) > before))
            passes.append(sum(clustered[calls:]))
        out[op] = {"wkb": wkb, "retries": count, "clustered": passes}
    print(json.dumps(out))


def _run_tree(tree: str, ops: list[str]) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", os.path.abspath(tree), *ops],
        capture_output=True,
        text=True,
        check=True,
        cwd=ROOT,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _decode(enc_hex: str):
    """The result a pin case recorded (``test_overlay_pins._enc``):
    None, line chains as a list of arrays, or one geometry."""
    import numpy as np

    from pygeoops_spark.geom.wkb import LINESTRING, _wkb_read

    raw = memoryview(bytes.fromhex(enc_hex)[:-1])  # the trailing ';'
    if raw == b"None":
        return None
    geoms, off = [], 0
    while off < len(raw):
        g, off = _wkb_read(raw, off)
        geoms.append(g)
    if all(g.type_id == LINESTRING for g in geoms):
        return [np.asarray(g.data) for g in geoms]
    return geoms[0]


def _measure(result) -> float:
    """Exact area of a polygonal result; float length of line chains."""
    import numpy as np

    from pygeoops_spark.geom.exact import exact_area

    if result is None:
        return 0.0
    if isinstance(result, list):
        return float(sum(np.hypot(*np.diff(np.asarray(c)[:, :2], axis=0).T).sum() for c in result))
    return float(exact_area(result))


def _oracle(op: str, args: tuple) -> float | None:
    from pygeoops_spark.geom import exact

    try:
        if op == "polygon_difference":
            return float(exact.exact_difference_area(*args))
        if op == "polygon_intersection":
            return float(exact.exact_intersection_area(*args))
        if op in ("polygon_union", "dissolve_partition"):
            return float(exact.exact_union_area(args[0]))
        if op in ("difference_all", "difference_all_tiled"):
            g, subs = args
            return float(exact.exact_union_area([g, *subs]) - exact.exact_union_area(subs))
        if op == "line_difference":
            return exact.exact_line_difference_length(*args)
        if op == "line_intersection":
            return exact.exact_line_clip_length(*args)
    except ValueError:  # past exact_union_area's operand cap
        return None
    return None


def _faults(result) -> int:
    from pygeoops_spark.geom.exact import hole_nesting_faults

    if result is None or isinstance(result, list):
        return 0
    return len(hole_nesting_faults(result))


def _fmt(x: float | None, digits: int = 3) -> str:
    return "-" if x is None else f"{x:.{digits}g}"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("tree", help="the source tree to compare this checkout against")
    ap.add_argument("ops", nargs="*", default=list(OPS))
    ap.add_argument("--quiet", action="store_true", help="print the summary rows only")
    a = ap.parse_args()
    if a.child:
        _child(a.tree, a.ops)
        return
    sys.path.insert(0, ROOT)
    parent, change = _run_tree(a.tree, a.ops), _run_tree(ROOT, a.ops)
    pins = _pins()
    rows = []
    for op in a.ops:
        cases = pins._cases(op)
        p, c = parent[op], change[op]
        moved = {k for k, (x, y) in enumerate(zip(p["wkb"], c["wkb"])) if x != y}
        err_p, err_c = [], []
        area_moved = closer = further = faults = 0
        worst_further = 0.0
        for k, (_fn, args) in enumerate(cases):
            truth = _oracle(op, args)
            res_p, res_c = _decode(p["wkb"][k]), _decode(c["wkb"][k])
            m_p = _measure(res_p)
            m_c = _measure(res_c) if k in moved else m_p
            e_p = None if truth is None else abs(m_p - truth)
            e_c = None if truth is None else abs(m_c - truth)
            if truth is not None:
                err_p.append(e_p)
                err_c.append(e_c)
            if k not in moved:
                continue
            f_p, f_c = _faults(res_p), _faults(res_c)
            faults += f_c
            verdict = ""
            if m_p != m_c:
                area_moved += 1
                if truth is not None and e_c != e_p:
                    verdict = "closer" if e_c < e_p else "further"
                    closer += e_c < e_p
                    further += e_c > e_p
                    worst_further = max(worst_further, e_c if e_c > e_p else 0.0)
            if not a.quiet:
                print(
                    f"{op}[{k}]  measure {m_p!r} -> {m_c!r}  err {_fmt(e_p, 4)} -> {_fmt(e_c, 4)} {verdict}"
                    f"  faults {f_p} -> {f_c}  retries {p['retries'][k]} -> {c['retries'][k]}"
                    f"  clustered {p['clustered'][k]} -> {c['clustered'][k]}"
                )
        rows.append(
            f"{op} | {len(cases)} | {len(moved)} | {area_moved} ({closer} / {further})"
            f" | {_fmt(worst_further) if further else '-'}"
            f" | {_fmt(max(err_p, default=None))} -> {_fmt(max(err_c, default=None))}"
            f" | {_fmt(sum(err_p) if err_p else None)} -> {_fmt(sum(err_c) if err_c else None)}"
            f" | {sum(p['retries'])} -> {sum(c['retries'])}"
            f" | {sum(p['clustered'])} -> {sum(c['clustered'])} | {faults}"
        )
    print(
        "op | cases | bytes moved | measure moved (closer / further) | worst further error"
        " | worst error | summed error | retries | clustered passes | faults in moved"
    )
    print("\n".join(rows))


if __name__ == "__main__":
    main()
