"""Alternating-process A/B of the overlay core over two source trees.

Five probes, each timed as the min of N passes in a fresh process that
imports ``pygeoops_spark`` from one tree, with a sha256 over the WKB of
every output so the two trees can be checked for identical bytes:

* ``binary``: polygon_difference + polygon_intersection over 200 pairs
  (100 pairs of 48-vertex stars half over a densified rectangle, 100
  pairs of rectangles sharing part of an edge); ms per op.
* ``buffer_by_m``: the first 400 of bench.py's 7-vertex M-lines
  (``_run_buffer_20k``); ms per geometry.
* ``union_stars``: polygon_union over 20 sets of 8 overlapping 48-vertex
  stars; ms per union.
* ``union_grid``: polygon_union over 5 grids of 4 x 4 squares sharing
  edges; ms per union.
* ``centerline``: centerline over perfbench's 40 geom-micro rectangles
  (``perfbench/run.py:_geom_micro``); us per geometry.

The A/B runs one child process per tree and pair, pinned to one CPU
with ``taskset``, the parent first on even pairs and second on odd ones:

    python plans/r15/overlay_ab.py <parent_tree> <change_tree> [pairs] [--reps N] [--cpu C]

A child can be run alone (one JSON line on stdout):

    python plans/r15/overlay_ab.py --child <tree> [reps]
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.abspath(__file__)
# probe -> (unit, scale from seconds per item, passes over the items per rep)
PROBES = {
    "binary": ("ms/op", 1e3, 1),
    "buffer_by_m": ("ms/geom", 1e3, 1),
    "union_stars": ("ms/union", 1e3, 5),
    "union_grid": ("ms/union", 1e3, 5),
    "centerline": ("us/geom", 1e6, 5),
}


def _star(cx: float, cy: float, r: float, n: int = 48) -> np.ndarray:
    theta = 2.0 * np.pi * np.arange(n) / n
    rad = r * (0.6 + 0.4 * (np.arange(n) % 3) / 2.0)
    s = np.column_stack((cx + rad * np.cos(theta), cy + rad * np.sin(theta)))
    return np.vstack([s, s[:1]])


def _rect(x0: float, y0: float, w: float, h: float, per_side: int) -> np.ndarray:
    corners = np.array([(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h), (x0, y0)])
    t = np.arange(per_side) / per_side
    sides = [a + (b - a) * t[:, None] for a, b in zip(corners[:-1], corners[1:])]
    return np.vstack(sides + [corners[:1]])


def _probes():
    from pygeoops_spark.geom import polygon, wkt_loads
    from pygeoops_spark.geom.buffer_by_m import buffer_by_m
    from pygeoops_spark.geom.centerline import centerline
    from pygeoops_spark.geom.overlay import (
        polygon_difference,
        polygon_intersection,
        polygon_union,
    )

    pairs = [
        (polygon(_rect(150.0 * i, 0.0, 100.0 + i, 50.0 + i, 25)), polygon(_star(150.0 * i + 100.0, 25.0, 30.0)))
        for i in range(100)
    ] + [
        (polygon(_rect(50.0 * i, 0.0, 20.0, 10.0, 4)), polygon(_rect(50.0 * i + 20.0, 3.0 + i % 5, 15.0, 10.0, 3)))
        for i in range(100)
    ]
    mlines = []
    for i in range(400):
        x0, y0 = (i % 512) * 300.0, (i // 512 % 512) * 300.0
        pts = ", ".join(f"{x0 + v * 20} {y0 + (v % 2) * 10} {1.0 + (i + v) % 5}" for v in range(7))
        mlines.append(wkt_loads(f"LINESTRING M ({pts})"))
    stars = [[polygon(_star(200.0 * k + 25.0 * j, 10.0 * (j % 2), 20.0)) for j in range(8)] for k in range(20)]
    grids = [
        [polygon(_rect(100.0 * k + 10.0 * c, 10.0 * r, 10.0, 10.0, 1)) for r in range(4) for c in range(4)]
        for k in range(5)
    ]
    rects = [polygon(_rect(150.0 * i, 0.0, 100.0 + i, 10.0 + i % 10, 1)) for i in range(40)]
    return {
        "binary": (lambda ab: (polygon_difference(*ab), polygon_intersection(*ab)), pairs, 2),
        "buffer_by_m": (buffer_by_m, mlines, 1),
        "union_stars": (polygon_union, stars, 1),
        "union_grid": (polygon_union, grids, 1),
        "centerline": (centerline, rects, 1),
    }


def _wkb(out) -> bytes:
    from pygeoops_spark.geom import wkb_dumps

    if out is None:
        return b"-"
    if isinstance(out, tuple):
        return b"|".join(_wkb(o) for o in out)
    return wkb_dumps(out)


def child(tree: str, reps: int) -> dict:
    sys.path.insert(0, tree)
    res = {}
    for name, (fn, items, ops) in _probes().items():
        unit, scale, passes = PROBES[name]
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            for _ in range(passes):
                outs = [fn(it) for it in items]
            best = min(best, (time.perf_counter() - t0) / (passes * len(items) * ops))
        digest = hashlib.sha256(b"".join(_wkb(o) + b";" for o in outs)).hexdigest()
        res[name] = {"min": best * scale, "sha256": digest}
    import pygeoops_spark

    res["tree"] = os.path.dirname(os.path.dirname(os.path.abspath(pygeoops_spark.__file__)))
    return res


def alternate(parent: str, change: str, pairs: int, reps: int, cpu: int) -> None:
    trees = {"parent": os.path.abspath(parent), "change": os.path.abspath(change)}
    runs = {k: [] for k in trees}
    for p in range(pairs):
        order = ["parent", "change"] if p % 2 == 0 else ["change", "parent"]
        for k in order:
            out = subprocess.run(
                ["taskset", "-c", str(cpu), sys.executable, HERE, "--child", trees[k], str(reps)],
                check=True, capture_output=True, text=True, cwd=trees[k],
            ).stdout
            run = json.loads(out.strip().splitlines()[-1])
            assert run["tree"] == trees[k], (run["tree"], trees[k])
            runs[k].append(run)
    print(f"{pairs} alternating pairs, min of {reps} per process, CPU {cpu}")
    for name, (unit, _, _) in PROBES.items():
        par = [r[name]["min"] for r in runs["parent"]]
        chg = [r[name]["min"] for r in runs["change"]]
        same = {r[name]["sha256"] for r in runs["parent"] + runs["change"]}
        print(
            f"{name:12s} {unit:9s} parent {' '.join(f'{v:.4g}' for v in par)} (median {statistics.median(par):.4g})"
            f"  change {' '.join(f'{v:.4g}' for v in chg)} (median {statistics.median(chg):.4g})"
            f"  change/parent {statistics.median(chg) / statistics.median(par):.3f}"
            f"  sha256 {'identical ' + next(iter(same))[:16] if len(same) == 1 else 'DIFFER'}"
        )


def main(argv: list[str]) -> None:
    if argv[0] == "--child":
        print(json.dumps(child(argv[1], int(argv[2]) if len(argv) > 2 else 5)))
        return
    opts = {"--reps": 5, "--cpu": 3}
    pos = []
    it = iter(argv)
    for a in it:
        if a in opts:
            opts[a] = int(next(it))
        else:
            pos.append(a)
    allowed = sorted(os.sched_getaffinity(0))
    if opts["--cpu"] not in allowed:
        sys.exit(f"--cpu {opts['--cpu']}: not a CPU this process may run on (allowed: {allowed})")
    alternate(pos[0], pos[1], int(pos[2]) if len(pos) > 2 else 3, opts["--reps"], opts["--cpu"])


if __name__ == "__main__":
    main(sys.argv[1:])
