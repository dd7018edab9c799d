"""In-process alternating A/B of the geometry callers of points_in_ring.

Loads ``geom/kernels.py`` from another tree (the "parent"), and on every
alternation swaps its ``points_in_ring`` and this tree's into
``pygeoops_spark.geom.kernels`` in turn (reversed order on odd rounds),
timing buffer_by_m, centerline, make_valid and lang+ simplify_geometry
over perfbench's geom-micro sample (the 40-geometry lists of
``perfbench/run.py:_geom_micro``), and the callers that sample does not
reach: polygon intersection and difference (midpoint classify),
make_valid of self-crossing shells with holes (one-point tests) and
difference_all of points (one-point tests). Every output is WKB-compared
across the two kernels, and the number of points_in_ring calls per
geometry is counted once per caller.

Run from the root of this tree, pinned to one CPU:

    PYTHONPATH=. taskset -c 3 python plans/r12/kernel_ab.py <parent_tree> [alternations]
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import statistics
import struct
import sys
import time

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "..", "perfbench"))

import reference as ref  # noqa: E402

import pygeoops_spark.geom.kernels as K  # noqa: E402
from pygeoops_spark.geom.buffer_by_m import buffer_by_m  # noqa: E402
from pygeoops_spark.geom.centerline import centerline  # noqa: E402
from pygeoops_spark.geom.difference import difference_all  # noqa: E402
from pygeoops_spark.geom.overlay import polygon_difference, polygon_intersection  # noqa: E402
from pygeoops_spark.geom.simplify_geom import simplify_geometry  # noqa: E402
from pygeoops_spark.geom.validity import make_valid  # noqa: E402
from pygeoops_spark.geom.wkb import wkb_dumps, wkb_loads  # noqa: E402

REPS = 3


def _parent_kernel(tree: str):
    spec = importlib.util.spec_from_file_location(
        "parent_kernels", os.path.join(tree, "pygeoops_spark", "geom", "kernels.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.points_in_ring


def _callers():
    v = np.arange(7)
    polys = [wkb_loads(ref.wkb_polygon([ref.densified_rect(150.0 * i, 0.0, 100.0 + i, 50.0 + i, 25)]))
             for i in range(40)]
    lines = [wkb_loads(ref.wkb_linestring_m(np.column_stack((150.0 * i + 20.0 * v, 10.0 * (v % 2), 1.0 + (i + v) % 5))))
             for i in range(40)]
    rects = [wkb_loads(ref.wkb_polygon([ref.densified_rect(150.0 * i, 0.0, 100.0 + i, 10.0 + i % 10, 1)]))
             for i in range(40)]
    # star polygons (48 vertices) half over the densified rects
    theta = 2.0 * np.pi * np.arange(48) / 48
    r = 30.0 * (0.6 + 0.4 * (np.arange(48) % 3) / 2.0)
    stars = [wkb_loads(ref.wkb_polygon([np.vstack([s, s[:1]])]))
             for i in range(40)
             for s in [np.column_stack((150.0 * i + 100.0 + r * np.cos(theta), 25.0 + r * np.sin(theta)))]]
    pairs = list(zip(polys, stars))
    # self-crossing shells (a figure eight, 2 x 40 vertices) with two holes
    t = np.linspace(0.0, 2.0 * np.pi, 81)[:-1]
    eight = np.column_stack((20.0 * np.sin(t), 10.0 * np.sin(2.0 * t)))
    holes = [ref.densified_rect(x0, -2.0, 4.0, 4.0, 3) for x0 in (-14.0, 10.0)]
    crossing = [wkb_loads(ref.wkb_polygon([np.vstack([eight, eight[:1]]) + (60.0 * i, 0.0)]
                                          + [h + (60.0 * i, 0.0) for h in holes]))
                for i in range(40)]
    points = [wkb_loads(struct.pack("<BIdd", 1, 1, 150.0 * i + 40.0 + i, 20.0 + i % 30)) for i in range(40)]
    return {
        "buffer_by_m": (buffer_by_m, lines),
        "centerline": (centerline, rects),
        "make_valid": (make_valid, polys),
        "simplify_lang+": (lambda g: simplify_geometry(g, 1.0, "lang+", 8, True, None), polys),
        "intersection": (lambda ab: polygon_intersection(*ab), pairs),
        "difference": (lambda ab: polygon_difference(*ab), pairs),
        "make_valid_x": (make_valid, crossing),
        "difference_pt": (lambda g: difference_all(g, polys[int(g.data[0] // 150.0)]), points),
    }


def main(parent_tree: str, n: int) -> None:
    kernels = {"parent": _parent_kernel(parent_tree), "this": K.points_in_ring}
    callers = _callers()
    calls = {}
    for name, (fn, items) in callers.items():
        count = [0]

        def counted(px, py, ring, count=count):
            count[0] += 1
            return kernels["this"](px, py, ring)

        K.points_in_ring = counted
        for g in items:
            fn(g)
        calls[name] = count[0] / len(items)
    times = {(c, k): [] for c in callers for k in kernels}
    for it in range(n):
        order = list(kernels) if it % 2 == 0 else list(kernels)[::-1]
        for name, (fn, items) in callers.items():
            digests = set()
            for k in order:
                K.points_in_ring = kernels[k]
                t0 = time.perf_counter()
                for _ in range(REPS):
                    outs = [fn(g) for g in items]
                times[(name, k)].append((time.perf_counter() - t0) / (REPS * len(items)) * 1e6)
                digests.add(hashlib.sha256(b"".join(b"-" if o is None else wkb_dumps(o) for o in outs)).digest())
            if len(digests) != 1:
                raise SystemExit(f"{name}: WKB output differs between kernels")
    K.points_in_ring = kernels["this"]
    print(f"{n} alternations, {REPS} passes over 40 geometries each; us per geometry")
    for name in callers:
        p, t = times[(name, "parent")], times[(name, "this")]
        wins = sum(b < a for a, b in zip(p, t))
        paired = statistics.median(a / b for a, b in zip(p, t))
        print(
            f"{name:15s} points_in_ring calls/geom {calls[name]:5.1f}  parent {statistics.median(p):8.1f}"
            f"  this {statistics.median(t):8.1f}  parent/this {statistics.median(p) / statistics.median(t):.3f}"
            f" (paired {paired:.3f})  this faster in {wins}/{n}"
        )
    print("WKB outputs identical across kernels")


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 20)
