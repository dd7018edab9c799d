"""cProfile of buffer_by_m over bench.py's first 200 M-lines, from one tree.

Prints the profiled total, then the calls, cumulative seconds and share
of the total of the overlay functions a buffer goes through (those the
tree does not define read "-"):

    python plans/no_coarse_retry/buffer_profile.py <tree>
"""

from __future__ import annotations

import cProfile
import os
import pstats
import sys

FUNCS = (
    "buffer_by_m",
    "polygon_union",
    "_node_edges",
    "convex_hull_coords",
    "_winding_region",
    "_hull_area",
    "_retry_on_coarse_grid",
)


def main(tree: str) -> None:
    sys.path.insert(0, os.path.abspath(tree))
    from pygeoops_spark.geom import wkt_loads
    from pygeoops_spark.geom.buffer_by_m import buffer_by_m

    assert pygeoops_tree() == os.path.abspath(tree)
    lines = []
    for i in range(200):
        x0, y0 = (i % 512) * 300.0, (i // 512 % 512) * 300.0
        pts = ", ".join(f"{x0 + v * 20} {y0 + (v % 2) * 10} {1.0 + (i + v) % 5}" for v in range(7))
        lines.append(wkt_loads(f"LINESTRING M ({pts})"))
    for g in lines[:10]:  # imports and first-call caches stay out of the profile
        buffer_by_m(g)
    prof = cProfile.Profile()
    prof.enable()
    for g in lines:
        buffer_by_m(g)
    prof.disable()
    stats = pstats.Stats(prof).stats
    total = max(ct for (_, _, name), (_, _, _, ct, _) in stats.items() if name == "buffer_by_m")
    print(f"tree {tree}: buffer_by_m over {len(lines)} M-lines, {total:.3f} s profiled")
    for fn in FUNCS:
        rows = [(nc, ct) for (_, _, name), (_, nc, _, ct, _) in stats.items() if name == fn]
        if not rows:
            print(f"  {fn:24s} -")
            continue
        calls, cum = sum(r[0] for r in rows), max(r[1] for r in rows)
        print(f"  {fn:24s} calls {calls:6d}  cumulative {cum:.3f} s  {100 * cum / total:5.1f}%")


def pygeoops_tree() -> str:
    import pygeoops_spark

    return os.path.dirname(os.path.dirname(os.path.abspath(pygeoops_spark.__file__)))


if __name__ == "__main__":
    main(sys.argv[1])
