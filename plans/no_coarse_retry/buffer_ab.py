"""Alternating-process A/B of bench.py's buffer_by_m leaf over two trees.

Each child process imports ``bench.py`` and ``pygeoops_spark`` from one
tree (its Python workers too, through ``PYTHONPATH``), starts a local
Spark session (``bench._mk_spark``), runs ``bench._run_buffer_20k`` once
to warm the workers, then times it ``reps`` times. Before each timed rep
it runs ``bench._cpu_probe_ms``, the host drift probe, so a pair that
ran on a slower host shows it. The parent tree runs first on even pairs
and second on odd ones, every child pinned to the same CPUs:

    python plans/no_coarse_retry/buffer_ab.py <parent_tree> <change_tree> [pairs] \
        [--lines N] [--reps R] [--cpus 2,3]

A child alone (one JSON line on stdout):

    python plans/no_coarse_retry/buffer_ab.py --child <tree> <lines> <reps> <n_cpus>
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.abspath(__file__)


def child(tree: str, lines: int, reps: int, n_cpus: int) -> dict:
    sys.path.insert(0, tree)
    import bench

    assert os.path.dirname(os.path.abspath(bench.__file__)) == tree, bench.__file__
    spark = bench._mk_spark(n_cpus)
    try:
        bench._run_buffer_20k(spark, lines)
        times, probes = [], []
        for _ in range(reps):
            probes.append(bench._cpu_probe_ms())
            t0 = time.perf_counter()
            bench._run_buffer_20k(spark, lines)
            times.append(time.perf_counter() - t0)
    finally:
        spark.stop()
    return {"tree": tree, "times": times, "probes": probes}


def alternate(parent: str, change: str, pairs: int, lines: int, reps: int, cpus: str) -> None:
    trees = {"parent": os.path.abspath(parent), "change": os.path.abspath(change)}
    runs = {k: [] for k in trees}
    n_cpus = len(cpus.split(","))
    for p in range(pairs):
        for k in (["parent", "change"] if p % 2 == 0 else ["change", "parent"]):
            env = dict(os.environ, PYTHONPATH=trees[k])
            out = subprocess.run(
                ["taskset", "-c", cpus, sys.executable, HERE, "--child", trees[k], str(lines), str(reps), str(n_cpus)],
                check=True, capture_output=True, text=True, cwd=trees[k], env=env,
            ).stdout
            runs[k].append(json.loads(out.strip().splitlines()[-1]))
    print(f"{pairs} alternating pairs, {lines} M-lines, {reps} timed reps per process, local[{n_cpus}] on CPUs {cpus}")
    for k in trees:
        for p, r in enumerate(runs[k]):
            print(
                f"{k:6s} pair {p}: min {min(r['times']):.3f} s  reps {' '.join(f'{t:.3f}' for t in r['times'])}"
                f"  cpu probe ms {' '.join(f'{v:.1f}' for v in r['probes'])}"
            )
    par = [min(r["times"]) for r in runs["parent"]]
    chg = [min(r["times"]) for r in runs["change"]]
    lower = sum(c < q for c, q in zip(chg, par))
    print(
        f"median of mins: parent {statistics.median(par):.3f} s, change {statistics.median(chg):.3f} s,"
        f" change/parent {statistics.median(chg) / statistics.median(par):.3f}; change lower in {lower}/{pairs} pairs"
    )


def main(argv: list[str]) -> None:
    if argv[0] == "--child":
        print(json.dumps(child(os.path.abspath(argv[1]), int(argv[2]), int(argv[3]), int(argv[4]))))
        return
    opts = {"--lines": "2000", "--reps": "5", "--cpus": "2,3"}
    pos = []
    it = iter(argv)
    for a in it:
        if a in opts:
            opts[a] = next(it)
        else:
            pos.append(a)
    pairs = int(pos[2]) if len(pos) > 2 else 5
    alternate(pos[0], pos[1], pairs, int(opts["--lines"]), int(opts["--reps"]), opts["--cpus"])


if __name__ == "__main__":
    main(sys.argv[1:])
