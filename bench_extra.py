#!/usr/bin/env python
"""Supplementary per-query benchmark (guide §1.4): times a chosen
subset of the declared queries with N reps each in one warmed session,
interleaving the CPU drift probe from bench.py so host-load
contamination is visible per rep. bench.py itself is FROZEN for driver
measurement; this harness exists for optimization A/B work
(OPTIMIZATION_r07.md cites its numbers).

Usage:
  python bench_extra.py [-r REPS] [query ...]      # default: heavy set
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import pandas as pd  # noqa: F401 — pandas_udf type hints resolve here

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEAVY = [
    "pip_join",
    "pip_join_poly",
    "knn_join",
    "geodesic_knn",
    "jaccard_pairs",
    "dedup_components",
    "minhash_lsh",
    "simhash",
    "url_host_stats",
    "sessionize_stream",
    "simplify_topo",
]


def _cpu_probe_ms() -> float:
    import numpy as np

    rng = np.random.default_rng(12345)
    a = rng.random(2_000_000)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        b = np.sort(a)
        float(np.hypot(b[:-1], b[1:]).sum())
        best = min(best, (time.perf_counter() - t0) * 1000)
    return round(best, 1)


def timed_action(df):
    """The one-row aggregate a leaf is timed as: a bit_xor over the
    xxhash64 of every output column. It reads every column, so Catalyst
    cannot prune a Python UDF whose output the leaf would not consume
    (a bare ``count()`` does exactly that). bit_xor, unlike a sum, cannot
    overflow under ANSI arithmetic."""
    from pyspark.sql import functions as F

    return df.agg(F.bit_xor(F.xxhash64(*[df[c] for c in df.columns])))


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    if args and args[0] == "-r":
        reps = int(args[1])
        args = args[2:]
    names = args or HEAVY

    import __spark_entry__ as entrymod
    from pygeoops_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(
        "bench-extra", master=f"local[{CPUS}]", shuffle_partitions=max(CPUS, 8)
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1000).select(_warm("id")).count()
    qs = entrymod.queries()
    out: dict = {}
    for name in names:
        if name not in qs:
            print(f"?? unknown query {name}", file=sys.stderr)
            continue
        times, probes = [], []
        for _ in range(reps):
            probes.append(_cpu_probe_ms())
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            timed_action(qs[name](spark, SF_DIR)).collect()
            times.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = {
            "reps": times,
            "median": round(statistics.median(times), 3),
            "min": min(times),
            "probe_ms": probes,
        }
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    print(json.dumps({"summary": {k: v["median"] for k, v in out.items()}}))


if __name__ == "__main__":
    main()
