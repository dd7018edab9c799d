"""Dump the formatted physical plans of the cell-join driver queries.

For a before/after comparison of a join refactor: dump once per tree
(each tree imports its own ``__spark_entry__`` and ``pygeoops_spark``),
then compare, which ignores expression ids, plan ids and
lambda-variable counters.

It dumps the driver queries pip_join, pip_join_poly (v1 + v2),
bbox_join, geo_bbox_join, knn_join and geodesic_knn (v1 + v2), the
flagship ``entry`` frame, and the joined frame of the perfbench
``pip_tile`` op (``pip_join_polygons(level=None, ship="auto")`` over its
seeded inputs). It also prints the Spark jobs each frame's construction
started (auto level, auto ship and the kNN exactness actions) and each
frame's row count.

Run:  PYTHONPATH=<tree> python scripts/dump_join_plans.py dump <tree> <out_dir> <tag>
      python scripts/dump_join_plans.py compare <out_dir> <tag_a> <tag_b>
Env:  SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01, the
      verify_local.py scale)
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
QUERIES = ("pip_join", "pip_join_poly", "bbox_join", "geo_bbox_join", "knn_join", "geodesic_knn")


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    return re.sub(r"\b(x|y|z)_\d+\b", r"\1_N", plan)


def dump(root: str, out_dir: str, tag: str) -> None:
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.join(root, "perfbench"))
    import __spark_entry__ as entry
    import reference as ref
    from pygeoops_spark.join.pip import pip_join_polygons
    from pygeoops_spark.session import get_spark

    spark = get_spark("dump-join-plans", master="local[4]", shuffle_partitions=4)
    sc = spark.sparkContext
    os.makedirs(out_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="dump_join_plans_")
    try:
        ref.pip_tile_inputs(1, 150_000, 256, tmp, 4)
        pages = spark.read.parquet(os.path.join(tmp, "pages"))
        zones = spark.read.parquet(os.path.join(tmp, "zones"))
        builders = {q: (lambda q=q: getattr(entry, "_q_" + q)(spark, SF_DIR)) for q in QUERIES}
        builders["entry"] = lambda: entry.entry(spark)
        builders["perfbench_pip_tile_joined"] = lambda: pip_join_polygons(
            pages, zones, level=None, ship="auto"
        )
        formatted = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        for name, build in builders.items():
            group = f"dump-{name}"
            sc.setJobGroup(group, group)
            try:
                df = build()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            plan = df._jdf.queryExecution().explainString(formatted).replace(tmp, "<tmp>")
            with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(plan)
            print(f"{name}: plan-time jobs={jobs} rows={df.count()}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


def compare(out_dir: str, tag_a: str, tag_b: str) -> int:
    n_diff = 0
    for name in (*QUERIES, "entry", "perfbench_pip_tile_joined"):
        a, b = (
            normalize(open(os.path.join(out_dir, f"{name}_{t}.txt")).read())
            for t in (tag_a, tag_b)
        )
        n_diff += a != b
        print(("same " if a == b else "DIFFERS ") + name)
    return n_diff


if __name__ == "__main__":
    if sys.argv[1] == "dump":
        dump(*sys.argv[2:5])
    else:
        sys.exit(compare(*sys.argv[2:5]))
