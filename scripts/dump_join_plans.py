"""Dump the formatted physical plans of the cell-join and similarity-pair
driver queries.

For a before/after comparison of a join or pair-core refactor: dump once
per tree (each tree imports its own ``__spark_entry__`` and
``pygeoops_spark``), then compare, which ignores expression ids, plan
ids and lambda-variable counters.

It dumps:

- the cell-join driver queries pip_join, pip_join_poly (v1 + v2),
  bbox_join, geo_bbox_join, knn_join and geodesic_knn (v1 + v2), the
  flagship ``entry`` frame, and the joined frame of the perfbench
  ``pip_tile`` op (``pip_join_polygons(level=None, ship="auto")`` over
  its seeded inputs);
- the kNN ring path on the two ring shapes of tests/test_join_jobs.py
  (planar 300 x 200, geographic 200 x 120, k=3, level=None), each
  without (``*_approx``) and with (``*_exact``) ``guarantee_exact`` —
  the ``knn_join`` and ``geodesic_knn`` queries take the brute-force escape;
- the similarity driver queries jaccard_pairs, minhash_lsh, simhash,
  ann_cosine, ann_lsh, ann_ivf, dedup_embedding and dedup_components,
  ``simhash_pairs``
  over the same documents, the two ANN operators behind ann_ivf
  (``cosine_topk_ivf`` and a persisted ``ivf_query_index``), and the
  two pair calls of the perfbench ``text_dedup`` op over its seed-1
  corpus;
- the grouped geometry driver queries simplify_topo, collect and
  explode_parts.

The pair functions and simplify_topo are eager: they hand their result
to ``checkpoint_and_release`` and return a scan of the checkpoint.  The
script wraps ``checkpoint_and_release`` in every ``pygeoops_spark``
module that imports it and also dumps the plan of each frame it
receives, as ``<frame>_ckpt<i>``. Compare ignores RDD ids too: the
plans of checkpointed and driver-built frames name their source RDD by
a session-wide counter.  It prints the Spark jobs each
frame's construction started (auto level, auto ship, the kNN exactness
actions, the checkpoints), each frame's row count and the jobs of that
count, and the size in characters of the analyzed plan of each frame
and checkpointed frame.

Run:  PYTHONPATH=<tree> python scripts/dump_join_plans.py dump <tree> <out_dir> <tag> [frame ...]
      python scripts/dump_join_plans.py compare <out_dir> <tag_a> <tag_b>
Env:  SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01, the
      verify_local.py scale)
"""

from __future__ import annotations

import glob
import importlib
import os
import re
import shutil
import sys
import tempfile

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
QUERIES = (
    "pip_join", "pip_join_poly", "bbox_join", "geo_bbox_join", "knn_join", "geodesic_knn",
    "jaccard_pairs", "minhash_lsh", "simhash", "ann_cosine", "ann_lsh", "ann_ivf",
    "dedup_embedding", "dedup_components", "simplify_topo", "collect", "explode_parts",
)


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[]", plan)
    return re.sub(r"\b(x|y|z)_\d+\b", r"\1_N", plan)


def _plan(df, tmp: str) -> str:
    formatted = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(formatted)
    return plan.replace(tmp, "<tmp>").replace(SF_DIR, "<sf_dir>")


def _analyzed_chars(df) -> int:
    return len(df._jdf.queryExecution().analyzed().toString())


def _wrap_checkpoints(captured: list, tmp: str) -> None:
    """Record the plan of each frame handed to checkpoint_and_release,
    in every loaded pygeoops_spark module that imported it. The plan is
    taken before the checkpoint runs it: the initial adaptive plan,
    whose stage and codegen ids do not depend on which stage finished
    first."""
    from pygeoops_spark import session

    orig = session.checkpoint_and_release

    def checkpoint_and_release(result, caches):
        captured.append((_plan(result, tmp), _analyzed_chars(result)))
        return orig(result, caches)

    for mod in ("text.dedup", "ann.cosine", "join.knn", "pairs", "operators.simplify_topo"):
        try:
            importlib.import_module("pygeoops_spark." + mod)
        except ImportError:  # a tree without that module
            pass
    for name, m in list(sys.modules.items()):
        if name.startswith("pygeoops_spark") and getattr(m, "checkpoint_and_release", None) is orig:
            m.checkpoint_and_release = checkpoint_and_release


def _ring_shape(spark, n_probes: int, n_targets: int, ax: tuple[str, str]):
    """The probe and target frames of the kNN ring shapes in
    tests/test_join_jobs.py: planar (x, y) or geographic (lon, lat)."""
    from pyspark.sql import functions as F

    i = F.col("id")
    if ax == ("x", "y"):
        x, y = (i * 37 % 997).cast("double"), (i * 61 % 983).cast("double")
        t_x = x * 0.5 + 100.0
    else:
        x = (i * 37 % 360 - 180).cast("double") + F.lit(0.25)
        y = (i * 23 % 160 - 80).cast("double") + F.lit(0.125)
        t_x = x * 0.5
    probes = spark.range(n_probes).select(i.alias("pid"), x.alias(ax[0]), y.alias(ax[1]))
    targets = spark.range(n_targets).select(i.alias("tid"), t_x.alias(ax[0]), y.alias(ax[1]))
    return probes, targets


def dump(root: str, out_dir: str, tag: str, *only: str) -> None:
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.join(root, "perfbench"))
    import __spark_entry__ as entry
    import reference as ref
    import workloads
    from pyspark.sql import functions as F

    from pygeoops_spark.ann.cosine import cosine_topk_ivf, ivf_build_index, ivf_query_index
    from pygeoops_spark.join.geo_knn import geodesic_knn_join
    from pygeoops_spark.join.knn import knn_join
    from pygeoops_spark.join.pip import pip_join_polygons
    from pygeoops_spark.session import get_spark
    from pygeoops_spark.text.dedup import jaccard_pairs, minhash_lsh_pairs, simhash_pairs

    spark = get_spark("dump-join-plans", master="local[4]", shuffle_partitions=4)
    sc = spark.sparkContext
    captured: list = []
    os.makedirs(out_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="dump_join_plans_")
    _wrap_checkpoints(captured, tmp)
    try:
        ref.pip_tile_inputs(1, 150_000, 256, tmp, 4)
        pages = spark.read.parquet(os.path.join(tmp, "pages"))
        zones = spark.read.parquet(os.path.join(tmp, "zones"))
        workloads.TextDedup().materialize(spark, 1, tmp, 4)
        text_docs = spark.read.parquet(os.path.join(tmp, "docs"))
        sf_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        queries = emb.where(F.col("vec_id") < 50)
        idx = os.path.join(tmp, "ivf_idx")

        def ivf_index():
            ivf_build_index(emb, idx, n_cells=16, t_assign=3, train_iters=8)
            return ivf_query_index(spark, idx, queries, k=5, nprobe=7)

        builders = {q: (lambda q=q: getattr(entry, "_q_" + q)(spark, SF_DIR)) for q in QUERIES}
        builders["entry"] = lambda: entry.entry(spark)
        builders["perfbench_pip_tile_joined"] = lambda: pip_join_polygons(
            pages, zones, level=None, ship="auto"
        )
        builders["simhash_pairs"] = lambda: simhash_pairs(sf_docs)
        builders["ann_ivf_per_call"] = lambda: cosine_topk_ivf(
            queries, emb, k=5, n_cells=16, nprobe=7, t_assign=3, train_iters=8
        )
        builders["ann_ivf_index"] = ivf_index
        for mode in ("approx", "exact"):
            exact = mode == "exact"
            builders[f"knn_ring_{mode}"] = lambda exact=exact: knn_join(
                *_ring_shape(spark, 300, 200, ("x", "y")), "pid", "tid", k=3, level=None,
                guarantee_exact=exact,
            )
            builders[f"geo_knn_ring_{mode}"] = lambda exact=exact: geodesic_knn_join(
                *_ring_shape(spark, 200, 120, ("lon", "lat")), "pid", "tid", k=3, level=None,
                guarantee_exact=exact,
            )
        builders["perfbench_text_dedup_jaccard"] = lambda: jaccard_pairs(
            text_docs, threshold=workloads.TEXT_THRESHOLD
        )
        builders["perfbench_text_dedup_minhash"] = lambda: minhash_lsh_pairs(
            text_docs, threshold=workloads.TEXT_THRESHOLD
        )
        def write(name, plan):
            with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(plan)

        def jobs_of(group, action):
            sc.setJobGroup(group, group)
            try:
                return action(), len(sc.statusTracker().getJobIdsForGroup(group))
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        for name, build in builders.items():
            if only and name not in only:
                continue
            captured.clear()
            df, jobs = jobs_of(f"dump-{name}", build)
            write(name, _plan(df, tmp))
            for i, (plan, _) in enumerate(captured):
                write(f"{name}_ckpt{i}", plan)
            rows, count_jobs = jobs_of(f"dump-{name}-count", df.count)
            print(
                f"{name}: plan-time jobs={jobs} checkpoints={len(captured)} rows={rows} "
                f"count jobs={count_jobs} "
                f"analyzed_chars={_analyzed_chars(df)} "
                f"checkpoint_analyzed_chars={[n for _, n in captured]}"
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


def compare(out_dir: str, tag_a: str, tag_b: str) -> int:
    n_diff = 0
    suffix = f"_{tag_a}.txt"
    for path_a in sorted(glob.glob(os.path.join(out_dir, f"*{suffix}"))):
        name = os.path.basename(path_a)[: -len(suffix)]
        path_b = os.path.join(out_dir, f"{name}_{tag_b}.txt")
        if not os.path.exists(path_b):
            n_diff += 1
            print(f"MISSING {name}")
            continue
        a, b = (normalize(open(p).read()) for p in (path_a, path_b))
        n_diff += a != b
        print(("same " if a == b else "DIFFERS ") + name)
    return n_diff


if __name__ == "__main__":
    if sys.argv[1] == "dump":
        dump(*sys.argv[2:])
    else:
        sys.exit(compare(*sys.argv[2:5]))
