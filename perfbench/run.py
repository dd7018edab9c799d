"""Closed-loop benchmark of pygeoops_spark.

    python3 perfbench/run.py --workload pip_tile --seed 1 --seconds 10 --trace 0

One client: each op starts when the previous op's result has been
collected and checked against an independent reference.  Spark runs at
local[N], N = the CPUs this process may use.  Set-up builds the session,
warms the Python workers, and materializes the seeded inputs to parquet
(three times; the median counts).  The first op after set-up is timed
on its own; the workload's next warmup_ops ops warm up, checked but not
timed; the ops after them run for --seconds.

The last line of stdout is the result:
    {"correct", "attempted", "failed", "metrics": {name: {value, unit}}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1 (README.md lists both).  The line before it holds the detail
a reader needs beside them: tail percentile, op counts, host drift, and
in traced runs every per-span layer metric.  Traced runs also write
that detail to .perfbench/layers_<workload>_s<seed>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import pandas as pd  # pandas_udf type hints resolve in this module

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MATERIALIZE_REPS = 3
WARMUP_CAP_S = 60.0  # the warm-up stops after this long, whatever its op count
GEOM_MICRO_S = 0.05  # target wall time of each single-thread kernel probe


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _host() -> dict:
    from bench import _cpu_probe_ms

    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    return {"cpu_probe_ms": _cpu_probe_ms(), "loadavg_1m": load}


def _isolate_env(work: str) -> None:
    """Keep the run inside its work directory, and keep the caller's
    engine tuning variables from changing what is measured."""
    for k in list(os.environ):
        if k.startswith(("SPARK_GRAFT_", "PYGEOOPS_")) or k in (
            "SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_DRIVER_MEM", "PYSPARK_SUBMIT_ARGS",
        ):
            del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONHASHSEED"] = "0"  # same set/dict order in every worker
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )


def _session(work: str, cores: int, trace: bool):
    from pygeoops_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        # a fixed-size heap: no resizing that differs from run to run
        "spark.driver.extraJavaOptions": f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=max(cores, 8), extra_conf=conf
    )


def _stop(spark) -> None:
    """Stop Spark, then end the JVM this process launched (it exits when
    its stdin closes) and wait for it; the JVM stops the Python workers."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def _warm_workers(spark, cores: int) -> None:
    """Start one Python worker per core with the engine imported, and
    run one JVM job, so the first op pays neither."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _touch(s: pd.Series) -> pd.Series:
        import pygeoops_spark.geom.kernels  # noqa: F401

        return s

    spark.range(0, 1000 * cores, 1, cores).select(_touch("id").alias("i")).agg(F.sum("i")).collect()


def _geom_micro() -> dict:
    """Single-thread kernel costs on a fixed sample, in the driver."""
    import numpy as np

    from pygeoops_spark.geom.buffer_by_m import buffer_by_m
    from pygeoops_spark.geom.centerline import centerline
    from pygeoops_spark.geom.kernels import point_in_polygon_prepared
    from pygeoops_spark.geom.simplify_geom import simplify_geometry
    from pygeoops_spark.geom.validity import make_valid
    from pygeoops_spark.geom.wkb import wkb_dumps, wkb_loads

    import reference as ref

    rng = np.random.default_rng(0)
    theta = 2.0 * np.pi * np.arange(256) / 256
    star = np.column_stack((500 + 60 * rng.uniform(0.5, 1, 256) * np.cos(theta),
                            500 + 60 * rng.uniform(0.5, 1, 256) * np.sin(theta)))
    star = np.vstack((star, star[:1]))
    px, py = rng.uniform(430, 570, 20_000), rng.uniform(430, 570, 20_000)
    pip = point_in_polygon_prepared([(star, False)])
    v = np.arange(7)
    polys = [wkb_loads(ref.wkb_polygon([ref.densified_rect(150.0 * i, 0.0, 100.0 + i, 50.0 + i, 25)]))
             for i in range(40)]
    lines = [wkb_loads(ref.wkb_linestring_m(np.column_stack((150.0 * i + 20.0 * v, 10.0 * (v % 2), 1.0 + (i + v) % 5))))
             for i in range(40)]
    rects = [wkb_loads(ref.wkb_polygon([ref.densified_rect(150.0 * i, 0.0, 100.0 + i, 10.0 + i % 10, 1)]))
             for i in range(40)]
    raw = [wkb_dumps(g) for g in polys]

    def per_call(fn, items, scale: float) -> float:
        reps = []
        for _ in range(3):
            n, t0 = 0, time.perf_counter()
            while True:
                for it in items:
                    fn(it)
                n += len(items)
                dt = time.perf_counter() - t0
                if dt >= GEOM_MICRO_S:
                    break
            reps.append(dt / n * scale)
        return statistics.median(reps)

    return {
        "geom.point_in_polygon_prepared.ns_per_point": per_call(lambda _: pip(px, py), [0], 1e9 / len(px)),
        "geom.simplify_geometry.us_per_geom": per_call(
            lambda g: simplify_geometry(g, 1.0, "lang+", 8, True, None), polys, 1e6),
        "geom.make_valid.us_per_geom": per_call(make_valid, polys, 1e6),
        "geom.buffer_by_m.us_per_geom": per_call(buffer_by_m, lines, 1e6),
        "geom.centerline.us_per_geom": per_call(centerline, rects, 1e6),
        "geom.wkb_roundtrip.us_per_geom": per_call(lambda b: wkb_dumps(wkb_loads(b)), raw, 1e6),
    }


def _hygiene(spark, conf0: dict) -> tuple[int, int]:
    """Persisted RDDs held by the session, and SQL conf entries that
    differ from the session's starting conf."""
    conf = spark.conf.getAll
    changed = sum(1 for k in set(conf) | set(conf0) if conf.get(k) != conf0.get(k))
    return spark.sparkContext._jsc.getPersistentRDDs().size(), changed


def tail(lat: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples above it, and
    that percentile; with ten or fewer samples, the maximum (100)."""
    s = sorted(lat)
    k = len(s) - 10
    if k < 1:
        return s[-1], 100.0
    return s[k - 1], 100.0 * k / len(s)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pygeoops_spark")):
        _fail(f"no pygeoops_spark package beside {HERE}; run from a full checkout")
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    cores = len(os.sched_getaffinity(0))
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _isolate_env(work)
        result, detail = _run(wl, args, cores, work, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if trace:
        with open(os.path.join(out_dir, f"layers_{args.workload}_s{args.seed}.json"), "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))


def _run(wl, args, cores: int, work: str, trace: bool):
    from spans import EventLog, TreeRSS, Tracer, event_log_file

    host0 = _host()
    data = os.path.join(work, "inputs")
    with TreeRSS() as rss:
        t0 = time.perf_counter()
        spark = _session(work, cores, trace)
        get_spark_s = time.perf_counter() - t0
        try:
            t0 = time.perf_counter()
            _warm_workers(spark, cores)
            warm_s = time.perf_counter() - t0
            mat = []
            for rep in range(MATERIALIZE_REPS):
                t0 = time.perf_counter()
                inp_rep = wl.materialize(spark, args.seed, os.path.join(data, str(rep)), 2 * cores)
                mat.append(time.perf_counter() - t0)
                if rep == 0:
                    inp = inp_rep
            for rep in range(1, MATERIALIZE_REPS):
                shutil.rmtree(os.path.join(data, str(rep)))
            path = os.path.join(data, "0")
            setup_s = get_spark_s + warm_s + statistics.median(mat)
            t0 = time.perf_counter()
            reference = wl.reference(inp, path)
            reference_s = time.perf_counter() - t0

            micro = _geom_micro() if trace else {}
            tracer = Tracer(spark.sparkContext)
            conf0 = spark.conf.getAll
            state: dict = {}
            ops: list[dict] = []

            def run_op(traced: bool) -> dict:
                tracer.enabled = traced
                tracer.op = len(ops)
                rec = {"traced": traced, "t0": time.time()}
                cpu0 = rss.by_role()
                t = time.perf_counter()
                error = None
                try:
                    rows, check = wl.op(spark, path, inp, tracer.span, state)
                except Exception:  # an op that raises counts as failed; the run goes on
                    rows, error = 0, traceback.format_exc(limit=3)
                rec["latency_s"] = time.perf_counter() - t
                cpu1 = rss.by_role()
                rec["cpu_split_s"] = {r: cpu1[r][1] - cpu0[r][1] for r in cpu1}
                rec["cpu_s"] = sum(rec["cpu_split_s"].values())
                rec["t1"] = time.time()
                rec["error"] = error or check(reference)
                rec["rows"] = rows if rec["error"] is None else 0
                rec.update({k: state.get(k) for k in ("joined_rows", "knn_rows", "cc_rounds")})
                if trace:
                    rec["persisted_rdds"], rec["conf_changes"] = _hygiene(spark, conf0)
                if rec["error"]:
                    print(f"perfbench: op {len(ops)} failed: {rec['error']}", file=sys.stderr)
                ops.append(rec)
                return rec

            # the references and kernel probes ran in this process; the
            # peak that counts is the one the engine reaches while working
            rss.reset_peak()
            first = run_op(traced=trace)
            # ops keep getting cheaper for many ops after the first, while
            # the JVM compiles the planner, codegen and shuffle paths they
            # use; counting warm-up ops rather than seconds puts the timed
            # ops at the same point of that curve on a slow host as on a
            # fast one
            t_warm = time.perf_counter()
            while len(ops) <= wl.warmup_ops and time.perf_counter() - t_warm < WARMUP_CAP_S:
                run_op(traced=False)
            n_warmup = len(ops)
            t_start = time.perf_counter()
            while True:
                # a traced run alternates untraced and traced ops, so the
                # span overhead is measured against the same session
                run_op(traced=trace and len(ops) % 2 == 0)
                if time.perf_counter() - t_start >= args.seconds:
                    break
            timed_s = time.perf_counter() - t_start
        finally:
            _stop(spark)
    host1 = _host()

    warm = ops[n_warmup:]
    lat = [o["latency_s"] for o in warm]
    tail_s, tail_pct = tail(lat)
    failed = sum(1 for o in ops if o["error"])
    # every headline number, with its unit; END_TO_END are the bounded
    # ones, and README.md says why the others are not
    headline = {
        "setup_s": (setup_s, "s"),
        "first_op_s": (first["latency_s"], "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_s, "s"),
        "rows_per_s": (sum(o["rows"] for o in warm) / timed_s, "rows/s"),
        "failed_ops_frac": (failed / len(ops), "ratio"),
        "peak_rss_mb": (rss.peak_kb / 1024.0, "MB"),
        "op_cpu_s": (statistics.median(o["cpu_s"] for o in warm), "s"),
    }
    e2e = {k: headline[k] for k in END_TO_END}
    detail = {
        "workload": wl.name, "seed": args.seed, "cores": cores, "trace": int(trace),
        "headline": {k: {"value": v, "unit": u} for k, (v, u) in headline.items()},
        "timed_ops": len(warm), "warmup_ops": n_warmup - 1, "op_tail_percentile": tail_pct,
        "op_latencies_s": lat, "peak_rss_spike_mb": rss.spike_kb / 1024.0,
        "materialize_s": mat, "reference_s": reference_s,
        "warmup_s": [o["latency_s"] for o in ops[1:n_warmup]],
        # every op's CPU seconds by process, warm-up ops included
        "op_cpu_split_s": [o["cpu_split_s"] for o in ops], "host_before": host0, "host_after": host1,
    }
    if trace:
        log = EventLog(event_log_file(os.path.join(work, "events")))
        layers = _layers(ops, tracer.spans, log, cores, n_warmup)
        layers.update(micro)
        layers.update({
            "session.get_spark_s": get_spark_s,
            "session.worker_warm_s": warm_s,
            "corpus.materialize_s": statistics.median(mat),
            "host.cpu_probe_ms": max(host0["cpu_probe_ms"], host1["cpu_probe_ms"]),
            "host.loadavg_1m": max(host0["loadavg_1m"], host1["loadavg_1m"]),
            "op.first_op_s": first["latency_s"],
            "op.tail_s": tail_s,
            "op.tail_percentile": tail_pct,
            "op.timed": len(warm),
            "op.p50_s": headline["op_p50_s"][0],
            "op.cpu_s": headline["op_cpu_s"][0],
            "op.rows_per_s": headline["rows_per_s"][0],
        })
        detail["layers"] = {k: {"value": v, "unit": unit(k)} for k, v in sorted(layers.items())}
        # BENCHMARK.json lists the layer metrics every workload reports;
        # a layer a workload does not call reads 0 there
        metrics = {k: (layers.get(k, 0), u) for k, u in PER_LAYER.items()}
    else:
        metrics = e2e
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


# The end-to-end and per-layer metrics of BENCHMARK.json.  Every traced
# run prints all the per-layer ones.  Times that only one workload
# produces (a call's call_s, action_s, task_cpu_s, python_s) are in the
# detail line and the layer file instead, so no printed time is a
# constant 0.
END_TO_END = ("setup_s", "peak_rss_mb")
PER_LAYER = {
    "op.first_op_s": "s",
    "op.tail_s": "s",
    "op.timed": "count",
    "op.p50_s": "s",
    "op.cpu_s": "s",
    "op.rows_per_s": "rows/s",
    "session.get_spark_s": "s",
    "session.worker_warm_s": "s",
    "corpus.materialize_s": "s",
    "op.call_s": "s",
    "op.action_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_cpu_s_per_op": "s",
    "spark.python_s_per_op": "s",
    "spark.gc_s_per_op": "s",
    "spark.shuffle_write_mb_per_op": "MB",
    "spark.spill_mb_per_op": "MB",
    "spark.driver_gap_s": "s",
    "spark.first_op_driver_gap_s": "s",
    "spark.core_busy_frac": "ratio",
    "spark.persisted_rdds_after_op": "count",
    "spark.conf_changes_after_op": "count",
    "trace.overhead_frac": "ratio",
    "trace.span_coverage": "ratio",
    "geom.point_in_polygon_prepared.ns_per_point": "ns",
    "geom.simplify_geometry.us_per_geom": "us",
    "geom.make_valid.us_per_geom": "us",
    "geom.buffer_by_m.us_per_geom": "us",
    "geom.centerline.us_per_geom": "us",
    "geom.wkb_roundtrip.us_per_geom": "us",
    "host.cpu_probe_ms": "ms",
    "host.loadavg_1m": "load",
    "join.pip_join_polygons.jobs": "count",
    "join.pip.kernel_rows": "count",
    "join.pip.kernel_accept_ratio": "ratio",
    "operators.assign_to_grid.action_share": "ratio",
    "text.jaccard_pairs.jobs": "count",
    "text.jaccard_pairs.shuffle_write_mb": "MB",
    "text.jaccard_pairs.verify_ratio": "ratio",
    "text.connected_components.jobs": "count",
    "text.connected_components.rounds": "count",
}


def unit(name: str) -> str:
    if name in PER_LAYER:
        return PER_LAYER[name]
    for suffix, u in (("_s", "s"), ("_mb", "MB"), ("_ms", "ms"), ("_percentile", "%")):
        if name.endswith(suffix):
            return u
    return "ratio" if name.endswith(("_frac", "_ratio", "_share")) else "count"


def _stream_path(node: dict):
    """Plan nodes on the streamed (first-child) path below a node, down
    to and including the next join."""
    while node.get("children"):
        node = node["children"][0]
        yield node
        if "Join" in node["nodeName"]:
            return


def _layers(ops: list[dict], spans: list[dict], log, cores: int, n_warmup: int) -> dict:
    """Layer metrics over the traced ops of the timed phase (the first
    op when it is the only traced one): medians over ops unless the
    name says otherwise."""
    med = statistics.median
    by_op: dict[int, list[dict]] = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    warm_ops = [i for i in sorted(by_op) if i >= n_warmup] or sorted(by_op)

    def groups(i: int, pred) -> list[str]:
        return [s["group"] for s in by_op[i] if pred(s["name"])]

    def python_s(gs: list[str]) -> float:
        return sum(log.metric(n, "time to run Python workers") for n in log.nodes(gs)) / 1000.0

    out: dict = {}
    # per layer call: <call>.{call_s, action_s, jobs, task_cpu_s, ...}
    calls = sorted({s["name"] for s in spans if not s["name"].endswith(".action")} - {"spark.read_parquet"})
    for call in calls:
        rows = []
        for i in warm_ops:
            c = [s for s in by_op[i] if s["name"] == call]
            a = [s for s in by_op[i] if s["name"] == call + ".action"]
            if not c:
                continue
            gs = [s["group"] for s in c + a]
            tot = log.total(gs)
            rows.append({
                "call_s": sum(s["t1"] - s["t0"] for s in c),
                "action_s": sum(s["t1"] - s["t0"] for s in a),
                "jobs": sum(s["jobs"] for s in c + a),
                "task_cpu_s": tot["cpu_s"], "gc_s": tot["gc_s"], "python_s": python_s(gs),
                "shuffle_write_mb": tot["shuffle_write_mb"], "spill_mb": tot["spill_mb"],
            })
        for k in rows[0] if rows else ():
            out[f"{call}.{k}"] = med(r[k] for r in rows)

    # per op: Spark runtime attribution
    per_op = []
    for i in sorted(by_op):
        op = ops[i]
        gs = groups(i, lambda n: True)
        tot = log.total(gs)
        wall = op["t1"] - op["t0"]
        per_op.append({
            "i": i, "wall": wall, **tot, "python_s": python_s(gs),
            "gap": wall - log.job_union_s(gs),
            "coverage": sum(s["t1"] - s["t0"] for s in by_op[i]) / wall,
            "span_jobs": sum(s["jobs"] for s in by_op[i]),
            "call_s": sum(s["t1"] - s["t0"] for s in by_op[i] if not s["name"].endswith(".action")),
            "action_s": sum(s["t1"] - s["t0"] for s in by_op[i] if s["name"].endswith(".action")),
        })
    warm = [p for p in per_op if p["i"] in warm_ops]
    for k, name in (
        ("call_s", "op.call_s"), ("action_s", "op.action_s"), ("span_jobs", "spark.jobs_per_op"),
        ("stages", "spark.stages_per_op"), ("tasks", "spark.tasks_per_op"),
        ("cpu_s", "spark.task_cpu_s_per_op"), ("python_s", "spark.python_s_per_op"),
        ("gc_s", "spark.gc_s_per_op"), ("shuffle_write_mb", "spark.shuffle_write_mb_per_op"),
        ("spill_mb", "spark.spill_mb_per_op"), ("gap", "spark.driver_gap_s"),
        ("coverage", "trace.span_coverage"),
    ):
        out[name] = med(p[k] for p in warm)
    out["spark.core_busy_frac"] = sum(p["run_s"] for p in warm) / (sum(p["wall"] for p in warm) * cores)
    out["spark.first_op_driver_gap_s"] = per_op[0]["gap"] if per_op[0]["i"] == 0 else 0.0
    out["spark.persisted_rdds_after_op"] = max(o["persisted_rdds"] for o in ops)
    out["spark.conf_changes_after_op"] = max(o["conf_changes"] for o in ops)
    timed = ops[n_warmup:]
    traced = [o["latency_s"] for o in timed if o["traced"]]
    untraced = [o["latency_s"] for o in timed if not o["traced"]]
    if traced and untraced:
        out["trace.overhead_frac"] = med(traced) / med(untraced) - 1.0
    out["trace.traced_ops"] = len(by_op)

    # workload-specific counts and ratios, read from the plans' SQL metrics
    pip, knn, jac, cc, grid = [], [], [], [], []
    for i in warm_ops:
        g = lambda *names: groups(i, lambda n: n.split(".action")[0] in names)  # noqa: E731
        if "join.pip_join_polygons" in {s["name"] for s in by_op[i]}:
            rows = log.sql_metric(g("join.pip_join_polygons"), "ArrowEvalPython", "number of output rows")
            pip.append((rows, ops[i]["joined_rows"] / rows if rows else 0.0))
            act = log.groups.get(groups(i, lambda n: n == "join.pip_join_polygons.action")[0])
            if act and act["run_s"]:
                grid.append(act["stage_run_s"][max(act["stage_run_s"])] / act["run_s"])
        gs = g("join.knn_join")
        if gs:
            cand = sum(
                log.metric(n, "number of output rows") for n in log.nodes(gs)
                if "Join" in n["nodeName"] and any(
                    m["nodeName"] == "Generate" for m in _stream_path(n))
            )
            knn.append(ops[i]["knn_rows"] / cand if cand else 0.0)
        gs = g("text.jaccard_pairs")
        if gs:
            kept = verified = 0.0
            for n in log.nodes(gs):
                if "Join" in n["nodeName"] and "array_intersect" in n["simpleString"]:
                    below = next((m for m in _stream_path(n) if "Join" in m["nodeName"]), None)
                    kept += log.metric(n, "number of output rows")
                    verified += log.metric(below, "number of output rows") if below else 0.0
            jac.append(kept / verified if verified else 0.0)
        if ops[i].get("cc_rounds") is not None:
            cc.append(ops[i]["cc_rounds"])
    if pip:
        out["join.pip.kernel_rows"] = med(r for r, _ in pip)
        out["join.pip.kernel_accept_ratio"] = med(a for _, a in pip)
    if grid:
        out["operators.assign_to_grid.action_share"] = med(grid)
    if knn:
        out["join.knn_join.candidate_ratio"] = med(knn)
    if jac:
        out["text.jaccard_pairs.verify_ratio"] = med(jac)
    if cc:
        out["text.connected_components.rounds"] = med(cc)
    return out


if __name__ == "__main__":
    main()
