"""Smoke tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q --basetemp=.perfbench/pytest

The checkers must reject corrupted results, the references must be
right on inputs small enough to check by hand, the event-log reader
must agree with Spark's own job count, and one short run per mode
must print every metric BENCHMARK.json names, with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import reference as ref  # noqa: E402
import run  # noqa: E402
from spans import EventLog, Tracer, event_log_file  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- checkers reject corrupted results ---------------------------------------
def test_pip_tile_checker():
    want = {(0, 1): 5, (0, 2): 7, (3, 1): 2}
    rows = [(0, 1, 5), (0, 2, 7), (3, 1, 2)]
    assert ref.check_pip_tile(want, rows) is None
    assert ref.check_pip_tile(want, rows[:-1])  # dropped group
    assert ref.check_pip_tile(want, [(0, 1, 5), (0, 2, 6), (3, 1, 2)])  # lost a page
    assert ref.check_pip_tile(want, rows + [(0, 1, 5)])  # duplicated group


def test_knn_checker():
    rng = np.random.default_rng(1)
    px, py, tx, ty = rng.random(4), rng.random(4), rng.random(30), rng.random(30)
    inp = {"planar": (px, py, tx, ty), "geo": (px, py, tx, ty), "k": 3, "expected_rows": 12}
    want = ref.knn_reference(inp)["planar"]
    rows = [(p, t, d, r + 1) for p, nn in enumerate(want) for r, (t, d) in enumerate(nn)]
    assert ref.check_knn(want, 12, 12, rows) is None
    assert ref.check_knn(want, 11, 12, rows[:-1])  # dropped row
    swapped = list(rows)
    (p0, t0, d0, r0), (p1, t1, d1, r1) = swapped[0], swapped[1]
    swapped[0], swapped[1] = (p0, t0, d0, r1), (p1, t1, d1, r0)
    assert ref.check_knn(want, 12, 12, swapped)  # swapped ranks


def test_knn_reference_tie_break():
    # two targets at the same distance: the smaller target id ranks first
    inp = {"planar": (np.array([0.0]), np.array([0.0]), np.array([1.0, -1.0, 3.0]),
                      np.array([0.0, 0.0, 0.0])),
           "geo": (np.array([0.0]), np.array([0.0]), np.array([1.0, 2.0]), np.array([0.0, 0.0])),
           "k": 2, "expected_rows": 2}
    assert [t for t, _ in ref.knn_reference(inp)["planar"][0]] == [0, 1]


def test_area_checker_and_wkb():
    sq = ref.densified_rect(0.0, 0.0, 4.0, 2.0, 3)
    hole = ref.densified_rect(1.0, 0.5, 1.0, 1.0, 1)[::-1]
    b = ref.wkb_polygon([sq, hole])
    assert ref.polygons_area(b) == pytest.approx(7.0)
    assert ref.check_areas([7.0], [(0, b)], "x") is None
    assert ref.check_areas([7.0, 1.0], [(0, b)], "x")  # dropped row
    assert ref.check_areas([8.0], [(0, b)], "x")  # wrong area
    assert ref.check_areas([7.0], [(0, None)], "x")  # null result


def test_points_in_ring():
    square = ref.densified_rect(0.0, 0.0, 2.0, 2.0, 2)
    x = np.array([1.0, 3.0, 0.5, -0.1])
    y = np.array([1.0, 1.0, 1.5, 1.0])
    assert ref.points_in_ring(x, y, square).tolist() == [True, False, True, False]


def test_text_reference_and_checker(tmp_path):
    docs = pa.table({
        "doc_id": np.array([0, 1, 2, 3], dtype=np.int64),
        "text": ["a b c d e f", "a b c d e g", "p q r s", "x y z w"],
    })
    pq.write_table(docs, tmp_path / "part-0.parquet")
    r = ref.text_reference(str(tmp_path), 0.5)
    # shingles of 0: abc bcd cde def; of 1: abc bcd cde deg -> J = 3/5
    assert r["pairs"] == {(0, 1): pytest.approx(0.6)}
    assert r["components"] == {0: 0, 1: 0}
    pairs, labels = [(0, 1, 0.6)], [(0, 0), (1, 0)]
    assert ref.check_text(r, pairs, labels, pairs) is None
    assert ref.check_text(r, [], labels, [])  # dropped pair
    assert ref.check_text(r, pairs, [(0, 0), (1, 1)], pairs)  # split component
    assert ref.check_text(r, pairs, labels, [(0, 2, 0.6)])  # LSH pair not exact


def test_tail_percentile():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    lat = [float(i) for i in range(1, 41)]
    value, pct = run.tail(lat)
    assert (value, pct) == (30.0, 75.0)
    assert sum(v > value for v in lat) == 10


# -- event log ---------------------------------------------------------------
def test_event_log_job_count(tmp_path):
    from pyspark.sql import SparkSession

    events = tmp_path / "events"
    events.mkdir()
    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(events))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.local.dir", str(tmp_path / "local"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp_path}")
        .getOrCreate()
    )
    try:
        tracer = Tracer(spark.sparkContext)
        tracer.enabled = True
        with tracer.span("toy.query"):
            df = spark.range(0, 1000, 1, 4)
            df.count()
            df.groupBy((df.id % 7).alias("k")).count().collect()
    finally:
        spark.stop()
    (span,) = tracer.spans
    log = EventLog(event_log_file(str(events)))
    assert span["jobs"] >= 2
    assert log.groups[span["group"]]["jobs"] == span["jobs"]
    assert log.total([span["group"]])["tasks"] >= 4
    assert log.sql_metric([span["group"]], "Range", "number of output rows") >= 1000


# -- one short run per mode prints every metric with its unit -----------------
@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_run_prints_every_metric(trace, section):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "pip_tile",
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in _bench()[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_benchmark_json_matches_runner():
    from workloads import WORKLOADS

    b = _bench()
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"]


def test_refuses_to_run_without_the_engine(tmp_path):
    """A copy holding only the benchmark exits non-zero, printing no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pip_tile", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
