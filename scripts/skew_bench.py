"""Skew evidence for the salted PIP join (VERDICT r05 task #4).

The module docstring in join/pip.py claims: hotspot skew is harmless on
the broadcast plan, and the shuffle (sort-merge) plan needs
key salting (`n_salt`) or AQE skew-join. This script MEASURES that claim on the
20%-hotspot pages corpus (corpus/pages.py:118 — 20% of points snap
into ONE level-5 cell, so one shuffle key carries 20% of the big side):

  * unsalted_aqe_off  — plain SMJ, the straggler baseline
  * salted_aqe_off    — explicit n_salt=16 key salting, AQE still off
  * unsalted_aqe_on   — AQE skew-join splitting only (engine default)
  * salted_aqe_on     — both (what get_spark ships)
  * broadcast         — the default pip_join_rects plan, for reference

Protocol per CLAUDE.md: every configuration runs in a FRESH
subprocess (fresh JVM), warmup then median of 3 reps; a single-thread
CPU probe (bench.py's) and loadavg are recorded around each config so
host drift is visible. Output equality salted-vs-unsalted is
re-asserted in-process at the same scale. Writes
BENCH/skew_salted_r06.json.

Run:  python scripts/skew_bench.py            (~2-4 min)
Env:  SKEW_BENCH_PAGES (default 8_000_000), SKEW_BENCH_CPUS (32)
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_PAGES = int(os.environ.get("SKEW_BENCH_PAGES", "8000000"))
CPUS = int(os.environ.get("SKEW_BENCH_CPUS", "32"))
N_SALT = 16
LEVEL = 5
# heavy zones: the exact-kernel cost per candidate is O(n_vertices), so
# the hot cell's post-shuffle task is kernel-bound (the regime salting
# is for); 4-vertex rects measured skew-invisible (kernel ~free, wall
# dominated by the balanced exchange). ~45us/candidate at 2048 verts →
# hot task ~30s unsalted at 4M pages: signal >> the host's 1.7x drift.
POLY_VERTICES = int(os.environ.get("SKEW_BENCH_POLY_VERTICES", "2048"))
N_POLY_PAGES = int(os.environ.get("SKEW_BENCH_POLY_PAGES", str(N_PAGES // 2)))

# rect family: per-candidate work is one BETWEEN — measures whether the
# hot key stalls the bare SMJ. poly family: the Arrow-batched PIP kernel
# runs in the post-shuffle join stage, so the hot cell's candidates all
# funnel through ONE task's Python worker — the regime salting is for.
CONFIGS = {
    "unsalted_aqe_off": {"salted": False, "aqe": False},
    "salted_aqe_off": {"salted": True, "aqe": False},
    "unsalted_aqe_on": {"salted": False, "aqe": True},
    "salted_aqe_on": {"salted": True, "aqe": True},
    "broadcast": {"salted": False, "aqe": True, "broadcast": True},
    "poly_unsalted_aqe_off": {"salted": False, "aqe": False, "poly": True},
    "poly_salted_aqe_off": {"salted": True, "aqe": False, "poly": True},
    "poly_unsalted_aqe_on": {"salted": False, "aqe": True, "poly": True},
    # AQE with the skew thresholds tuned down to sandbox bytes — tests
    # whether byte-proxy splitting can stand in for salting on
    # compute-skewed (Python-kernel) partitions
    "poly_unsalted_aqe_tuned": {
        "salted": False, "aqe": True, "poly": True, "aqe_tuned": True,
    },
    "poly_salted_aqe_on": {"salted": True, "aqe": True, "poly": True},
    "poly_broadcast": {"salted": False, "aqe": True, "broadcast": True, "poly": True},
}


def _spread_hot(pts):
    """Spread the (500,500) 1x1 hotspot over its FULL level-5 cell
    [480,512)^2 — same hot cell, same 20% candidate share, but full
    per-candidate kernel cost. A 1-unit-tall hotspot lets the ring
    crossing-number kernel short-circuit ~97% of the 2048 edges (only
    edges whose y-span straddles the band do real work), making hot
    candidates ~10x cheaper per row and hiding the very skew being
    measured (first run of this script: tail_ratio only 1.76)."""
    from pyspark.sql import functions as F

    # flag first: a chained when() would re-evaluate the condition
    # against the already-remapped x when computing y
    pts = pts.withColumn(
        "_hot",
        (F.col("x") >= 500.0) & (F.col("x") < 501.0)
        & (F.col("y") >= 500.0) & (F.col("y") < 501.01),
    )
    pts = pts.withColumn(
        "x",
        F.when(F.col("_hot"), 480.0 + (F.col("x") - 500.0) * 32.0).otherwise(
            F.col("x")
        ),
    )
    return pts.withColumn(
        "y",
        F.when(F.col("_hot"), 480.0 + (F.col("y") - 500.0) * 31.0).otherwise(
            F.col("y")
        ),
    ).drop("_hot")


def _poly_zones(spark):
    from pygeoops_spark.corpus.pages import synth_poly_zones

    return synth_poly_zones(spark, n_vertices=POLY_VERTICES)


def _points(spark, n_pages: int):
    """Materialize the corpus to parquet once and read it back: joining
    directly on generated expressions made the join-key isnotnull
    filter re-expand the whole synthesis CASE arithmetic several times
    per row (measured +15us/row on the salted key, a 2.6x phantom
    'salting cost'); production inputs are parquet columns."""
    path = f"/tmp/skew_bench_pages_{n_pages}.parquet"
    if not os.path.isdir(path):
        from pygeoops_spark.corpus.pages import synth_pages

        _spread_hot(synth_pages(spark, n_pages).select("url", "x", "y")) \
            .write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _join(spark, n_pages: int, salted: bool, broadcast: bool, poly: bool = False):
    from pygeoops_spark.corpus.pages import synth_zones
    from pygeoops_spark.join.pip import pip_join_polygons, pip_join_rects

    # salt_key default (numeric x*7919+y): a string key (url) measured
    # +3s/task of map-side hash/materialization cost — the salt only
    # needs to decorrelate points within a cell
    pts = _points(spark, n_pages)
    n_salt = N_SALT if salted else 1
    if poly:
        out = pip_join_polygons(
            pts, _poly_zones(spark), level=LEVEL, n_salt=n_salt,
            broadcast_zones=broadcast,
        )
    else:
        out = pip_join_rects(
            pts, synth_zones(spark), level=LEVEL, n_salt=n_salt,
            broadcast_zones=broadcast,
        )
    return out.select("url", "zone_id")


UI_PORT = 4055


def _task_tail_stats() -> dict:
    """Max vs median task duration of the heaviest completed stage
    (the post-shuffle join+kernel stage) via the Spark status REST API
    — direct evidence of whether the hot key stalls one task."""
    import urllib.request

    def _get(path):
        with urllib.request.urlopen(
            f"http://localhost:{UI_PORT}/api/v1/{path}", timeout=10
        ) as r:
            return json.load(r)

    try:
        app_id = _get("applications")[0]["id"]
        stages = _get(f"applications/{app_id}/stages?status=complete")
        summaries = []
        for s in stages:
            if s.get("numCompleteTasks", 0) < 8:
                continue  # skip driver-side / tiny stages
            q = _get(
                f"applications/{app_id}/stages/{s['stageId']}/"
                f"{s.get('attemptId', 0)}/taskSummary?quantiles=0.5,1.0"
            )
            p50, mx = q["executorRunTime"]
            summaries.append((mx, p50, s))
        # the stage with the slowest single task across the whole run
        # is where a skewed key stalls (one such join stage per rep)
        mx, p50, best = max(summaries, key=lambda t: t[0])
        return {
            "kernel_stage_tasks": best.get("numCompleteTasks"),
            "task_p50_ms": round(p50, 1),
            "task_max_ms": round(mx, 1),
            "tail_ratio": round(mx / p50, 2) if p50 else None,
        }
    except Exception as e:  # UI scrape is best-effort evidence
        return {"task_stats_err": repr(e)[:200]}


def _worker(name: str) -> None:
    cfg = CONFIGS[name]
    from pygeoops_spark.session import get_spark

    aqe = "true" if cfg["aqe"] else "false"
    spark = get_spark(
        f"skew-{name}",
        master=f"local[{CPUS}]",
        shuffle_partitions=2 * CPUS,
        extra_conf={
            # force the shuffle plan: the tiny zones side must not be
            # auto-broadcast or the skew never reaches an exchange
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": aqe,
            "spark.sql.adaptive.coalescePartitions.enabled": aqe,
            "spark.sql.adaptive.skewJoin.enabled": aqe,
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            **(
                {
                    # sandbox-sized byte thresholds (defaults: 256MB
                    # threshold / 5x factor / 64MB advisory — all blind
                    # to a ~20MB partition that costs 30s of Python
                    # kernel): can AQE split it when bytes are a fair
                    # proxy for rows?
                    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2m",
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
                    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
                }
                if cfg.get("aqe_tuned")
                else {}
            ),
        },
    )
    broadcast = bool(cfg.get("broadcast", False))
    poly = bool(cfg.get("poly", False))
    n = N_POLY_PAGES if poly else N_PAGES
    # warmup at 1/16 scale: codegen + shuffle machinery + python workers
    _join(spark, n // 16, cfg["salted"], broadcast, poly).count()
    reps = []
    rows = 0
    for _ in range(3):
        t0 = time.time()
        rows = _join(spark, n, cfg["salted"], broadcast, poly).count()
        reps.append(time.time() - t0)
    stats = _task_tail_stats()
    spark.stop()
    print(
        "SKEWJSON "
        + json.dumps(
            {
                "config": name,
                "sec": round(statistics.median(reps), 3),
                "reps": [round(r, 3) for r in reps],
                "rows_out": rows,
                **stats,
            }
        )
    )


def _equality_worker() -> None:
    """Salted (shuffle) output == unsalted (broadcast) output, full N,
    for both the rect and the polygon join."""
    from pygeoops_spark.session import get_spark

    spark = get_spark(
        "skew-eq", master=f"local[{CPUS}]", shuffle_partitions=2 * CPUS
    )
    rec = {"config": "equality"}
    for fam, poly in (("rect", False), ("poly", True)):
        n = N_POLY_PAGES if poly else N_PAGES
        a = _join(spark, n, salted=True, broadcast=False, poly=poly)
        b = _join(spark, n, salted=False, broadcast=True, poly=poly)
        rec[f"{fam}_extra"] = a.exceptAll(b).count()
        rec[f"{fam}_missing"] = b.exceptAll(a).count()
    spark.stop()
    print("SKEWJSON " + json.dumps(rec))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        if sys.argv[2] == "equality":
            _equality_worker()
        else:
            _worker(sys.argv[2])
        return

    sys.path.insert(0, REPO)
    from bench import _cpu_probe_ms  # single-thread drift probe

    results: dict[str, dict] = {}
    probes: dict[str, float] = {}
    for name in list(CONFIGS) + ["equality"]:
        probes[name] = _cpu_probe_ms()
        load = os.getloadavg()[0]
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", name],
            capture_output=True, text=True, cwd=REPO, timeout=1200,
        )
        line = next(
            (l for l in proc.stdout.splitlines() if l.startswith("SKEWJSON ")), None
        )
        if line is None:
            sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
            raise SystemExit(f"worker {name} produced no result")
        rec = json.loads(line[len("SKEWJSON "):])
        rec["loadavg_before"] = round(load, 2)
        results[name] = rec
        print(json.dumps(rec))

    eq = results.pop("equality")
    base_r = results["unsalted_aqe_off"]["sec"]
    base_p = results["poly_unsalted_aqe_off"]["sec"]
    out = {
        "task": "VERDICT r05 #4 — salted vs unsalted PIP join under the 20% hotspot",
        "n_pages": N_PAGES,
        "n_poly_pages": N_POLY_PAGES,
        "poly_vertices": POLY_VERTICES,
        "cpus": CPUS,
        "level": LEVEL,
        "n_salt": N_SALT,
        "shuffle_partitions": 2 * CPUS,
        "hot_fraction": 0.2,
        "configs": results,
        "rect_speedup_vs_unsalted_aqe_off": {
            k: round(base_r / v["sec"], 3)
            for k, v in results.items()
            if not k.startswith("poly_")
        },
        "poly_speedup_vs_unsalted_aqe_off": {
            k: round(base_p / v["sec"], 3)
            for k, v in results.items()
            if k.startswith("poly_")
        },
        "equality": {
            **eq,
            "equal": all(
                v == 0
                for k, v in eq.items()
                if k.endswith("_extra") or k.endswith("_missing")
            ),
        },
        "probe_ms": probes,
        "note": (
            "each config = fresh JVM subprocess, warmup + median of 3; "
            "points materialized to parquet before timing (joining on "
            "generated expressions re-expands the synthesis arithmetic "
            "inside the join-key isnotnull filter — a phantom per-row "
            "cost on the bigger salted key); "
            "autoBroadcastJoinThreshold=-1 in shuffle configs so the SMJ "
            "plan is actually exercised; 'broadcast' rows are the engine's "
            "default plan for reference. rect family: per-candidate work "
            "is one BETWEEN (skew absorbed by the balanced exchange); "
            "poly family: 2048-vertex zones via the prepared-broadcast "
            "ship mode (only zone_id rides the rows) — the Arrow PIP "
            "kernel runs post-shuffle, so the hot cell's ~20% of all "
            "candidates serializes through one task's Python worker "
            "unless salted. The hotspot is spread over its full level-5 "
            "cell (see _spread_hot) so hot candidates cost the same per "
            "row as the rest. aqe_tuned = byte thresholds lowered to "
            "sandbox scale (2m/1m/2x), testing bytes as a proxy for "
            "Python-kernel compute skew"
        ),
    }
    path = os.path.join(REPO, "BENCH", "skew_salted_r06.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
