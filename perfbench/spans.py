"""Spans around layer calls, the Spark event-log reader, and the
process-tree memory sampler.

A span names one call into a layer (``join.pip_join_polygons``) or
the action that follows it (``join.pip_join_polygons.action``).  While
tracing, each span runs under its own Spark job group, so the event log
attributes every job, stage and task to the span that started it.
Spans are kept in memory and read out when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records the spans of the op numbered ``op``.  With ``enabled``
    false a span records nothing (the untraced ops of a traced run)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.enabled = False
        self.op = 0
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        group = f"pb-{self.op}-{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
            self.sc.setJobGroup("pb-idle", "between spans")
            self.spans.append(
                {"op": self.op, "name": name, "group": group, "t0": t0, "t1": t1, "jobs": len(jobs)}
            )


# -- event log -------------------------------------------------------------
_SQL = "org.apache.spark.sql.execution.ui."


def walk(node: dict):
    """Every node of a plan tree, depth first."""
    yield node
    for c in node.get("children", []):
        yield from walk(c)


class EventLog:
    """Per job group totals from one uncompressed Spark event log.

    ``groups[g]`` holds jobs, stages, tasks, run/cpu/gc seconds, shuffle
    write and spill bytes, per-stage run time and the job intervals.
    ``plans`` maps each SQL execution of a group to its final physical
    plan, and ``acc`` holds every SQL metric's total over all tasks, so
    plan nodes can be read with ``metric``."""

    def __init__(self, path: str) -> None:
        self.groups: dict[str, dict] = defaultdict(
            lambda: {
                "jobs": 0, "stages": set(), "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                "gc_s": 0.0, "shuffle_write_b": 0, "spill_b": 0, "intervals": {},
                "stage_run_s": defaultdict(float), "executions": set(),
            }
        )
        self.acc: dict[int, float] = defaultdict(float)
        self.plans: dict[int, dict] = {}
        stage_group: dict[int, str] = {}
        job_group: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if g is None:
                        continue
                    rec = self.groups[g]
                    rec["jobs"] += 1
                    rec["intervals"][ev["Job ID"]] = [ev["Submission Time"] / 1000.0, None]
                    if props.get("spark.sql.execution.id") is not None:
                        rec["executions"].add(int(props["spark.sql.execution.id"]))
                    job_group[ev["Job ID"]] = g
                    for s in ev["Stage IDs"]:
                        stage_group.setdefault(s, g)
                elif kind == "SparkListenerJobEnd":
                    g = job_group.get(ev["Job ID"])
                    if g is not None:
                        self.groups[g]["intervals"][ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if a.get("Metadata") == "sql" and "Update" in a:
                            try:
                                self.acc[a["ID"]] += float(a["Update"])
                            except (TypeError, ValueError):
                                pass
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    rec = self.groups[g]
                    m = ev.get("Task Metrics") or {}
                    run = m.get("Executor Run Time", 0) / 1000.0
                    rec["stages"].add(ev["Stage ID"])
                    rec["tasks"] += 1
                    rec["run_s"] += run
                    rec["stage_run_s"][ev["Stage ID"]] += run
                    rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    rec["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    rec["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                              _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    self.plans[ev["executionId"]] = ev["sparkPlanInfo"]
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc_id, v in ev["accumUpdates"]:
                        self.acc[acc_id] += float(v)

    def total(self, groups: list[str]) -> dict:
        out = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        for g in groups:
            r = self.groups.get(g)
            if r is None:
                continue
            out["jobs"] += r["jobs"]
            out["stages"] += len(r["stages"])
            out["tasks"] += r["tasks"]
            out["run_s"] += r["run_s"]
            out["cpu_s"] += r["cpu_s"]
            out["gc_s"] += r["gc_s"]
            out["shuffle_write_mb"] += r["shuffle_write_b"] / 1e6
            out["spill_mb"] += r["spill_b"] / 1e6
        return out

    def nodes(self, groups: list[str]):
        """Every node of the final plans of the groups' SQL executions."""
        for g in groups:
            for e in sorted(self.groups[g]["executions"]) if g in self.groups else ():
                if e in self.plans:
                    yield from walk(self.plans[e])

    def metric(self, node: dict, name: str) -> float:
        return sum(self.acc.get(m["accumulatorId"], 0.0) for m in node.get("metrics", []) if m["name"] == name)

    def sql_metric(self, groups: list[str], node: str, name: str) -> float:
        return sum(self.metric(n, name) for n in self.nodes(groups) if n["nodeName"] == node)

    def job_union_s(self, groups: list[str]) -> float:
        """Wall time covered by at least one of the groups' jobs."""
        iv = sorted(
            tuple(v) for g in groups if g in self.groups
            for v in self.groups[g]["intervals"].values() if v[1] is not None
        )
        covered, end = 0.0, float("-inf")
        for a, b in iv:
            if b <= end:
                continue
            covered += b - max(a, end)
            end = b
        return covered


def event_log_file(directory: str) -> str:
    files = [os.path.join(directory, f) for f in os.listdir(directory)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {len(files)}")
    return files[0]


# -- memory ----------------------------------------------------------------
class TreeRSS:
    """Samples the summed resident set of this process and all its
    descendants (driver Python, the JVM, Python workers) from /proc, and
    reads their summed CPU time on demand.

    ``peak_kb`` is the highest resident set held over two samples in a
    row, ``spike_kb`` the highest single sample.  A process the JVM
    spawns shares the JVM's pages until it execs, and a sample taken in
    that moment counts them twice: one such sample read 5.7 GB in a run
    whose tree held 3.5 GB."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_kb = 0
        self.spike_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        self._hz = os.sysconf("SC_CLK_TCK")

    def __enter__(self) -> "TreeRSS":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def sample(self) -> tuple[int, float]:
        """(resident KB, CPU seconds incl. reaped children) of the tree."""
        kb, cpu = 0, 0.0
        for k, c in self.by_role().values():
            kb += k
            cpu += c
        return kb, cpu

    def by_role(self) -> dict[str, tuple[int, float]]:
        """(resident KB, CPU seconds) of this process ("driver"), its
        children (the JVM, "jvm") and everything below them (the Python
        workers, "workers")."""
        me = os.getpid()
        parent: dict[int, int] = {}
        usage: dict[int, tuple[int, float]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(d)] = int(fields[1])
            ticks = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
            usage[int(d)] = (int(fields[21]) * self._page_kb, ticks / self._hz)
        out = {"driver": [0, 0.0], "jvm": [0, 0.0], "workers": [0, 0.0]}
        for pid, (k, c) in usage.items():
            p, depth = pid, 0
            while p > 1 and p != me:
                p = parent.get(p, 0)
                depth += 1
            if p == me:
                role = out[("driver", "jvm", "workers")[min(depth, 2)]]
                role[0] += k
                role[1] += c
        return {r: (k, c) for r, (k, c) in out.items()}

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_kb = self.spike_kb = 0

    def _run(self) -> None:
        last = 0
        while not self._stop.is_set():
            kb = self.sample()[0]
            with self._lock:
                self.peak_kb = max(self.peak_kb, min(kb, last))
                self.spike_kb = max(self.spike_kb, kb)
            last = kb
            self._stop.wait(self.interval)
