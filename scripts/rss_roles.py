"""Peak resident memory of a command's process tree, split by role.

    python scripts/rss_roles.py -- python3 perfbench/run.py --workload text_dedup --trace 0
    python scripts/rss_roles.py --jcmd 20:System.trim_native_heap --jcmd 40:VM.flags -- ...
    JAVA_TOOL_OPTIONS=-XX:NativeMemoryTracking=summary \\
        python scripts/rss_roles.py --jcmd "30:VM.native_memory summary" -- ...

Runs the command, samples the resident set of every process below it
from /proc every ``--interval`` seconds, and splits each sample by depth
under the command's own process, as perfbench's ``TreeRSS`` splits CPU:

- ``driver``: the command's process (the PySpark driver);
- ``jvm``: its children (the driver JVM that PySpark launches);
- ``workers``: everything below them (the Python daemon and workers).

The peak is the highest total held over two samples in a row (a child
that the JVM forks shares the JVM's pages until it execs, and a single
sample taken then counts them twice), reported with the role split of
the lower of those two samples, so the roles sum to the peak.  Each
role's own two-sample peak is reported too.

``--jcmd SECONDS:COMMAND`` runs ``jcmd <jvm pid> COMMAND`` with the
JVM's own JDK that many seconds after the command started, and keeps
its output.  ``VM.native_memory summary`` needs native memory tracking
on in the JVM (``JAVA_TOOL_OPTIONS`` above reaches it through every
launcher).

The command's stdout and stderr pass through; the report is one JSON
line printed to stdout after the command exits, and also written to
``--out`` if given.  The exit status is the command's.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROLES = ("driver", "jvm", "workers")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def tree_rss(root: int) -> dict[int, tuple[str, int, str]]:
    """{pid: (role, resident KB, command name)} of ``root`` and every
    process below it."""
    parent: dict[int, int] = {}
    info: dict[int, tuple[int, str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except OSError:
            continue
        fields = tail.split()
        parent[int(d)] = int(fields[1])
        info[int(d)] = (int(fields[21]) * _PAGE_KB, head.split("(", 1)[1])
    out = {}
    for pid, (kb, comm) in info.items():
        p, depth = pid, 0
        while p > 1 and p != root:
            p = parent.get(p, 0)
            depth += 1
        if p == root:
            out[pid] = (ROLES[min(depth, 2)], kb, comm)
    return out


def _jvm_pid(procs: dict[int, tuple[str, int, str]]) -> int | None:
    jvms = (pid for pid, (role, _, comm) in procs.items() if role == "jvm" and comm == "java")
    return next(jvms, None)


def _jcmd(pid: int, command: str) -> str:
    jdk_bin = os.path.dirname(os.path.realpath(f"/proc/{pid}/exe"))
    run = subprocess.run(
        [os.path.join(jdk_bin, "jcmd"), str(pid), *command.split()],
        capture_output=True, text=True, timeout=60,
    )
    return (run.stdout + run.stderr).strip()


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--interval", type=float, default=0.1, help="seconds between samples")
    ap.add_argument("--jcmd", action="append", default=[], metavar="SECONDS:COMMAND")
    ap.add_argument("--out", help="also write the JSON report here")
    ap.add_argument("command", nargs=argparse.REMAINDER)
    args = ap.parse_args()
    command = args.command[1:] if args.command[:1] == ["--"] else args.command
    if not command:
        ap.error("no command given")
    pending = sorted((float(t), c) for t, c in (s.split(":", 1) for s in args.jcmd))

    t0 = time.monotonic()
    proc = subprocess.Popen(command)
    peak = {"total": 0, **dict.fromkeys(ROLES, 0)}
    split_at_peak = dict.fromkeys(ROLES, 0)
    last = {"total": 0, **dict.fromkeys(ROLES, 0)}
    jcmd_log = []
    while proc.poll() is None:
        procs = tree_rss(proc.pid)
        now = {r: sum(kb for role, kb, _ in procs.values() if role == r) for r in ROLES}
        now["total"] = sum(now.values())
        if min(now["total"], last["total"]) > peak["total"]:
            split_at_peak = {r: (now if now["total"] <= last["total"] else last)[r] for r in ROLES}
        for k in peak:
            peak[k] = max(peak[k], min(now[k], last[k]))
        last = now
        elapsed = time.monotonic() - t0
        while pending and pending[0][0] <= elapsed:
            cmd = pending.pop(0)[1]
            pid = _jvm_pid(procs)
            out = _jcmd(pid, cmd) if pid else "no JVM below the command"
            jcmd_log.append({"at_s": round(elapsed, 1), "command": cmd, "output": out})
        time.sleep(args.interval)
    mb = 1 / 1024.0
    report = {
        "command": command,
        "exit": proc.returncode,
        "wall_s": round(time.monotonic() - t0, 1),
        "peak_mb": round(peak["total"] * mb, 1),
        "peak_split_mb": {r: round(split_at_peak[r] * mb, 1) for r in ROLES},
        "role_peak_mb": {r: round(peak[r] * mb, 1) for r in ROLES},
        "jcmd": jcmd_log,
    }
    line = json.dumps(report, sort_keys=True)
    print(line, flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
