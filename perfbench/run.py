#!/usr/bin/env python3
"""kg-spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload bulk_build|graph_query \
        --seed N --seconds S --trace 0|1

Run from the repository root.  This process supervises: it makes a work
directory inside the checkout, starts ``driver.py`` (the only Spark driver)
with a pinned environment, samples the resident memory of the whole process
tree (driver Python, JVM, Python workers) from /proc, and after the driver
exits waits for, or kills, every process left in the tree and removes the
work directory.  The last stdout line is the result JSON; ``--trace 0``
reports the end-to-end metrics (``peak_rss_mb`` is the tree's peak during
the timed phase), ``--trace 1`` the per-layer ones.

Workloads, inputs, checks and timing rules are described in ``driver.py``;
``steadiness.py`` runs a workload on several seeds and prints the spreads.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170.0  # the driver is killed after this; a run must end in 180 s
DRIVER_MEM = "2g"   # JVM heap (also the initial heap); the tree peaks near 3.5 GB
PR_SET_CHILD_SUBREAPER = 36


def _ppid_map() -> dict[int, int]:
    """pid -> parent pid of every live (not zombie) process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z":
            out[int(d)] = int(fields[1])
    return out


def descendants(pid: int, ppids: dict[int, int]) -> list[int]:
    """Descendants of ``pid``, each after its parent."""
    kids: dict[int, list[int]] = {}
    for p, pp in ppids.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_rss(pid: int) -> dict[str, list[int]]:
    """RSS bytes of every descendant, as {kind: [processes, bytes]} with kind
    one of java, python_worker (the pyspark daemon and its workers), python.

    A JVM child that still runs the JVM's command line is between fork and
    exec (Hadoop's local file system shells out to chmod; the JDK spawns via
    vfork) and shares the JVM's pages, so it is not counted again."""
    page = os.sysconf("SC_PAGE_SIZE")
    parent = _ppid_map()
    cmds: dict[int, bytes] = {}
    out: dict[str, list[int]] = {}
    for p in descendants(pid, parent):
        try:
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = cmds[p] = f.read()
        except OSError:
            continue
        if b"java" in cmd and cmds.get(parent.get(p)) == cmd:
            continue
        kind = ("java" if b"java" in cmd
                else "python_worker" if b"pyspark.daemon" in cmd else "python")
        agg = out.setdefault(kind, [0, 0])
        agg[0] += 1
        agg[1] += rss
    return out


class RssSampler(threading.Thread):
    """Peak tree RSS and its make-up, kept apart for set-up and for the timed
    phase (while the driver's ``timed`` marker file exists)."""

    def __init__(self, marker: str, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.marker, self.period_s = marker, period_s
        self.peak = {"setup": 0, "timed": 0}
        self.at_peak: dict[str, dict] = {}
        self.done = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self.done.wait(self.period_s):
            phase = "timed" if os.path.exists(self.marker) else "setup"
            parts = tree_rss(me)
            total = sum(b for _n, b in parts.values())
            if total > self.peak[phase]:
                self.peak[phase], self.at_peak[phase] = total, parts


def reap_tree(grace_s: float = 30.0) -> None:
    """Wait for every descendant to end (orphans re-parent to this process,
    a child subreaper), then kill what is left, and reap them all."""
    me = os.getpid()
    end = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = descendants(me, _ppid_map())
        if not left:
            return
        if time.monotonic() > end:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            end = time.monotonic() + 5.0
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["bulk_build", "graph_query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "kgspark", "__init__.py")):
        print(f"perfbench: no kgspark/ package under {ROOT}", file=sys.stderr)
        return 2
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("perfbench: cannot become a child subreaper", file=sys.stderr)
        return 2

    work = tempfile.mkdtemp(prefix=".perfbench-work-", dir=ROOT)
    sampler = RssSampler(os.path.join(work, "timed"))
    try:
        os.makedirs(os.path.join(work, "tmp"))
        env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            PYSPARK_PYTHON=sys.executable,
            SPARK_LOCAL_DIRS=os.path.join(work, "local"),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            TMPDIR=os.path.join(work, "tmp"),
            # every JVM (launcher and driver): temp files in the work dir,
            # no hsperfdata file under /tmp
            JAVA_TOOL_OPTIONS="-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        )
        cmd = [
            sys.executable, os.path.join(HERE, "driver.py"), "--root", ROOT,
            "--workdir", work, "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
        ]
        sampler.start()
        proc = subprocess.Popen(cmd, env=env, cwd=work, stdout=subprocess.PIPE, text=True)
        try:
            out, _ = proc.communicate(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            print(f"perfbench: driver exceeded {DEADLINE_S:.0f} s", file=sys.stderr)
            return 1
        finally:
            reap_tree()
            sampler.done.set()
            sampler.join()
        lines = out.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: driver exited with {proc.returncode}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        if not a.trace:
            peak = sampler.peak["timed"]
            result["metrics"]["peak_rss_mb"] = {"value": peak / 1e6, "unit": "MB"}
        print(json.dumps({"peak_rss_mb": {
            phase: {"total": total / 1e6, **{
                kind: {"processes": n, "mb": b / 1e6}
                for kind, (n, b) in sampler.at_peak.get(phase, {}).items()
            }} for phase, total in sampler.peak.items()
        }}))
        for line in lines[:-1]:
            print(line)
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
