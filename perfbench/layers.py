"""Layer spans for the traced run, and their roll-up into per-layer counters.

Each span runs under a Spark job group named for the layer.  Jobs and the
stages that ran come from the status tracker while the session is alive;
task counts and executor metrics come from the uncompressed event log, which
is complete only after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from contextlib import contextmanager

LAYERS = [
    "html_extract",
    "pipeline.docs",
    "chunking",
    "web_extraction",
    "pipeline.fold",
    "canon",
    "materialize",
    "graph.bfs",
    "graph.components",
    "graph.pagerank",
]

COUNTERS = {
    "jobs": ("count", "lower"),
    "stages": ("count", "lower"),
    "tasks": ("count", "lower"),
    "rows_out": ("count", "higher"),
    "busy_s": ("s", "lower"),
    "executor_run_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "driver_gap_s": ("s", "lower"),
    "shuffle_write_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
    "task_max_over_p50": ("ratio", "lower"),
    "coverage": ("ratio", "higher"),
}

RATIOS = {
    "pipeline.docs.kept_ratio": ("ratio", "higher"),
    "pipeline.fold.relations_kept_ratio": ("ratio", "higher"),
    "materialize.prefiltered_ratio": ("ratio", "higher"),
    "materialize.bytes_written_per_input_byte": ("ratio", "lower"),
    "canon.new_names": ("count", "lower"),
    "batch.jobs": ("count", "lower"),
    "trace.coverage": ("ratio", "higher"),
    "trace.overhead": ("ratio", "lower"),
}


def eventlog_confs(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


class Tracer:
    """Spans (name, start, end, parent) plus status-tracker job/stage sets."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.jobs: dict[str, set[int]] = {}
        self.stages: dict[str, set[int]] = {}
        self.rows: dict[str, int] = {}

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        """Run the body under job group ``name``; the body adds its output
        row count to ``out["rows"]``."""
        self.sc.setJobGroup(name, name)
        out = {"rows": 0}
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append({"name": name, "start": t0, "end": t1, "parent": parent})
            self.rows[name] = self.rows.get(name, 0) + out["rows"]
            self._collect_ids(name)

    def _collect_ids(self, group: str) -> None:
        """Jobs of the group, and the stages of those jobs that ran tasks.
        Skipped stages are left out: whether a stage id is listed, then
        skipped, depends on when concurrent jobs are submitted."""
        st = self.sc.statusTracker()
        jobs = set(st.getJobIdsForGroup(group))
        listed: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                listed.update(info.stageIds)
        self.jobs[group] = jobs
        self.stages[group] = {
            sid for sid in listed
            if (info := st.getStageInfo(sid)) is not None and info.numCompletedTasks > 0
        }

    def self_time(self, name: str) -> float:
        """Span duration minus the part its child spans cover."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            kids = sum(
                c["end"] - c["start"] for c in self.spans
                if c["parent"] == name and c["start"] >= s["start"] and c["end"] <= s["end"]
            )
            total += (s["end"] - s["start"]) - kids
        return total


def read_task_metrics(log_dir: str) -> dict[str, list[dict]]:
    """Job group -> list of per-task metric dicts, from the event log."""
    stage_group: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {}
    files = sorted(  # natural order: a rolled log's events_2_* before events_10_*
        glob.glob(os.path.join(log_dir, "**", "*"), recursive=True),
        key=lambda p: [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", p)],
    )
    for path in files:
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    tasks.setdefault(group, []).append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "dur_ms": info["Finish Time"] - info["Launch Time"],
                    })
    return tasks


def rollup(tracer: Tracer, log_dir: str, cores: int, untraced_op_s: float) -> dict:
    """Per-layer counters for every layer in LAYERS (zeros for layers the
    workload does not run)."""
    tasks = read_task_metrics(log_dir)
    out: dict[str, float] = {}
    for layer in LAYERS:
        ts = tasks.get(layer, [])
        busy = tracer.self_time(layer)
        run_s = sum(t["run_ms"] for t in ts) / 1000.0
        durs = [t["dur_ms"] for t in ts]
        p50 = statistics.median(durs) if durs else 0
        vals = {
            "jobs": len(tracer.jobs.get(layer, ())),
            "stages": len(tracer.stages.get(layer, ())),
            "tasks": len(ts),
            "rows_out": tracer.rows.get(layer, 0),
            "busy_s": busy,
            "executor_run_s": run_s,
            "gc_s": sum(t["gc_ms"] for t in ts) / 1000.0,
            "driver_gap_s": busy - run_s / cores,
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
            "spill_bytes": sum(t["spill"] for t in ts),
            "task_max_over_p50": max(durs) / p50 if p50 else 0.0,
            "coverage": busy / untraced_op_s,
        }
        for k, v in vals.items():
            out[f"{layer}.{k}"] = v
    return out


def metric_units() -> dict[str, str]:
    units = {f"{l}.{c}": u for l in LAYERS for c, (u, _b) in COUNTERS.items()}
    units.update({k: u for k, (u, _b) in RATIOS.items()})
    return units
