#!/usr/bin/env python
"""Bench harness — headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {"q": sec, ...}, "sf": ...}

Execution is forced with the noop sink (``df.write.format("noop")``) so every
query pays its full scan/shuffle/UDF cost but nothing is collected to the
driver — the same discipline a cluster job would have.

Headline set: the register rows of ``__spark_entry__`` flagged
``headline`` — the flagship KG construction chain (documents corpus + the
synthetic web_pages corpus end-to-end) plus the heaviest dedup / similarity /
rollup operators.  A separate scaling run (``--scaling``) executes the
flagship pipeline at local[8] and local[32] and reports N→4N scaling
efficiency (recorded in BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.0


def _force(df) -> int:
    """Execute the full plan without driver materialization."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def run_bench(sf_dir: str, cpus: str) -> dict:
    from kgspark import cache
    from kgspark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark(app_name="kgspark-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    # reps >= 5 so the artifact carries its own noise bar: this VM has
    # time-varying noisy-neighbor interference (identical configs swing
    # 1.2-1.5x run-to-run — see BENCH/BASELINE.md r4 drift analysis).
    # Rep 0 pays JIT/codegen for that plan shape and is ALWAYS the max,
    # so it is a discarded warmup — stats over it would measure warmup,
    # not noise.  Over the warm reps we report median (the headline),
    # min (steady state), and spread (max/min) per query so every
    # BENCH_r*.json can be read against its own dispersion instead of a
    # guessed envelope.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))

    def _timed_reps(make_df) -> list[float]:
        walls = []
        for _ in range(reps):
            # full cost per rep: drop the memoized web build + all cached
            # RDDs so a rep never times a fold-from-cache shortcut.
            cache.clear()
            spark.catalog.clearCache()
            df = make_df()
            t0 = time.perf_counter()
            _force(df)
            walls.append(time.perf_counter() - t0)
        # drop the JIT warmup rep (keep it when reps == 1)
        return walls[1:] if len(walls) > 1 else walls

    # Constant-work Catalyst-only calibration probe: pure JVM range-sum,
    # no input data, no Python, no shuffle of consequence.  Its timing is
    # a per-run measurement of the box's noise level — if the probe's
    # spread is 1.4x, a 1.4x swing on a code-unchanged query is noise.
    cal_walls = _timed_reps(
        lambda: spark.range(500_000_000).agg({"id": "sum"})
    )

    timings: dict[str, float] = {}
    mins: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for q in entry.REGISTER:
        if not q.headline:
            continue
        walls = _timed_reps(lambda: q.build(spark, sf_dir))
        timings[q.name] = round(statistics.median(walls), 3)
        mins[q.name] = round(min(walls), 3)
        spreads[q.name] = round(max(walls) / max(min(walls), 1e-9), 2)
    total = round(sum(timings.values()), 3)
    spark.stop()
    return {
        "metric": "kgspark_headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min": mins,
        "queries_spread": spreads,
        "calibration": {
            "probe": "range(5e8).sum()",
            "median": round(statistics.median(cal_walls), 3),
            "min": round(min(cal_walls), 3),
            "spread": round(max(cal_walls) / max(min(cal_walls), 1e-9), 2),
        },
        "reps": reps,
        "sf": _sf_from_dir(sf_dir),
    }


def main() -> None:
    if "--scaling" in sys.argv:
        # Scaling-efficiency evidence: same flagship job at two parallelism
        # levels in separate processes (fresh JVM each) — see bench_scaling.py.
        from bench_scaling import main as scaling_main

        scaling_main()
        return
    print(json.dumps(run_bench(SF_DIR, CPUS)))


if __name__ == "__main__":
    main()
