#!/usr/bin/env python3
"""Run one workload on several seeds and print, per end-to-end metric, the
median, the quartiles and the quartile spread as a share of the median (the
spread the benchmark's bounds are checked against).

    python3 perfbench/steadiness.py --workload graph_query --seeds 1 10

Run from the repository root.  Runs are sequential; each result line is also
appended to ``--out`` when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs=2, metavar=("FIRST", "LAST"), required=True)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in range(a.seeds[0], a.seeds[1] + 1):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, check=True).stdout
        result = json.loads(out.strip().splitlines()[-1])
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed, **result}) + "\n")
        print(seed, result["correct"], result["attempted"], result["failed"],
              {k: round(v["value"], 3) for k, v in result["metrics"].items()}, flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        print(f"{m['name']:<12} n={len(v)} median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
              f"spread={(q3 - q1) / med:.3f} bound={m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
