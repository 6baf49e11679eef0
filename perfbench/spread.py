#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

Usage: python3 perfbench/spread.py <workload> <first-seed> <count> [out.json]

Runs `perfbench/run.py` once per seed (first-seed, first-seed+1, ...), one
after another, and prints for each end-to-end metric the median and the
distance between the first and third quartiles (statistics.quantiles, n=4)
as a share of the median, beside the metric's bound in BENCHMARK.json.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    workload, first, count = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    runs = []
    for seed in range(first, first + count):
        t0 = time.time()
        out = subprocess.run(
            ["python3", os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
        res = json.loads(lines[-1])
        res["seed"], res["wall_s"] = seed, round(wall, 1)
        runs.append(res)
        print(json.dumps({"seed": seed, "wall_s": res["wall_s"], "correct": res["correct"],
                          "attempted": res["attempted"], "failed": res["failed"],
                          **{k: round(v["value"], 4) for k, v in res["metrics"].items()}}),
              flush=True)
    summary = {}
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        summary[m["name"]] = {"median": med, "spread": (q3 - q1) / med, "bound": m["bound"]}
        print(f"{m['name']:14s} median {med:12.4f}  spread {(q3 - q1) / med:6.3f}  "
              f"bound {m['bound']}  {'ok' if (q3 - q1) / med < m['bound'] / 3 else 'WIDE'}")
    walls = [r["wall_s"] for r in runs]
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s; "
          f"failed/attempted: {sorted({(r['failed'], r['attempted']) for r in runs})}")
    if len(sys.argv) > 4:
        with open(sys.argv[4], "w") as fh:
            json.dump({"workload": workload, "runs": runs, "summary": summary}, fh, indent=1)


if __name__ == "__main__":
    main()
