"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread (Q3 - Q1, as a share of the median).

    python3 perfbench/spread.py --workload crawl_job --seeds 1-10

Runs one seed at a time, from the root of a checkout, with the
``run_seconds`` of ``BENCHMARK.json``; prints one JSON line per run and
a summary line per metric, comparing each spread with its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="range, e.g. 1-10")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload,
                                  "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", "0"]
        began = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - began
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        print(json.dumps({"seed": seed, "run_wall_s": round(wall, 1),
                          **result}), flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        print(json.dumps({"metric": name, "runs": len(xs), "median": med,
                          "spread": round(spread, 4),
                          "bound": bounds.get(name),
                          "within_third": spread < bounds.get(name, 0) / 3}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
