#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload serve_local --seeds 1-10

For every metric: the median of the runs and the distance between the
first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of that median, next to the metric's bound from BENCHMARK.json.
Runs one at a time, from the repository root; writes one JSON line per
run to ``.perfbench_work/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in
              spec["end_to_end"] + spec["per_layer"]}
    os.makedirs(".perfbench_work", exist_ok=True)
    log = os.path.join(".perfbench_work", f"spread-{args.workload}.jsonl")
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = [*spec["command"], "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
               "--trace", "0"]
        t0 = time.time()
        out = subprocess.run(cmd, capture_output=True, text=True)
        wall = time.time() - t0
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, "wall_s": wall, **res}) + "\n")
        print(f"seed {seed}: {wall:.1f} s, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
        for m, v in res["metrics"].items():
            values.setdefault(m, []).append(v["value"])
    for m, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{m:40s} median {med:12.6g}  iqr/median {share:7.3f}  "
              f"bound {bounds.get(m)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
