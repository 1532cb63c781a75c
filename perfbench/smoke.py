#!/usr/bin/env python3
"""Smoke check of the benchmark itself, on a tiny corpus.

    python3 perfbench/smoke.py

From the repository root, for every workload in BENCHMARK.json, runs an
untraced and a traced run (the first builds the tiny corpus's serving
index under ``.perfbench_work/corpus/``) and asserts that:

- the run exits 0 and its last stdout line is the result object, with
  exactly the declared end-to-end (untraced) or per-layer (traced)
  metrics, each with its declared unit;
- every answer matched the oracle (``correct``, ``failed == 0``), and
  the printed ``error_rate`` is 0;
- each of the workload's named end-to-end lines is printed with a unit.

Then it copies only BENCHMARK.json and the benchmark's own directories
into an empty directory and asserts that a run there exits non-zero
without printing a result. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

DOCS = "600"
SECONDS = "2"
# the end-to-end names each workload prints, beside the generic ones
PRINTED = {
    "serve_spark": ("spark_query_p50_s", "spark_query_tail_s", "spark_qps",
                    "spark_batch_qps"),
    "serve_local": ("local_query_p50_s", "local_query_tail_s", "local_qps",
                    "local_batch_qps", "local_warm_query_p50_s",
                    "local_cold_query_p50_s"),
}
COMMON = ("setup_s", "index_bytes_per_input_byte", "peak_rss_mb",
          "error_rate")


def run(cmd: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=900)


def check_run(spec: dict, workload: str, trace: int) -> None:
    cmd = [*spec["command"], "--workload", workload, "--seed", "7",
           "--seconds", SECONDS, "--trace", str(trace), "--docs", DOCS]
    out = run(cmd, os.getcwd())
    where = f"{workload} trace={trace}"
    assert out.returncode == 0, f"{where}: exit {out.returncode}\n{out.stderr[-3000:]}"
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, \
        f"{where}: {res['failed']} of {res['attempted']} failed\n{out.stderr[-3000:]}"
    want = spec["per_layer"] if trace else spec["end_to_end"]
    got = res["metrics"]
    assert set(got) == {m["name"] for m in want}, \
        f"{where}: metrics {sorted(set(got) ^ {m['name'] for m in want})}"
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"], (where, m)
        assert isinstance(got[m["name"]]["value"], (int, float)), (where, m)
    printed = {ln.split()[0]: ln.split() for ln in lines[:-1] if ln.split()}
    for name in (*COMMON, *PRINTED[workload]):
        assert name in printed and len(printed[name]) >= 3, \
            f"{where}: no '{name} <value> <unit>' line"
    assert float(printed["error_rate"][1]) == 0.0, where
    print(f"ok {where}: {len(got)} metrics, {res['attempted']} checked ops",
          flush=True)


def check_bare(spec: dict) -> None:
    bare = os.path.join(".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    for p in spec["paths"]:
        shutil.copytree(p, os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    w = spec["workloads"][0]["name"]
    out = run([*spec["command"], "--workload", w, "--seed", "1",
               "--seconds", "1", "--trace", "0"], bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert out.returncode != 0, "a bare copy must fail"
    assert '"metrics"' not in out.stdout, "a bare copy must print no result"
    print("ok bare copy exits", out.returncode, flush=True)


def main() -> int:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    check_bare(spec)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_run(spec, w["name"], trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
