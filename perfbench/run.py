#!/usr/bin/env python3
"""Layered BM25 serving benchmark on the in-repo Zipf corpus.

    python3 perfbench/run.py --workload serve_spark --seed 1 --seconds 15 --trace 0

Run from the repository root, as one process sized to the host's cores.
The first run in a checkout builds the serving corpus (a Zipf corpus,
its index from ``build_index`` and the oracle's tables) under
``.perfbench_work/corpus/``; every run then drives the workload's closed
loop (one client, each call waits for the last) with a mix the seed
picks:

- ``serve_spark``: the mix through ``SearchEngine``, then timed passes
  of a 24-query ``search_many`` batch;
- ``serve_local``: the mix through one warm ``LocalSearcher``, with
  fresh-term requests that miss its resident cache.

Every answer is checked against the DuckDB BM25 twin, and serve_spark's
also bitwise against the resident tier. Human-readable lines come first;
the last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}`` holding the end-to-end metrics (``--trace 0``) or
the per-layer metrics (``--trace 1``). See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("serve_spark", "serve_local")


def host_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    import numpy
    import pyarrow
    import pyspark
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_gb": round(mem_kb / 2**20, 1),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__}


class Bench:
    """A run's arguments, host facts, work dir and operation counts."""

    def __init__(self, args, work: str, host: dict):
        self.args, self.work, self.host = args, work, host
        self.attempted = self.failed = 0

    def say(self, name: str, value, unit: str = "", note: str = "") -> None:
        line = f"{name} {value} {unit}".rstrip()
        print(line + (f"  ({note})" if note else ""), flush=True)

    def fail(self, what: str) -> None:
        self.failed += 1
        if self.failed <= 20:
            print(f"FAILED {what}", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=20_000,
                    help="corpus size (the smoke check uses a tiny one)")
    args = ap.parse_args()

    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["QS_LOCAL_DIR"] = os.path.join(work, "spark-local")
    # no JVM perf-data files in /tmp (spark-submit's launcher JVM too)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Spark's Python workers import the engine (and the probes' UDFs)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, root)
    try:
        import quicker_spark  # noqa: F401
    except ImportError as e:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: cannot import the engine from {root}: {e}",
              file=sys.stderr)
        return 2

    from tracing import PeakRss, Tracer
    import workloads

    host = host_info()
    print("host " + json.dumps(host), flush=True)
    bench = Bench(args, work, host)
    tracer = Tracer(bool(args.trace))
    try:
        cdir, facts = workloads.ensure_corpus(bench)
        with PeakRss() as rss:
            e2e, layers = workloads.run(bench, tracer, cdir, facts)
        if args.trace:
            tracer.dump(os.path.join(root, ".perfbench_work",
                                     f"trace-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    e2e["peak_rss_mb"] = (rss.peak / 2**20, "MB")
    bench.say("peak_rss_mb", round(rss.peak / 2**20, 1), "MB",
              "benchmark process tree")
    metrics = {m: {"value": v, "unit": u}
               for m, (v, u) in (layers if args.trace else e2e).items()}
    ok = bench.failed == 0
    bench.say("error_rate", round(bench.failed / max(1, bench.attempted), 6),
              "ratio", f"{bench.failed} failed of {bench.attempted}")
    print(json.dumps({"correct": ok, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
