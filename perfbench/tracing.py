"""Spans, counters, process-tree memory and Spark event-log attribution.

``Tracer`` records spans (name, start, end, parent; spans of one request
share a request id) and counters in memory; ``dump`` writes them once, at
the end of a run. A disabled tracer records nothing, so the untraced run
pays one attribute test per span.

The event-log reader follows the stage attribution of
``scripts/wave_profile.py``: per-stage task metrics and submission /
completion times from ``SparkListenerStageCompleted`` and
``SparkListenerTaskEnd``, tied to callers by Spark job group.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self._req = 0

    def new_request(self) -> int:
        self._req += 1
        return self._req

    @contextmanager
    def span(self, name: str, req: int = 0):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        rec = {"name": name, "req": req, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + n

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counters": self.counters}, fh)


# -- process-tree memory ---------------------------------------------

def _tree_bytes(root: int) -> int:
    """Resident memory of ``root`` and its descendants. Python processes
    count their proportional set size (each shared page split between
    the processes sharing it, so forked Spark workers do not count their
    parent's pages again); the JVM, which shares nothing with them,
    counts its resident set, read from ``statm`` because walking a
    2 GB heap's page tables for ``smaps_rollup`` would slow the run."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        try:
            with open(f"/proc/{pid}/comm") as fh:
                java = fh.read().strip() == "java"
            if java:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * page
            else:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next(int(ln.split()[1]) for ln in fh
                                  if ln.startswith("Pss:")) * 1024
        except (OSError, StopIteration, ValueError, IndexError):
            pass
    return total


class PeakRss:
    """Samples the memory of this process and its descendants (the Spark
    JVM and its Python workers, see ``_tree_bytes``) every ``period``
    seconds; ``peak`` is the largest sample, in bytes."""

    def __init__(self, period: float = 0.25):
        self.peak = 0
        self._stop = threading.Event()
        self._thr = threading.Thread(target=self._run, args=(period,),
                                     daemon=True)

    def _run(self, period: float) -> None:
        while True:
            self.peak = max(self.peak, _tree_bytes(os.getpid()))
            if self._stop.wait(period):
                return

    def __enter__(self):
        self._thr.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thr.join()


# -- Spark event log -----------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def read_event_log(evdir: str) -> dict:
    """Job groups, per-stage intervals and per-stage task totals from the
    uncompressed event log(s) under ``evdir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    paths = [p for p in glob.glob(os.path.join(evdir, "**", "*"),
                                  recursive=True)
             if os.path.isfile(p) and "appstatus" not in os.path.basename(p)]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "stages": ev.get("Stage IDs", [])}
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    st = stages.setdefault(si["Stage ID"], _new_stage())
                    st["sub"] = si.get("Submission Time")
                    st["comp"] = si.get("Completion Time")
                    for acc in si.get("Accumulables", []):
                        name = acc.get("Name")
                        if name in (PY_SENT, PY_RECV):
                            st["py_bytes"] += _num(acc.get("Value"))
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    tm = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["run_ms"] += tm.get("Executor Run Time", 0)
                    st["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    im = tm.get("Input Metrics") or {}
                    st["in_rows"] += im.get("Records Read", 0)
                    st["in_bytes"] += im.get("Bytes Read", 0)
                    om = tm.get("Output Metrics") or {}
                    st["out_bytes"] += om.get("Bytes Written", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st["sh_write"] += sw.get("Shuffle Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["sh_read"] += (sr.get("Local Bytes Read", 0)
                                      + sr.get("Remote Bytes Read", 0))
                    st["spill"] += tm.get("Disk Bytes Spilled", 0)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"sub": None, "comp": None, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
            "in_rows": 0, "in_bytes": 0, "out_bytes": 0, "sh_write": 0,
            "sh_read": 0, "spill": 0, "py_bytes": 0}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def group_stages(log: dict, group: str) -> list[dict]:
    ids = sorted({s for j in log["jobs"].values() if j["group"] == group
                  for s in j["stages"]})
    return [log["stages"][s] for s in ids
            if s in log["stages"] and log["stages"][s]["sub"]]


def union_s(stages: list[dict]) -> float:
    """Length of the union of the stages' [submission, completion]."""
    spans = sorted((s["sub"], s["comp"]) for s in stages
                   if s["sub"] and s["comp"])
    total, end = 0, None
    for a, b in spans:
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0
