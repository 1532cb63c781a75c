"""Set-up, the two closed-loop workloads, their checks, and the traced
run's layer probes.

Each public call into the engine is wrapped here, in the benchmark's own
code: spans name the module whose function is called (``plans``,
``engine``, ``serving``, ``kernels``, ``build``, ``maintain``).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import time

from mix import (BATCH_SIZE, FIELD, Mix, build_tree, key, read_words,
                 search_args)
from oracle import K, Twin

SETUP_REPS = 5
CORPUS_START = 1_000_000
# docs of the fresh build a traced run times for the build layer
TRACE_BUILD_DOCS = 5_000
# Fresh-term requests per 13-slot round. An assumption, not a measured
# share (the repository has no query log): enough misses that a round
# holds cold gathers of both kinds (a tail word, a doc's ``uniq_*``
# word) and that the tail percentile falls among them. serve_local
# prints its warm and cold medians apart, so either can be read alone.
MISSES_PER_ROUND = {"serve_spark": 0, "serve_local": 5}
# Whole rounds an untraced window holds at least. A fresh JVM's
# Spark-tier queries keep getting faster for ~50 queries (round medians
# 0.96, 0.69, 0.71, 0.57, then 0.49-0.62 s on a 4-vCPU host), so its
# first round is the slowest: with three, each slot's median is the
# middle of three samples and one slow round does not move it, and
# 3 x 13 solos put the tail at p74.
MIN_ROUNDS = 3
# Resident-tier threads per query. The default (up to 8, one per segment,
# a thread pool per query) makes a query wait for its slowest segment
# thread, so host CPU steal hits it several times over: on a 4-vCPU host
# it ran 1.5-4x slower than one thread, and five seeds of serve_local
# spread 0.34-0.39 (IQR/median) on p50, tail and qps. The traced run
# still times the default, as serving.default_threads_query_s.
LOCAL_THREADS = 1
# Spark-tier solos the traced serve_local run sends for the engine layer
ENGINE_PROBES = 6


# -- helpers -------------------------------------------------------------------

def tail(values: list[float]) -> tuple[float, int]:
    """(value, percentile): the highest whole percentile with at least
    ten samples beyond it, never below the median (nearest rank)."""
    n = len(values)
    p = max(50, math.floor(100 * (n - 10) / n)) if n else 50
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * n) - 1)], p


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        t = [int(x) for x in fh.readline().split()[1:]]
    return t[7], sum(t)


def slot_p50(by_slot: dict[str, list[float]]) -> float:
    """Median over the mix's slots of each slot's median latency: every
    verb weighs the same, and the median does not jump between the
    costs of neighbouring slots from run to run."""
    return med(med(v) for v in by_slot.values())


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def x4(score: float) -> int:
    return math.floor(score * 10000.0 + 0.5)


def med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t0


# -- set-up --------------------------------------------------------------------

def write_corpus(n_docs: int, start: int, path: str):
    """Corpus slice -> parquet with a dense ``doc_id`` column."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quicker_spark import fixtures

    pdf = fixtures.corpus_pdf(n_docs, start=start)
    pdf.insert(0, "doc_id", np.arange(n_docs, dtype=np.int64))
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   row_group_size=max(1, n_docs // 8))
    return pdf


def index_config(n_docs: int, nproc: int):
    from quicker_spark.operators.build import IndexConfig
    # nproc segments; the fields the query registry in driver_queries
    # indexes (the mix queries content)
    return IndexConfig(seg_docs=-(-n_docs // nproc), id_col="doc_id",
                       fields=("content", "lang"))


def cache_key(root: str, n_docs: int, nproc: int) -> str:
    """Names the serving corpus by everything it is built from: the
    engine's sources, the oracle's, the corpus size and the core count."""
    h = hashlib.sha256(f"{CORPUS_START}:{n_docs}:{nproc}".encode())
    with open(os.path.join(os.path.dirname(__file__), "oracle.py"),
              "rb") as fh:
        h.update(fh.read())
    for d, dirs, files in os.walk(os.path.join(root, "quicker_spark")):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(f.encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_corpus(bench) -> tuple[str, dict]:
    """The checkout's serving corpus: parquet, index and oracle tables,
    built by the first run that needs them, in a Spark session of its
    own, and shared by later runs, like a build artifact."""
    from quicker_spark.operators.build import build_index

    args, host = bench.args, bench.host
    root = os.getcwd()
    d = os.path.join(root, ".perfbench_work", "corpus",
                     cache_key(root, args.docs, host["nproc"]))
    if os.path.exists(os.path.join(d, "facts.json")):
        with open(os.path.join(d, "facts.json")) as fh:
            return d, json.load(fh)
    tmp = f"{d}.tmp{os.getpid()}"
    os.makedirs(tmp)
    t0 = time.perf_counter()
    pq_path = os.path.join(tmp, "corpus.parquet")
    pdf = write_corpus(args.docs, CORPUS_START, pq_path)
    cfg = index_config(args.docs, host["nproc"])
    spark = start_spark(bench.work, host, trace=False)
    try:
        _, build_s = timed(build_index, spark, spark.read.parquet(pq_path),
                           os.path.join(tmp, "index"), cfg, resume=False)
    finally:
        stop_spark(spark)
    Twin(pdf, os.path.join(tmp, "twin.duckdb")).close()
    facts = {"docs": args.docs, "start": CORPUS_START,
             "seg_docs": cfg.seg_docs, "build_s": build_s,
             "index_bytes_per_input_byte":
                 dir_bytes(os.path.join(tmp, "index"))
                 / os.path.getsize(pq_path),
             "made_s": time.perf_counter() - t0}
    with open(os.path.join(tmp, "facts.json"), "w") as fh:
        json.dump(facts, fh)
    try:
        os.replace(tmp, d)
    except OSError:            # another run made it first: use theirs
        shutil.rmtree(tmp, ignore_errors=True)
        with open(os.path.join(d, "facts.json")) as fh:
            facts = json.load(fh)
    bench.say("corpus_made_s", round(facts["made_s"], 2), "s",
              f"{args.docs} docs built in {facts['build_s']:.1f} s, "
              "once per checkout")
    return d, facts


def start_spark(work: str, host: dict, trace: bool):
    from quicker_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms1g "
            "-XX:-UsePerfData",
    }
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + evdir})
    # 1 GB of driver heap, far below the host's memory, for a corpus of
    # tens of MB; committed at start (-Xms) so the heap is not resized
    spark = get_spark(cores=host["nproc"], driver_memory="1g",
                      app="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM, which exits on stdin EOF; the
    next ``start_spark`` in this process then launches a new one."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def searcher(idx: str, threads: int | None = LOCAL_THREADS):
    """A resident searcher; ``threads=None`` is the engine's default."""
    from quicker_spark.serving import LocalSearcher
    return LocalSearcher(idx) if threads is None else \
        LocalSearcher(idx, threads=threads)


def clear_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


# -- the two tiers ---------------------------------------------------------------

def _rows(pairs, hydrate: bool) -> list[tuple]:
    """Canonical answer rows. Hydrated hits come back from a join, so
    they are put in rank order; plain hits keep the order served."""
    rows = list(pairs)
    if hydrate:
        rows.sort(key=lambda r: (-r[1], r[0]))
    return rows


PAYLOAD = ("repo", "path", "commit", "lang")


def spark_call(eng, req: dict, cursor) -> list[tuple]:
    q, kw = search_args(req, cursor)
    o = req["opts"]
    if req["kind"] == "rescore":
        df = eng.search_rescore(q, build_tree(o["rescore"]), k=K,
                                window_size=o["window_size"],
                                rescore_weight=o["rescore_weight"])
    else:
        df = eng.search(q, k=K, hydrate=req["hydrate"], **kw)
    extra = PAYLOAD if req["hydrate"] else ()
    return _rows(((int(r["doc_id"]), float(r["score"]),
                   *(r[c] for c in extra)) for r in df.collect()),
                 req["hydrate"])


def local_call(ls, req: dict, cursor) -> list[tuple]:
    q, kw = search_args(req, cursor)
    o = req["opts"]
    if req["kind"] == "rescore":
        h = ls.search_rescore(q, build_tree(o["rescore"]), k=K,
                              window_size=o["window_size"],
                              rescore_weight=o["rescore_weight"])
    else:
        h = ls.search(q, k=K, **kw)
        if req["hydrate"]:
            h = ls.hydrate(h)
    extra = PAYLOAD if req["hydrate"] else ()
    cols = [h["doc_id"].tolist(), h["score"].tolist(),
            *(h[c].tolist() for c in extra)]
    return _rows(((int(r[0]), float(r[1]), *r[2:]) for r in zip(*cols)),
                 req["hydrate"])


def batch_args(batch: dict) -> tuple[dict, dict]:
    from quicker_spark.plans.term_query import NewTermQuery

    queries = {qid: build_tree(r["tree"]) for qid, r in batch.items()}
    kw = {"excludes": {qid: NewTermQuery(FIELD, r["opts"]["exclude"])
                       for qid, r in batch.items() if "exclude" in r["opts"]},
          "min_should_match": {qid: r["opts"]["min_should_match"]
                               for qid, r in batch.items()
                               if "min_should_match" in r["opts"]}}
    return queries, kw


def _by_qid(rows) -> dict[str, list[tuple]]:
    out: dict[str, list[tuple]] = {}
    for qid, d, s in rows:
        out.setdefault(str(qid), []).append((int(d), float(s)))
    return out


def spark_batch(eng, batch: dict) -> dict[str, list[tuple]]:
    queries, kw = batch_args(batch)
    rows = eng.search_many(queries, k=K, **kw).collect()
    return _by_qid((r["qid"], r["doc_id"], r["score"]) for r in rows)


def local_batch(ls, batch: dict) -> dict[str, list[tuple]]:
    queries, kw = batch_args(batch)
    h = ls.search_many(queries, k=K, **kw)
    return _by_qid(zip(h["qid"], h["doc_id"], h["score"]))


# -- checks ----------------------------------------------------------------------

def same_ranking(got: list, ranked: list, lo: int, hi: int) -> bool:
    """Is ``got`` the twin's ranks ``lo:hi`` at the twin's resolution?

    ``ranked`` is the twin's (doc_id, score_x4) list past ``hi``. The
    rounded scores must match rank for rank; docs sharing a rounded score
    must be the same set, except at either end of the window, where the
    engine's exact scores may pick any of the twin's docs with that
    rounded score."""
    want = ranked[lo:hi]
    if [s for _, s in got] != [s for _, s in want]:
        return False
    ends = {want[0][1], want[-1][1]} if want else set()
    for v in {s for _, s in got}:
        g = {d for d, s in got if s == v}
        if v in ends:
            if not g <= {d for d, s in ranked if s == v}:
                return False
        elif g != {d for d, s in want if s == v}:
            return False
    return len({d for d, _ in got}) == len(got)


class Checker:
    """Oracle answers per distinct request, computed once, after the
    timed loop; every served answer is compared against them."""

    def __init__(self, bench, twin: Twin):
        self.bench, self.twin = bench, twin
        self._exp: dict[str, list] = {}

    def expected(self, req: dict) -> list:
        k = key(req)
        if k not in self._exp:
            self._exp[k] = self.twin.expected(req)
        return self._exp[k]

    def prefetch(self, reqs) -> None:
        todo = list({key(r): r for r in reqs
                     if key(r) not in self._exp}.values())
        for r, exp in zip(todo, self.twin.expected_many(todo)):
            self._exp[key(r)] = exp

    def check(self, req: dict, rows: list[tuple], label: str) -> bool:
        got = [(d, x4(s)) for d, s, *_ in rows]
        if not same_ranking(got, *self.expected(req)):
            self.bench.fail(f"{label} {req['tag']}: oracle mismatch "
                            f"{got} vs {self.expected(req)}")
            return False
        for d, _s, *payload in rows:
            if payload and tuple(payload) != tuple(
                    self.twin.payload.loc[d, list(PAYLOAD)]):
                self.bench.fail(f"{label} {req['tag']}: payload of {d}")
                return False
        return True

    def same(self, a: list, b: list, label: str) -> bool:
        if a != b:
            self.bench.fail(f"{label}: tiers differ {a[:2]} vs {b[:2]}")
            return False
        return True


# -- closed loop -----------------------------------------------------------------

class Loop:
    """One client, closed loop: whole rounds of the mix's solos, each
    call waiting for the last, so a window always measures the same
    verbs in the same shares, however fast the host is. After each
    round, one ``search_many`` pass of the batch, timed apart: the
    passes sample the host over the same stretch as the solos. A call
    that fails counts and the loop goes on."""

    def __init__(self, bench, tracer, mix: Mix, solo, batch, tier: str):
        self.bench, self.tracer, self.mix = bench, tracer, mix
        self.solo, self.batch, self.tier = solo, batch, tier
        self.answers: list[tuple[dict, list]] = []
        self.batch_answers: list[dict] = []
        self.blat: list[float] = []
        self.seen: set[str] = set()
        self.reset()

    def reset(self) -> None:
        """Forget the solo latencies (the answers stay to be checked)."""
        self.lat: list[float] = []
        self.round_qps: list[float] = []
        self.by_slot: dict[str, list[float]] = {}
        self.cold_lat: list[float] = []
        self.warm_lat: list[float] = []

    def run(self, seconds: float, min_rounds: int) -> None:
        """Whole rounds: at least ``min_rounds``, then another only while
        it should end within ``seconds`` at the rounds' mean pace."""
        start = time.perf_counter()
        rounds = 0
        while rounds < min_rounds or (time.perf_counter() - start) * (
                rounds + 1) / rounds <= seconds:
            n0, busy0 = len(self.lat), sum(self.lat)
            for req in self.mix.round():
                self._solo(req)
            busy = sum(self.lat) - busy0
            if busy > 0:
                self.round_qps.append((len(self.lat) - n0) / busy)
            self._batch()
            rounds += 1

    def _solo(self, req: dict) -> None:
        rid = self.tracer.new_request()
        cold = not set(read_words(req)) <= self.seen
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"{self.tier}.{req['kind']}", rid):
                rows = self.solo(req, rid)
        except Exception as e:   # a failed op counts, the loop goes on
            self.bench.attempted += 1
            self.bench.fail(f"{req['tag']}: {type(e).__name__}: {e}")
            return
        dt = time.perf_counter() - t0
        self.lat.append(dt)
        self.by_slot.setdefault(req["tag"], []).append(dt)
        (self.cold_lat if cold else self.warm_lat).append(dt)
        self.tracer.count(f"{self.tier}.queries")
        if cold:
            self.tracer.count(f"{self.tier}.cold_queries")
        self.seen |= set(read_words(req))
        self.answers.append((req, rows))

    def _batch(self) -> None:
        rid = self.tracer.new_request()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"{self.tier}.search_many", rid):
                out = self.batch(rid)
        except Exception as e:   # a failed op counts, the loop goes on
            self.bench.attempted += 1
            self.bench.fail(f"batch: {type(e).__name__}: {e}")
        else:
            self.blat.append(time.perf_counter() - t0)
            self.batch_answers.append(out)
            self.tracer.count(f"{self.tier}.batches")

    def verify(self, checker: Checker, other=None, other_batch=None) -> None:
        """Oracle-check every answer; cross-check each distinct request
        once against the other tier, when given."""
        checker.prefetch([r for r, _ in self.answers]
                         + list(self.mix.batch.values()))
        crossed: dict[str, list] = {}
        for req, rows in self.answers:
            self.bench.attempted += 1
            ok = checker.check(req, rows, self.tier)
            if ok and other is not None:
                k = key(req)
                if k not in crossed:
                    crossed[k] = other(req)
                ok = checker.same(rows, crossed[k], req["tag"])
        ref = other_batch() if other_batch and self.batch_answers else None
        for out in self.batch_answers:
            self.bench.attempted += 1
            for qid, req in self.mix.batch.items():
                got = out.get(qid, [])
                if not checker.check(req, got, f"{self.tier} batch {qid}"):
                    break
                if ref is not None and not checker.same(
                        got, ref.get(qid, []), f"batch {qid}"):
                    break


# -- the run -----------------------------------------------------------------------

def run(bench, tracer, cdir: str, facts: dict) -> tuple[dict, dict | None]:
    """Set up, run the workload's loop on the serving corpus in ``cdir``
    and check it; returns the end-to-end metrics and, in a traced run,
    the per-layer ones, as ``{name: (value, unit)}``."""
    import pandas as pd

    from quicker_spark.engine import SearchEngine
    from quicker_spark.operators.build import build_index

    args, host, work = bench.args, bench.host, bench.work
    last = time.perf_counter()
    phases: dict[str, float] = {}

    def mark(name: str) -> None:
        nonlocal last
        now = time.perf_counter()
        phases[name] = round(now - last, 2)
        last = now

    spark = None

    def session():
        nonlocal spark
        if spark is None:
            spark = start_spark(work, host, bool(args.trace))
        return spark

    layers = None
    try:
        idx = os.path.join(cdir, "index")
        pdf = pd.read_parquet(os.path.join(cdir, "corpus.parquet"))
        twin = Twin(pdf, os.path.join(cdir, "twin.duckdb"))
        checker = Checker(bench, twin)
        mix = Mix(args.seed, MISSES_PER_ROUND[args.workload], facts["docs"],
                  facts["start"])
        mark("corpus")
        eng = None
        if args.workload == "serve_spark" or args.trace:
            eng = SearchEngine(session(), idx)
        mark("spark_start")
        report = build_s = None
        if args.trace:
            # the build layer: a fresh build of a corpus slice, traced
            sp = session()
            n_build = min(TRACE_BUILD_DOCS, facts["docs"])
            bpath = os.path.join(work, "build.parquet")
            write_corpus(n_build, facts["start"], bpath)
            sp.sparkContext.setJobGroup("build", "index build")
            with tracer.span("build.build_index"):
                report, build_s = timed(
                    build_index, sp, sp.read.parquet(bpath),
                    os.path.join(work, "index"),
                    index_config(n_build, host["nproc"]), resume=False)
            clear_group(sp.sparkContext)
            mark("trace_build")

        # page-1 cursor for the ``after`` slot, from the resident tier
        ls0 = searcher(idx)
        after = next(r for r in mix.hot if r["tag"] == "after")
        page1 = dict(after, opts={})
        p1 = local_call(ls0, page1, None)
        cursor = (p1[-1][1], p1[-1][0]) if p1 else None
        bench.attempted += 1
        checker.check(page1, p1, "page1")

        w = WORKLOAD[args.workload]
        setup_reps = w.setup(spark, idx, mix, cursor)
        mark("setup_reps")
        loop = w.loop(bench, tracer, spark, eng, idx, mix, cursor, ls0)
        mark("warmup")
        ticks = cpu_ticks()
        if args.trace:
            # half the window untraced, half traced: the tracing overhead
            tracer.enabled = False
            loop.run(args.seconds / 2, 1)
            untraced_p50 = slot_p50(loop.by_slot)
            tracer.enabled = True
            loop.reset()
            loop.run(args.seconds / 2, 1)
            overhead = slot_p50(loop.by_slot) - untraced_p50
        else:
            loop.run(args.seconds, MIN_ROUNDS)
        steal = [b - a for a, b in zip(ticks, cpu_ticks())]
        mark("window")
        w.verify(loop, checker, spark, idx, cursor)
        mark("verify")

        p50 = slot_p50(loop.by_slot)
        tl, pct = tail(loop.lat)
        e2e = {
            "setup_s": (med(setup_reps), "s"),
            "index_bytes_per_input_byte":
                (facts["index_bytes_per_input_byte"], "ratio"),
            "query_p50_s": (p50, "s"),
            # a tail over raw samples can dip below a median of slot
            # medians (two samples a slot on the Spark tier); never report so
            "query_tail_s": (max(tl, p50), "s"),
            "qps": (med(loop.round_qps), "1/s"),
            "batch_qps": (BATCH_SIZE / max(med(loop.blat), 1e-9), "1/s"),
        }
        tier = "spark" if args.workload == "serve_spark" else "local"
        names = {"query_p50_s": f"{tier}_query_p50_s",
                 "query_tail_s": f"{tier}_query_tail_s",
                 "qps": f"{tier}_qps", "batch_qps": f"{tier}_batch_qps"}
        notes = {"query_tail_s": f"p{pct} of {len(loop.lat)} queries",
                 "query_p50_s": f"median of {len(loop.by_slot)} slot "
                                f"medians, {len(loop.lat)} queries",
                 "qps": f"median of {len(loop.round_qps)} rounds' "
                        "queries / their summed latency",
                 "batch_qps": f"median of {len(loop.blat)} batches of "
                              f"{BATCH_SIZE}",
                 "setup_s": f"median of {SETUP_REPS}"}
        bench.say("workload", args.workload,
                  note=f"{facts['docs']} docs, {facts['seg_docs']} "
                       f"docs/segment, seed {args.seed}")
        for m, (v, unit) in e2e.items():
            bench.say(names.get(m, m), round(v, 6), unit, notes.get(m, ""))
        # context for the timings, not a metric: the share of CPU time
        # the hypervisor took from this machine during the loop
        bench.say("host_steal_share", round(steal[0] / max(1, steal[1]), 4),
                  "ratio", "during the loop")
        if tier == "local":
            # the blend above rests on an assumed cold share; these don't
            for part, lat in (("warm", loop.warm_lat),
                              ("cold", loop.cold_lat)):
                bench.say(f"local_{part}_query_p50_s", round(med(lat), 6),
                          "s", f"{len(lat)} queries")

        if args.trace:
            layers = probe_layers(bench, tracer, spark, eng, idx, mix, cursor,
                                  loop, checker)
            layers.update(build_layers(bench, tracer, spark, work,
                                       pdf.iloc[:n_build], report, build_s,
                                       mix, cursor))
            layers["trace.overhead_s_per_query"] = (overhead, "s")
            mark("probes")
        twin.close()
    finally:
        if spark is not None:
            stop_spark(spark)
    mark("spark_stop")
    bench.say("phases", json.dumps(phases), "s")
    if layers is not None:
        layers.update(_event_layers(work, loop, build_s, host))
        for m, (v, unit) in layers.items():
            bench.say(m, round(v, 6), unit)
    return e2e, layers


# -- per-workload parts --------------------------------------------------------------

class ServeSpark:
    @staticmethod
    def setup(spark, idx, mix, cursor) -> list[float]:
        """``SearchEngine`` opens, timed ``SETUP_REPS`` times (its
        queries are lazy; the first answers are the warm-up's)."""
        from quicker_spark.engine import SearchEngine
        return [timed(SearchEngine, spark, idx)[1]
                for _ in range(SETUP_REPS)]

    @staticmethod
    def loop(bench, tracer, spark, eng, idx, mix, cursor, _ls):
        """Setup pays the JVM's first solo search and first
        ``search_many`` before the loop."""
        sc = spark.sparkContext
        spark_call(eng, mix.hot[0], cursor)
        spark_batch(eng, mix.batch)

        def solo(req, rid):
            if tracer.enabled:
                sc.setJobGroup(f"q{rid}", req["tag"])
                _resolve_span(tracer, req, cursor, rid)
            return spark_call(eng, req, cursor)

        def batch(rid):
            if tracer.enabled:
                sc.setJobGroup(f"b{rid}", "batch")
            return spark_batch(eng, mix.batch)

        return Loop(bench, tracer, mix, solo, batch, "engine")

    @staticmethod
    def verify(loop, checker, spark, idx, cursor):
        clear_group(spark.sparkContext)
        ls = searcher(idx)
        loop.verify(checker, other=lambda r: local_call(ls, r, cursor),
                    other_batch=lambda: local_batch(ls, loop.mix.batch))


class ServeLocal:
    @staticmethod
    def setup(spark, idx, mix, cursor) -> list[float]:
        """A fresh searcher answering the hot slots once, cold,
        ``SETUP_REPS`` times: the resident tier's start."""
        def start():
            ls = searcher(idx)
            for req in mix.hot:
                local_call(ls, req, cursor)
        return [timed(start)[1] for _ in range(SETUP_REPS)]

    @staticmethod
    def loop(bench, tracer, spark, eng, idx, mix, cursor, ls):
        """The loop serves from ``ls``, warmed by one pass first."""
        for req in mix.hot:
            local_call(ls, req, cursor)
        local_batch(ls, mix.batch)

        def solo(req, rid):
            if tracer.enabled:
                _resolve_span(tracer, req, cursor, rid)
            return local_call(ls, req, cursor)

        loop = Loop(bench, tracer, mix, solo,
                    lambda rid: local_batch(ls, mix.batch), "serving")
        loop.seen |= {w for r in mix.hot for w in read_words(r)}
        return loop

    @staticmethod
    def verify(loop, checker, spark, idx, cursor):
        # every local answer meets the oracle; tier-vs-tier identity is
        # serve_spark's check (this workload starts no Spark)
        loop.verify(checker)


WORKLOAD = {"serve_spark": ServeSpark, "serve_local": ServeLocal}


# -- traced run: layer probes ----------------------------------------------------------

def _resolve_span(tracer, req, cursor, rid) -> None:
    """Time ``resolve_search_spec`` on the request (the ``plans`` layer)."""
    if req["kind"] != "search":
        return
    from quicker_spark.engine import resolve_search_spec
    q, kw = search_args(req, cursor)
    with tracer.span("plans.resolve_search_spec", rid):
        resolve_search_spec(q, "auto", kw.get("boosts"), kw.get("after"),
                            kw.get("exclude"), kw.get("min_should_match", 0),
                            demote=kw.get("demote"),
                            demote_factor=kw.get("demote_factor", 0.5))


def probe_layers(bench, tracer, spark, eng, idx, mix, cursor, loop,
                 checker) -> dict:
    """plans, engine, kernels and serving, on the serving index."""
    from pyspark.sql import functions as F
    from quicker_spark.functions.buckets import term_bucket

    sc = spark.sparkContext
    out: dict = {}
    hot = mix.hot

    # engine: Spark-tier solos with one job group each. serve_spark's
    # traced half ran every slot; serve_local's run sends the first
    # ENGINE_PROBES slots and one batch through the Spark tier here.
    if loop.tier != "engine":
        for req in hot[:ENGINE_PROBES]:
            rid = tracer.new_request()
            sc.setJobGroup(f"q{rid}", req["tag"])
            with tracer.span(f"engine.{req['kind']}", rid):
                rows = spark_call(eng, req, cursor)
            bench.attempted += 1
            checker.check(req, rows, "engine probe")
        rid = tracer.new_request()
        sc.setJobGroup(f"b{rid}", "batch")
        with tracer.span("engine.search_many", rid):
            spark_batch(eng, mix.batch)
    tracker = sc.statusTracker()
    groups = [f"q{s['req']}" for s in tracer.spans
              if s["name"].startswith("engine.")
              and s["name"] != "engine.search_many"]
    jobs = [tracker.getJobIdsForGroup(g) for g in groups]
    stages = [[s for j in js for s in tracker.getJobInfo(j).stageIds]
              for js in jobs]
    out["engine.jobs_per_query"] = (med(len(j) for j in jobs), "count")
    out["engine.stages_per_query"] = (med(len(s) for s in stages), "count")
    out["engine.tasks_per_query"] = (med(
        sum(tracker.getStageInfo(x).numTasks for x in s
            if tracker.getStageInfo(x)) for s in stages), "count")
    bgroups = [f"b{s['req']}" for s in tracer.spans
               if s["name"] == "engine.search_many"]
    out["engine.batch_jobs"] = (med(len(tracker.getJobIdsForGroup(g))
                                    for g in bgroups), "count")

    # engine floors and hydrate
    sc.setJobGroup("probe", "floors")
    q0 = next(r for r in hot if r["tag"] == "or_mixed")
    q, kw = search_args(q0, cursor)
    hits = eng.search(q, k=K).cache()
    hits.count()
    reps = {"engine.job_floor_s": [], "engine.udf_floor_s": [],
            "engine.hydrate_s": []}
    terms = [f"{FIELD}\x01{w}" for w in read_words(q0)]
    nb = int(eng.stats.get("term_buckets") or 0)
    scan = eng.postings
    if nb > 1:
        scan = scan.filter(F.col("bucket").isin(
            sorted({term_bucket(t, nb) for t in terms})))
    scan = scan.filter(F.col("term").isin(terms))
    for _ in range(3):
        with tracer.span("engine.job_floor"):
            _, dt = timed(spark.range(0, 1, 1, 1).collect)
        reps["engine.job_floor_s"].append(dt)
        with tracer.span("engine.udf_floor"):
            _, dt = timed(scan.groupBy("segment_id")
                          .applyInPandas(_identity, scan.schema)
                          .write.format("noop").mode("overwrite").save)
        reps["engine.udf_floor_s"].append(dt)
        with tracer.span("engine.hydrate"):
            _, dt = timed(lambda: eng.hydrate(hits).collect())
        reps["engine.hydrate_s"].append(dt)
    hits.unpersist()
    for m, v in reps.items():
        out[m] = (med(v), "s")

    # plans: resolve_search_spec on every search request of the run
    res = tracer.durations("plans.resolve_search_spec")
    if not res:
        for req in hot:
            _resolve_span(tracer, req, cursor, 0)
        res = tracer.durations("plans.resolve_search_spec")
    out["plans.resolve_s"] = (med(res), "s")

    # kernels: every solo of the window replayed, in order, on a
    # one-thread searcher already holding each request's postings; the
    # median of slot medians, as query_p50_s
    ls1 = searcher(idx, threads=1)
    for req in {key(r): r for r, _ in loop.answers}.values():
        local_call(ls1, req, cursor)
    dec: dict[str, list[float]] = {}
    for req, _ in loop.answers:
        with tracer.span("kernels.decode_score"):
            dt = timed(local_call, ls1, req, cursor)[1]
        dec.setdefault(req["tag"], []).append(dt)
    out["kernels.decode_score_s"] = (slot_p50(dec), "s")

    # serving: the engine's default thread pool, warm, over the hot
    # slots (every other resident searcher here runs LOCAL_THREADS)
    ls3 = searcher(idx, threads=None)
    for req in hot:
        local_call(ls3, req, cursor)
    pool = []
    for req in hot:
        with tracer.span("serving.default_threads_search"):
            pool.append(timed(local_call, ls3, req, cursor)[1])
    out["serving.default_threads_query_s"] = (med(pool), "s")

    # serving: open, one cold pass and one warm pass over the hot slots
    opens, cold, warm = [], [], []
    for _ in range(3):
        with tracer.span("serving.open"):
            ls2, dt = timed(searcher, idx)
        opens.append(dt)
    for lat in (cold, warm):
        for req in hot:
            with tracer.span("serving.search"):
                _, dt = timed(local_call, ls2, req, cursor)
            lat.append(dt)
    out["serving.open_s"] = (med(opens), "s")
    out["serving.cold_query_s"] = (med(cold), "s")
    out["serving.warm_query_s"] = (med(warm), "s")
    if loop.tier == "serving":
        n_cold, n = len(loop.cold_lat), len(loop.lat)
    else:
        n_cold, n = len(cold), len(cold) + len(warm)
    out["serving.cold_queries"] = (n_cold, "count")
    out["serving.queries"] = (n, "count")
    out["serving.cold_share"] = (n_cold / max(1, n), "ratio")
    clear_group(sc)
    return out


def build_layers(bench, tracer, spark, work, pdf, report, build_s, mix,
                 cursor) -> dict:
    """operators.build from the traced run's fresh build of ``pdf`` (its
    report and metrics.json), then operators.maintain on that index."""
    idx = os.path.join(work, "index")
    with open(os.path.join(idx, "metrics.json")) as fh:
        bm = json.load(fh)
    out: dict = {"build.docs_per_s": (len(pdf) / build_s, "docs/s")}
    ph = report.prepare_phases
    out["build.prepare_s"] = (report.prepare_secs, "s")
    out["build.rank_s"] = (ph.get("rank", 0.0), "s")
    out["build.docs_write_s"] = (ph.get("docs_write", 0.0), "s")
    out["build.waves_s"] = (sum(report.wave_secs), "s")
    out["build.term_stats_s"] = (report.term_stats_secs, "s")
    out["build.postings_bytes"] = (bm["postings_bytes"], "B")
    out["build.docs_bytes"] = (bm["docs_bytes"], "B")

    # maintain: one upsert (half replaced keys, half new), then reopen
    # the resident tier and answer one query on the new generation
    out.update(_upsert_probe(bench, tracer, spark, idx, pdf, mix, cursor))
    clear_group(spark.sparkContext)
    return out


def _identity(pdf):
    return pdf


def _upsert_probe(bench, tracer, spark, idx, pdf, mix, cursor) -> dict:
    import numpy as np
    import pandas as pd

    from quicker_spark import fixtures
    from quicker_spark.operators.maintain import upsert_docs

    n = len(pdf)
    rng = random.Random(bench.args.seed)
    replaced = sorted(rng.sample(range(n), 4))
    fresh = fixtures.corpus_pdf(8, start=10**9 + bench.args.seed * 8)
    batch = fresh.copy()
    for j, d in enumerate(replaced):
        for c in ("repo", "path", "commit"):
            batch.loc[j, c] = pdf.loc[d, c]
    batch.insert(0, "doc_id", np.arange(len(batch), dtype=np.int64))
    with open(os.path.join(idx, "stats.json")) as fh:
        base_id = int(json.load(fh)["max_doc_id"]) + 1

    before = _snapshot(idx)
    sc = spark.sparkContext
    sc.setJobGroup("upsert", "upsert")
    with tracer.span("maintain.upsert_docs"):
        _, up_s = timed(upsert_docs, spark, idx, spark.createDataFrame(batch))
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("upsert"))
    tracer.count("maintain.jobs", n_jobs)
    after = _snapshot(idx)
    changed = {p for p, v in after.items() if before.get(p) != v}
    segs = {part for p in changed if p.startswith("postings" + os.sep)
            for part in p.split(os.sep) if part.startswith("segment_id=")}
    written = sum(after[p][0] for p in changed)

    # the new generation: replaced docs gone, the batch at fresh ids
    new = pdf[~pdf["doc_id"].isin(replaced)]
    ins = batch.assign(doc_id=batch["doc_id"] + base_id)
    twin = Twin(pd.concat([new, ins], ignore_index=True))
    req = next(r for r in mix.hot if r["tag"] == "or_mixed")
    t0 = time.perf_counter()
    with tracer.span("maintain.reopen_query"):
        rows = local_call(searcher(idx), req, cursor)
    reopen_s = time.perf_counter() - t0
    bench.attempted += 1
    Checker(bench, twin).check(req, rows, "post-upsert")
    twin.close()
    return {"maintain.upsert_s": (up_s, "s"),
            "maintain.reopen_query_s": (reopen_s, "s"),
            "maintain.jobs_per_upsert": (n_jobs, "count"),
            "maintain.segments_rewritten_per_upsert": (len(segs), "count"),
            "maintain.bytes_rewritten_per_doc": (written / len(batch), "B")}


def _snapshot(root: str) -> dict:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _event_layers(work, loop, build_s, host) -> dict:
    """Engine and build attribution from the event log (read after the
    JVM stopped, so every event is on disk)."""
    from tracing import group_stages, read_event_log, union_s

    log = read_event_log(os.path.join(work, "eventlog"))
    out: dict = {}
    per_q = []
    for grp, wall in _query_groups(loop):
        st = group_stages(log, grp)
        u = union_s(st)
        per_q.append({
            "rows": sum(s["in_rows"] for s in st),
            "bytes": sum(s["in_bytes"] for s in st),
            "py": sum(s["py_bytes"] for s in st),
            "shuffle": sum(s["sh_write"] for s in st),
            "cpu": sum(s["cpu_ns"] for s in st) / 1e9,
            "stage": u, "driver": max(0.0, wall - u)})
    for m, f, unit in (("scan_rows", "rows", "count"),
                       ("scan_bytes", "bytes", "B"),
                       ("python_bytes", "py", "B"),
                       ("shuffle_bytes", "shuffle", "B"),
                       ("executor_cpu_s", "cpu", "s"),
                       ("stage_s", "stage", "s"),
                       ("driver_s", "driver", "s")):
        out[f"engine.{m}_per_query"] = (med(q[f] for q in per_q), unit)

    st = group_stages(log, "build")
    cls = {"pack": [], "merge_encode": [], "write": []}
    for s in st:
        if s["py_bytes"] and s["in_bytes"] and s["sh_write"]:
            cls["pack"].append(s)
        elif s["py_bytes"] and s["sh_read"]:
            cls["merge_encode"].append(s)
        elif s["out_bytes"] and not s["py_bytes"]:
            cls["write"].append(s)
    for c, ss in cls.items():
        out[f"build.{c}_s"] = (sum((s["comp"] - s["sub"]) / 1000.0
                                   for s in ss), "s")
    out["build.shuffle_bytes"] = (sum(s["sh_write"] for s in st), "B")
    out["build.spill_bytes"] = (sum(s["spill"] for s in st), "B")
    out["build.python_bytes"] = (sum(s["py_bytes"] for s in st), "B")
    out["build.tasks"] = (sum(s["tasks"] for s in st), "count")
    out["build.core_busy_share"] = (
        sum(s["run_ms"] for s in st) / 1000.0 / (build_s * host["nproc"]),
        "ratio")
    return out


def _query_groups(loop):
    """(job group, wall seconds) of every traced Spark-tier solo."""
    tr = loop.tracer
    return [(f"q{s['req']}", s["end"] - s["start"]) for s in tr.spans
            if s["name"].startswith("engine.") and s["req"]
            and s["name"] != "engine.search_many"]
