"""The benchmark's workloads: one client in a closed loop over the
program's public API.

A run of any workload has the same phases:

1. set-up: start the Spark session, then load the generated dump files
   (read with ``read_rdf_files``) with ``KgPipeline.load`` and check the
   quad count; a thread generates the inputs and their answers while the
   JVM starts. The load is the session's first work, so it pays the
   JVM's warm-up (class loading, JIT, Python worker start) and is timed
   as part of set-up;
2. serve: whole rounds of the workload's queries (``sparql_query`` +
   ``collect``) and writes (``append`` / ``update``, each followed by a
   read-after-write query) on the loaded KG, warm;
3. teardown: stop Spark and wait for the JVM and its workers to exit.

Answers are checked outside the timed regions; an exception or a wrong
answer counts as a failed operation and never stops the run.
"""

from __future__ import annotations

import itertools
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import gen
import oracle
from tracing import RssSampler, Tracer, instrument, instrument_pipeline


@dataclass(frozen=True)
class Workload:
    """What one run loads and serves. A run serves whole rounds: one
    query per template, then one write per write kind, each write followed
    by its read-after-write query; it starts another round only while it
    has served for less than ``--seconds``, after ``min_rounds``."""

    shape: str  # gen.SHAPES key of the KG the run loads
    templates: tuple = ()  # oracle.TEMPLATES, in the order they run
    writes: tuple = ()  # oracle.WRITE_KINDS, in the order they run
    min_rounds: int = 1


WORKLOADS = {
    # one query's latency moves by ~20% from one execution to the next
    # within a run, one append's by 5-10%: two samples per template, one
    # per append, whatever the host's speed
    "deep": Workload(
        "deep",
        templates=("optional_lang", "point", "star", "range_filter", "type_scan", "ask"),
        min_rounds=2,
    ),
    "update": Workload("base", writes=("append",)),
    # harness self-test: every template and every write form
    "tiny": Workload("tiny", templates=tuple(oracle.TEMPLATES), writes=tuple(oracle.WRITE_KINDS)),
}

MAX_ROUNDS = 100


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(run_dir: str):
    from r2s2_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")  # made by prepare_env
    heap = os.environ["SPARK_DRIVER_MEMORY"]  # set by prepare_env
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores()}]",
        extra_conf={
            # the JVM's temp files (native libs, spill) in the run dir; the
            # whole heap from the start, so no run resizes it differently
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = [p for p in RssSampler._tree(os.getpid()) if p != os.getpid()]
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception:  # a broken gateway: the JVM is still ended below
        log(f"stopping Spark: {traceback.format_exc(limit=2)}")
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def prepare_env(run_dir: str, root: str) -> None:
    """Environment for the Spark driver and its Python workers, set before
    pyspark starts the JVM: the program importable on the workers, local
    dirs and temp files inside the checkout, Spark driver heap below RAM."""
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")


def job_counter(spark):
    """Spark jobs submitted so far, from the DAG scheduler's id counter
    (the status store keeps only ``spark.ui.retainedJobs`` jobs)."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    return lambda: int(sched.nextJobId())


def dir_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(suffix):
                total += os.path.getsize(os.path.join(base, fn))
    return total


def stored_bytes(pipe) -> int:
    """Parquet bytes the current catalog reads: its tables and dictionaries."""
    stage = pipe.last_catalog_stage()
    cat = pipe.io.read_catalog(stage)
    dirs = {t.path or f"{stage}/tables/{t.name}" for t in cat.tables}
    dirs |= set(cat.dictionaries.values())
    return sum(dir_bytes(os.path.join(pipe.io.root, d), ".parquet") for d in dirs)


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 20 samples no percentile from the median up
    has that, and the maximum (100%) is reported instead."""
    n = len(xs)
    if n < 20:
        return (max(xs), 100.0) if xs else (math.nan, math.nan)
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def op_ms(samples: dict[str, list[float]]) -> float:
    """Latency of a serving operation: each operation kind's (query
    template's or write kind's) median latency, averaged over the kinds.
    Every round serves each kind once, so this weighs the kinds alike in
    every run, and a median of the pooled samples, which falls between
    two templates' latencies, does not jump between them."""
    kinds = [xs for k, xs in samples.items() if k.startswith("op.") and k.endswith(".ms")]
    return statistics.fmean(median(xs) for xs in kinds) if kinds else float("nan")


def _primed(rounds):
    first = next(rounds, None)
    return itertools.chain([] if first is None else [first], rounds)


class Runner:
    """One run of one workload. Shared by the traced and untraced modes:
    the tracer only adds recording, never a different call."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, root: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.root = root
        self.run_dir = os.path.join(root, ".perfbench_run", f"{workload}-{seed}-{os.getpid()}")
        run_id = f"{workload}-{seed}-{os.getpid()}-{int(time.time())}"
        self.tr = Tracer(trace, run_id)
        self.out = Outcome()
        self.m: dict[str, float] = {}  # metrics by name
        self.samples: dict[str, list[float]] = {}

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    # -- phases -----------------------------------------------------------
    def run(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        prepare_env(self.run_dir, self.root)
        wl, tr = WORKLOADS[self.workload], self.tr
        spark = None
        # the sampler's thread walks /proc under the driver's GIL: traced runs only
        with RssSampler(tr.enabled) as rss, tr.span(
            "workload", workload=self.workload, seed=self.seed
        ):
            try:
                with tr.span("setup") as setup:
                    # inputs and answers are made while the JVM starts
                    with ThreadPoolExecutor(1) as pool:
                        generated = pool.submit(self.generate, wl)
                        with tr.span("session.start") as st:
                            spark = self.spark = start_session(self.run_dir)
                        tr.jobs = job_counter(spark)
                    ds, queries, writes = generated.result()
                    with instrument(tr):
                        pipe = self._load(ds, self._p("in"), self._p("work"))
                with instrument(tr):
                    self._serve(pipe, wl, queries, writes)
            finally:
                if spark is not None:
                    with tr.span("teardown"):
                        self._stop(spark)
        self.m["session.start_s"] = st.seconds
        self.m["setup_s"] = setup.seconds
        self.m["peak_rss_mb"] = rss.peak_bytes / 2**20
        self.m["rss.jvm_mb"] = rss.peak_jvm_bytes / 2**20
        self.m["rss.python_mb"] = rss.peak_python_bytes / 2**20
        self.m["rss.python_procs"] = rss.max_python_procs

    def _stop(self, spark) -> None:
        # spans still open read the job counter after the JVM is gone
        try:
            jobs = self.tr.jobs()
        except Exception:  # the gateway broke, e.g. on SIGTERM mid-call
            jobs = 0
        self.tr.jobs = lambda: jobs
        stop_session(spark)

    def generate(self, wl: Workload):
        ds = gen.generate(self._p("in"), gen.SHAPES[wl.shape], self.seed)
        queries = oracle.query_rounds(oracle.Model(ds), random.Random(self.seed), wl.templates)
        writes = oracle.write_rounds(
            oracle.Model(ds), random.Random(self.seed + 1), wl.writes, self._p("append")
        )
        # the first round is made here, beside session start
        return ds, _primed(queries), _primed(writes)

    def _p(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def _load(self, ds: gen.Dataset, in_dir: str, work: str):
        """The ``load`` of the generated files, then its checks."""
        from r2s2_spark.pipeline import TIMINGS, KgPipeline
        from r2s2_spark.sources.files import read_rdf_files

        pipe = KgPipeline(self.spark, work)
        instrument_pipeline(self.tr, pipe)
        try:
            with self.tr.span("op.load") as sp:
                with self.tr.span("sources.read"):
                    src = read_rdf_files(self.spark, in_dir)
                pipe.load(src)
        except Exception:
            self.out.record(False, f"load: {traceback.format_exc(limit=3)}")
            return pipe
        timings = dict(TIMINGS)
        with self.tr.span("check.count"):
            try:
                n = pipe.triples().count()
                self.out.record(n == len(ds.quads), f"load: {n} quads, expected {len(ds.quads)}")
            except Exception:
                self.out.record(False, f"count: {traceback.format_exc(limit=3)}")
        self._load_metrics(pipe, ds, sp, timings)
        return pipe

    def _load_metrics(self, pipe, ds: gen.Dataset, sp, timings: dict) -> None:
        m = self.m
        n = len(ds.quads)
        m["load.s"] = sp.seconds
        m["load.triples_per_s"] = ds.emitted / sp.seconds
        m["stored_bytes_per_triple"] = stored_bytes(pipe) / n
        m["work.bytes"] = dir_bytes(pipe.io.root)
        m["work_bytes_per_triple"] = m["work.bytes"] / n
        for st in "EDVOM":
            m[f"{st.lower()}.bytes"] = dir_bytes(pipe.io.path(st))
        m["e.statements"] = pipe.io.manifest("E")["statements"]
        m["e.parse_error_ratio"] = 1.0 - m["e.statements"] / ds.emitted
        m["v.tables"] = len(pipe.io.read_catalog("V").tables)
        m["catalog.tables"] = len(pipe.io.read_catalog(pipe.last_catalog_stage()).tables)
        m["m.merges"] = timings.get("M.merge.merges", 0)
        for key, name in (
            ("O.probe", "o.probe_s"),
            ("O.dicts", "o.dicts_s"),
            ("O.optimize", "o.optimize_s"),
            ("M.read", "m.read_s"),
        ):
            m[name] = timings.get(key, float("nan"))

    def _query(self, pipe, q: oracle.Query) -> None:
        """Compile and run one query; check its rows outside the spans."""
        from r2s2_spark.plans.sparql_text import sparql_query

        tr = self.tr
        try:
            with tr.span("sparql.compile") as c:
                df = sparql_query(pipe, q.text)
            with tr.span("sparql.exec") as e:
                got = df.collect()
        except Exception:
            self.out.record(False, f"{q.template}: {q.text}\n{traceback.format_exc(limit=3)}")
            return
        self.sample(f"q.{q.template}.ms", (c.seconds + e.seconds) * 1e3)
        self.sample("query.compile_ms", c.seconds * 1e3)
        self.sample("query.exec_ms", e.seconds * 1e3)
        self.sample("query.compile_jobs", c.jobs)
        self.sample("query.exec_jobs", e.jobs)
        rows = oracle.rows(oracle.norm_row(r) for r in got)
        self.out.record(
            rows == q.expected,
            f"{q.template}: {q.text}\n  got {rows[:5]}\n  want {q.expected[:5]}",
        )

    def _serve(self, pipe, wl: Workload, queries, writes) -> None:
        """Whole rounds of reads then writes; the next round's inputs and
        answers are made before its operations start."""
        t0 = time.perf_counter()
        for done in range(MAX_ROUNDS):
            if done >= wl.min_rounds and time.perf_counter() - t0 >= self.seconds:
                break
            round_q = next(queries) if wl.templates else []
            round_w = next(writes, None) if wl.writes else []
            if round_w is None:
                break
            for q in round_q:
                self._read(pipe, q)
            for w in round_w:
                self._write(pipe, w)

    def _read(self, pipe, q: oracle.Query) -> None:
        before = dir_bytes(pipe.io.root)
        with self.tr.span("op.query", template=q.template) as sp:
            self._query(pipe, q)
        self._op_sample(sp, q.template, dir_bytes(pipe.io.root) - before)

    def _write(self, pipe, w: oracle.Write) -> None:
        from r2s2_spark.sources.files import read_rdf_files

        before = set(os.listdir(pipe.io.root))
        with self.tr.span("op.write", kind=w.kind) as sp:
            try:
                if w.kind == "append":
                    pipe.append(read_rdf_files(self.spark, w.text))
                else:
                    pipe.update(w.text)
                err = None
            except Exception:
                err = traceback.format_exc(limit=3)
        self.out.record(err is None, f"{w.kind}: {w.text}\n{err}")
        new = sorted(set(os.listdir(pipe.io.root)) - before)
        self._op_sample(sp, w.kind, sum(dir_bytes(pipe.io.path(d)) for d in new))
        if err is None:
            self._write_counts(pipe, w.kind, sp, new)
        with self.tr.span("op.read_after_write") as raw:
            self._query(pipe, w.check)
        self.sample("read_after_write.ms", raw.seconds * 1e3)

    def _op_sample(self, sp, kind: str, written: int) -> None:
        """One serving operation: latency (also by template or write
        kind), Spark jobs, bytes written."""
        self.sample("op_ms", sp.seconds * 1e3)
        self.sample(f"op.{kind}.ms", sp.seconds * 1e3)
        self.sample("op.jobs", sp.jobs)
        self.sample("op.bytes", written)

    def _write_counts(self, pipe, kind: str, sp, new: list[str]) -> None:
        self.sample(f"write.{kind}.ms", sp.seconds * 1e3)
        self.sample(f"write.{kind}.jobs", sp.jobs)
        self.sample(f"write.{kind}.bytes", sum(dir_bytes(pipe.io.path(d)) for d in new))
        rewritten = 0
        for d in new:
            if pipe.io.is_committed(d):
                cat = pipe.io.read_catalog(d)
                rewritten += sum(
                    1
                    for t in cat.tables
                    if (t.path or f"{d}/tables/{t.name}").startswith(d + "/")
                )
        self.sample(f"write.{kind}.tables_rewritten", rewritten)

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        parent = os.path.dirname(self.run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
