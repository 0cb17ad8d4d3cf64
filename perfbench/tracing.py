"""Spans, Spark job counts and peak RSS for the benchmark.

A :class:`Tracer` is used by the same workload code in both modes. Every
``span`` times its block with ``time.perf_counter``; with tracing on it
also keeps the span (name, start, end, parent id, run id, Spark job
count) in memory, and :func:`instrument` wraps the program's public entry
points so that each call into a layer opens a child span. Spans are
written out once, by :meth:`Tracer.dump`, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "parent", "name", "attrs", "start", "end", "jobs")

    def __init__(self, sid: int, parent: int | None, name: str, attrs: dict):
        self.id, self.parent, self.name, self.attrs = sid, parent, name, attrs
        self.start = self.end = 0.0
        self.jobs = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Times blocks; with ``enabled`` also records them as spans.

    ``jobs`` returns the number of Spark jobs submitted so far; it is
    read at both ends of a recorded span. Time spent recording (job
    counter reads included) is summed in ``overhead_s``."""

    def __init__(self, enabled: bool, run_id: str, jobs=None):
        self.enabled = enabled
        self.run_id = run_id
        self.jobs = jobs or (lambda: 0)
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            sp = Span(-1, None, name, attrs)
            sp.start = time.perf_counter()
            try:
                yield sp
            finally:
                sp.end = time.perf_counter()
            return
        t_in = time.perf_counter()
        sp = Span(len(self.spans), self._stack[-1] if self._stack else None, name, attrs)
        self.spans.append(sp)
        self._stack.append(sp.id)
        j0 = self.jobs()
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t_in
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.jobs = self.jobs() - j0
            self.overhead_s += time.perf_counter() - sp.end

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def self_seconds(self, sp: Span) -> float:
        """Span duration minus the part its children cover (children of
        one span never overlap: layer calls are made from one thread)."""
        return sp.seconds - sum(c.seconds for c in self.children(sp))

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w", encoding="utf-8") as f:
            for sp in self.spans:
                rec = {
                    "run": self.run_id,
                    "id": sp.id,
                    "parent": sp.parent,
                    "name": sp.name,
                    "start": sp.start,
                    "end": sp.end,
                    "jobs": sp.jobs,
                    **sp.attrs,
                }
                f.write(json.dumps(rec) + "\n")


def _wrap(tracer: Tracer, name: str, fn):
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    traced.__wrapped__ = fn
    return traced


#: (module, attribute, span name) of module-level layer entry points the
#: program looks up at call time
MODULE_LAYERS = [
    ("r2s2_spark.plans.sparql_text", "parse_sparql", "sparql_text.parse"),
    ("r2s2_spark.plans.sparql_update", "sparql_update", "sparql_update"),
    ("r2s2_spark.plans.sparql_update", "apply_update", "sparql_update.apply"),
    ("r2s2_spark.operators.extract", "parse_statements", "extract.parse"),
]

#: pipeline methods -> span name; wrapped per instance, so the calls
#: ``load``/``append``/``update`` make on ``self`` are seen too
PIPELINE_LAYERS = {
    "stage_e": "E",
    "stage_d": "D",
    "stage_v": "V",
    "stage_o": "O",
    "stage_m": "M",
    "triples": "r2rml.triples",
    "catalog": "catalog.read",
    "dicts": "catalog.dicts",
}


@contextmanager
def instrument(tracer: Tracer):
    """Wrap the module-level layer entry points while the block runs."""
    import importlib

    saved = []
    if tracer.enabled:
        for mod_name, attr, span_name in MODULE_LAYERS:
            mod = importlib.import_module(mod_name)
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, _wrap(tracer, span_name, getattr(mod, attr)))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def instrument_pipeline(tracer: Tracer, pipe) -> None:
    if tracer.enabled:
        for attr, span_name in PIPELINE_LAYERS.items():
            setattr(pipe, attr, _wrap(tracer, span_name, getattr(pipe, attr)))


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the Spark
    driver JVM and its Python workers), sampled from /proc; also the peak
    of the JVM alone, of the Python processes alone and their count.
    Samples nothing unless ``enabled``."""

    def __init__(self, enabled: bool = True, interval_s: float = 0.2):
        self.enabled = enabled
        self.interval_s = interval_s
        self.peak_bytes = self.peak_jvm_bytes = self.peak_python_bytes = 0
        self.max_python_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        if self.enabled:
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        jvm = python = procs = 0
        for pid in self._tree(os.getpid()):
            rss = self._rss(pid)
            if self._comm(pid) == "java":
                jvm += rss
            else:
                python += rss
                procs += 1
        self.peak_bytes = max(self.peak_bytes, jvm + python)
        self.peak_jvm_bytes = max(self.peak_jvm_bytes, jvm)
        self.peak_python_bytes = max(self.peak_python_bytes, python)
        self.max_python_procs = max(self.max_python_procs, procs)

    @staticmethod
    def _comm(pid: int) -> str:
        try:
            with open(f"/proc/{pid}/comm") as f:
                return f.read().strip()
        except OSError:
            return ""

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0

    @staticmethod
    def _tree(root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo += children.get(pid, [])
        return out
