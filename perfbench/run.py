"""KG-construction benchmark: one run of one workload.

    python3 perfbench/run.py --workload deep --seed 1 --seconds 5 --trace 0

Run from the repository root. Prints every metric with its unit, one per
line, then as the last line one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics (from a traced run) with
``--trace 1``. ``--spans FILE`` also writes the traced run's spans as
JSON lines. Workloads and metrics are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import sys

import workload
from workload import median, tail

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: (name, unit) printed with --trace 0
END_TO_END = [
    ("setup_s", "s"),
    ("stored_bytes_per_triple", "B"),
    ("work_bytes_per_triple", "B"),
    ("op_ms", "ms"),
]

#: (name, unit) printed with --trace 1; every workload has all of them
PER_LAYER = [
    ("session.start_s", "s"),
    ("load.s", "s"),
    ("load.triples_per_s", "1/s"),
    ("e.s", "s"),
    ("e.stmts_per_s", "1/s"),
    ("e.jobs", "count"),
    ("e.bytes", "B"),
    ("e.parse_error_ratio", "ratio"),
    ("d.s", "s"),
    ("d.jobs", "count"),
    ("v.s", "s"),
    ("v.jobs", "count"),
    ("v.bytes", "B"),
    ("v.tables", "count"),
    ("o.s", "s"),
    ("o.probe_s", "s"),
    ("o.dicts_s", "s"),
    ("o.optimize_s", "s"),
    ("o.jobs", "count"),
    ("o.bytes", "B"),
    ("m.s", "s"),
    ("m.read_s", "s"),
    ("m.jobs", "count"),
    ("m.merges", "count"),
    ("m.bytes", "B"),
    ("catalog.tables", "count"),
    ("work.bytes", "B"),
    ("q.compile_ms_p50", "ms"),
    ("q.exec_ms_p50", "ms"),
    ("q.compile_jobs", "count"),
    ("q.exec_jobs", "count"),
    ("op.samples", "count"),
    ("op.tail_ms", "ms"),
    ("op.tail_pct", "%"),
    ("op.jobs_p50", "count"),
    ("op.bytes_p50", "B"),
    ("load.unattributed_ms", "ms"),
    ("op.unattributed_ms_p50", "ms"),
    ("trace.overhead_ms", "ms"),
    ("failed_ratio", "ratio"),
    ("peak_rss_mb", "MB"),
    ("rss.jvm_mb", "MB"),
    ("rss.python_mb", "MB"),
    ("rss.python_procs", "count"),
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the traced run's spans here (JSON lines)")
    return ap.parse_args(argv)


def end_to_end(r) -> dict[str, float]:
    m = r.m
    return {
        "setup_s": m["setup_s"],
        "stored_bytes_per_triple": m.get("stored_bytes_per_triple", math.nan),
        "work_bytes_per_triple": m.get("work_bytes_per_triple", math.nan),
        "op_ms": workload.op_ms(r.samples),
    }


def per_layer(r) -> tuple[dict[str, float], dict[str, tuple[float, str]]]:
    """-> (the PER_LAYER metrics, workload-specific details for the
    report: per-template and per-write-kind numbers)."""
    tr, s, m = r.tr, r.samples, r.m

    def med(name):
        return median(s.get(name, []))

    out = {k: m.get(k, math.nan) for k, _u in PER_LAYER}
    load = next((sp for sp in tr.spans if sp.name == "op.load"), None)
    if load is not None:
        for sp in tr.children(load):
            if sp.name in ("E", "D", "V", "O", "M"):
                out[f"{sp.name.lower()}.s"] = sp.seconds
                out[f"{sp.name.lower()}.jobs"] = sp.jobs
        out["load.unattributed_ms"] = tr.self_seconds(load) * 1e3
    out["e.stmts_per_s"] = m.get("e.statements", math.nan) / out["e.s"]
    out["q.compile_ms_p50"] = med("query.compile_ms")
    out["q.exec_ms_p50"] = med("query.exec_ms")
    out["q.compile_jobs"] = med("query.compile_jobs")
    out["q.exec_jobs"] = med("query.exec_jobs")
    out["op.samples"] = len(s.get("op_ms", []))
    out["op.tail_ms"], out["op.tail_pct"] = tail(s.get("op_ms", []))
    out["op.jobs_p50"] = med("op.jobs")
    out["op.bytes_p50"] = med("op.bytes")
    ops = [sp for sp in tr.spans if sp.name in ("op.query", "op.write")]
    out["op.unattributed_ms_p50"] = median([tr.self_seconds(sp) * 1e3 for sp in ops])
    out["trace.overhead_ms"] = tr.overhead_s * 1e3
    out["failed_ratio"] = r.out.failed / max(1, r.out.attempted)

    details = {
        f"{key}_p50": (med(key), "ms" if key.endswith(".ms") else
                       "B" if key.endswith(".bytes") else "count")
        for key in sorted(s)
        if key.startswith(("q.", "write.", "read_after_write."))
    }
    return out, details


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "r2s2_spark")):
        print(f"perfbench: the r2s2_spark package is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workload.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    r = workload.Runner(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    try:
        r.run()
    finally:
        r.cleanup()
    for err in r.out.errors:
        workload.log(f"FAILED {err}")
    details = {}
    if args.trace:
        values, details = per_layer(r)
        units = dict(PER_LAYER)
        if args.spans:
            r.tr.dump(args.spans)
    else:
        values, units = end_to_end(r), dict(END_TO_END)
    for name, value in values.items():
        print(f"{name} = {value:.6g} {units[name]}")
    for name, (value, unit) in details.items():
        print(f"  {name} = {value:.6g} {unit}")
    print(f"operations attempted = {r.out.attempted}, failed = {r.out.failed}")
    result = {
        "correct": r.out.failed == 0,
        "attempted": r.out.attempted,
        "failed": r.out.failed,
        "metrics": {
            k: {"value": v if math.isfinite(v) else None, "unit": units[k]}
            for k, v in values.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
