"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py          # harness only, no Spark (seconds)
    python3 perfbench/selftest.py --e2e    # also one full run on a tiny KG

The fast part checks the generator, the oracle and the tracer without the
program. ``--e2e`` runs ``run.py --workload tiny`` (every query template
and every write form over a few hundred statements, about 90 s on four
cores) and requires every answer to be right.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import subprocess
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
from tracing import Tracer  # noqa: E402
from workload import tail  # noqa: E402


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            da = gen.generate(a, gen.SHAPES["tiny"], 7)
            db = gen.generate(b, gen.SHAPES["tiny"], 7)
            self.assertEqual(_digest(a), _digest(b))
            self.assertEqual(da.quads, db.quads)
            with tempfile.TemporaryDirectory() as c:
                gen.generate(c, gen.SHAPES["tiny"], 8)
                self.assertNotEqual(_digest(a), _digest(c))

    def test_term_mix(self):
        with tempfile.TemporaryDirectory() as d:
            ds = gen.generate(d, gen.SHAPES["tiny"], 1)
            exts = {name.split(".", 1)[1] for name in ds.files}
            self.assertEqual(exts, {"nt", "nt.gz", "ttl", "ttl.gz", "nq", "nq.gz"})
            objs = [o for _s, _p, o, _g in ds.quads]
            for marker in ("XMLSchema#int>", "XMLSchema#date>", "XMLSchema#gYear>", "@en"):
                self.assertTrue(any(o.endswith(marker) for o in objs), marker)
            self.assertTrue(any(o.startswith("_:") for o in objs))
            self.assertGreaterEqual(len({g for *_x, g in ds.quads}), 3)
            # repeated statements make the emitted count exceed the set
            self.assertGreater(ds.emitted, len(ds.quads))


class OracleTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.ds = gen.generate(self.tmp.name, gen.SHAPES["tiny"], 3)

    def tearDown(self):
        self.tmp.cleanup()

    def test_every_template_has_an_answer(self):
        model = oracle.Model(self.ds)
        rounds = oracle.query_rounds(model, random.Random(1), oracle.TEMPLATES)
        first = next(rounds)
        self.assertEqual([q.template for q in first], oracle.TEMPLATES)
        for q in first:
            self.assertEqual(q.expected, oracle.rows(q.expected))

    def test_writes_track_the_count(self):
        model = oracle.Model(self.ds)
        n0 = len(model.quads)
        with tempfile.TemporaryDirectory() as root:
            rounds = oracle.write_rounds(model, random.Random(2), oracle.WRITE_KINDS, root)
            writes = next(rounds)
            self.assertEqual([w.kind for w in writes], oracle.WRITE_KINDS)
            append = writes[0]
            # appended duplicates do not count, new statements do
            self.assertEqual(append.expected_count, n0 + 2)
            self.assertTrue(os.path.isfile(os.path.join(append.text, "new.nt")))
            insert, delete, modify = writes[1:]
            self.assertEqual(insert.expected_count, append.expected_count + 3)
            self.assertEqual(delete.expected_count, insert.expected_count - 1)
            self.assertEqual(modify.expected_count, delete.expected_count)

    def test_normalisation(self):
        self.assertEqual(oracle.norm_row((True, 3, None, "b-12", "x")),
                         ("true", "3", None, "_:", "x"))
        self.assertEqual(oracle.lex('"7"^^<http://www.w3.org/2001/XMLSchema#int>'), "7")
        self.assertEqual(oracle.lex('"a b"@en'), "a b")
        self.assertEqual(oracle.lex("<http://x/1>"), "http://x/1")


class TracerTest(unittest.TestCase):
    def test_self_time_and_parents(self):
        tr = Tracer(True, "t")
        with tr.span("op") as op:
            with tr.span("a"):
                time.sleep(0.02)
            with tr.span("b"):
                time.sleep(0.01)
        a, b = tr.children(op)
        self.assertEqual((a.parent, b.parent), (op.id, op.id))
        self.assertAlmostEqual(tr.self_seconds(op), op.seconds - a.seconds - b.seconds)
        self.assertLess(tr.self_seconds(op), 0.01)

    def test_untraced_records_nothing_but_times(self):
        tr = Tracer(False, "t")
        with tr.span("op") as op:
            time.sleep(0.01)
        self.assertEqual(tr.spans, [])
        self.assertGreater(op.seconds, 0.005)

    def test_tail(self):
        self.assertEqual(tail([3.0, 1.0, 2.0]), (3.0, 100.0))
        xs = [float(i) for i in range(100)]
        self.assertEqual(tail(xs), (89.0, 90.0))


class EndToEndTest(unittest.TestCase):
    def test_tiny_run_is_correct(self):
        root = os.path.dirname(HERE)
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "tiny",
             "--seed", "1", "--seconds", "1", "--trace", "1"],
            cwd=root, capture_output=True, text=True, timeout=900,
        )
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(result["correct"], p.stderr[-4000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1 + 8 + 2 * 4)


if __name__ == "__main__":
    e2e = "--e2e" in sys.argv
    argv = [a for a in sys.argv if a != "--e2e"]
    if not e2e:
        del EndToEndTest
    unittest.main(argv=argv)
