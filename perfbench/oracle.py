"""Expected answers for the benchmark's queries and writes, in closed form.

Computed from the generator's quad set alone (never from the program):
every query carries its expected rows as a sorted list of string tuples,
every write its read-after-write query with the rows expected once the
write and all writes before it have applied, and the distinct-quad count
expected after it.

Answers are compared after :func:`norm_row`: values become strings, and
blank nodes, whose engine labels are hashes of the file, become ``_:``.
No triple is stored in two graphs (every statement of a subject shares
the subject's graph), so bag results over the union of graphs are
unambiguous.
"""

from __future__ import annotations

import os
import random
import re
from collections import Counter, defaultdict
from dataclasses import dataclass

from gen import (
    CLASSES,
    DEFAULT_GRAPH,
    NAMED_GRAPHS,
    NS,
    RDF_TYPE,
    Dataset,
    class_iri,
    iri,
    typed,
)

TEMPLATES = [
    "point",
    "star",
    "type_scan",
    "varpred_count",
    "range_filter",
    "optional_lang",
    "ask",
    "describe",
]
WRITE_KINDS = ["append", "insert_data", "delete_data", "delete_insert_where"]

_BNODE_LABEL = re.compile(r"^b-?\d+$")


def lex(term: str) -> str:
    """N-Triples term -> the value the engine returns for it."""
    if term.startswith("<"):
        return term[1:-1]
    if term.startswith("_:"):
        return "_:"
    body, _, _tail = term[1:].rpartition('"')
    return body


def norm_value(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    v = str(v)
    return "_:" if _BNODE_LABEL.match(v) else v


def norm_row(row) -> tuple:
    return tuple(norm_value(v) for v in row)


def rows(values) -> list[tuple]:
    return sorted(values, key=lambda r: tuple("" if v is None else v for v in r))


@dataclass
class Query:
    template: str
    text: str
    expected: list[tuple]


@dataclass
class Write:
    kind: str
    #: SPARQL Update text, or the directory of files to append
    text: str
    check: Query  # read-after-write
    expected_count: int


class Model:
    """Indexes over a mutable quad set."""

    def __init__(self, ds: Dataset):
        self.ds = ds
        self.quads = set(ds.quads)
        self.by_sp: dict = defaultdict(list)
        self.by_p: dict = defaultdict(list)
        self.by_s: dict = defaultdict(list)
        for s, p, o, _g in self.quads:
            self.by_sp[s, p].append(o)
            self.by_p[p].append((s, o))
            self.by_s[s].append((p, o))
        #: (subject, predicate) keys of the generated statements
        self.keys = sorted({(s, p) for s, p, _o, _g in ds.quads})
        self.p_iri = [p for p, k in ds.predicates if k == "iri"]
        self.p_int = [p for p, k in ds.predicates if k == "int"]
        self.p_str = next(p for p, k in ds.predicates if k == "string")
        self.p_lang = next(p for p, k in ds.predicates if k == "lang")

    def add(self, q: tuple) -> None:
        if q not in self.quads:
            self.quads.add(q)
            self.by_sp[q[0], q[1]].append(q[2])
            self.by_p[q[1]].append((q[0], q[2]))
            self.by_s[q[0]].append((q[1], q[2]))

    def remove(self, q: tuple) -> None:
        if q in self.quads:
            self.quads.remove(q)
            self.by_sp[q[0], q[1]].remove(q[2])
            self.by_p[q[1]].remove((q[0], q[2]))
            self.by_s[q[0]].remove((q[1], q[2]))

    def values(self, s: str, p: str) -> list[tuple]:
        return rows((lex(o),) for o in self.by_sp.get((s, p), []))

    def point(self, s: str, p: str) -> Query:
        return Query("point", f"SELECT ?o WHERE {{ {s} {iri(p)} ?o }}", self.values(s, p))


def _class_of(s: str) -> str:
    kind = s[len("<" + NS) :].split("/", 1)[0]
    return class_iri(next(c for c in CLASSES if c.lower() == kind))


def query_rounds(model: Model, rng: random.Random, templates):
    """Yield rounds of one query per template, in the given order (a
    template keeps its position, so its warm-up state is the same in
    every run)."""
    subjects = [iri(s) for s in model.ds.subjects]
    while True:
        yield [_query(model, rng, t, subjects) for t in templates]


def _query(m: Model, rng: random.Random, template: str, subjects: list[str]) -> Query:
    p_iri = m.p_iri[0]
    if template == "point":
        s, p = rng.choice([k for k in _sample_keys(m, rng) if m.by_sp[k]])
        return m.point(s, p)
    if template == "star":
        # subjects of one class that link to one target, with a name
        for _ in range(200):
            s0, t = rng.choice(m.by_p[p_iri])
            cls = _class_of(s0)
            got = [
                (lex(s), lex(n))
                for s, o in m.by_p[p_iri]
                if o == t and _class_of(s) == cls
                for n in m.by_sp.get((s, m.p_str), [])
            ]
            if got:
                break
        text = (
            f"SELECT ?s ?n WHERE {{ ?s {iri(p_iri)} {t} . "
            f"?s {iri(m.p_str)} ?n . ?s a {iri(cls)} }}"
        )
        return Query(template, text, rows(got))
    if template == "type_scan":
        cls = class_iri(rng.choice(m.ds.classes))
        n = sum(1 for _s, o in m.by_p[RDF_TYPE] if o == iri(cls))
        text = f"SELECT (COUNT(?s) AS ?n) WHERE {{ ?s a {iri(cls)} }}"
        return Query(template, text, [(str(n),)])
    if template == "varpred_count":
        s = rng.choice(subjects)
        counts = Counter(p for p, _o in m.by_s[s])
        text = f"SELECT ?p (COUNT(?o) AS ?n) WHERE {{ {s} ?p ?o }} GROUP BY ?p"
        return Query(template, text, rows((p, str(c)) for p, c in counts.items()))
    if template == "range_filter":
        p = m.p_int[0]
        vals = m.by_p[p]
        width = max(1, 100_000 * 20 // max(1, len(vals)))
        lo = rng.randrange(0, 100_000 - width)
        got = [(lex(s), lex(o)) for s, o in vals if lo <= int(lex(o)) < lo + width]
        text = (
            f"SELECT ?s ?v WHERE {{ ?s {iri(p)} ?v "
            f"FILTER(?v >= {lo} && ?v < {lo + width}) }}"
        )
        return Query(template, text, rows(got))
    if template == "optional_lang":
        s = rng.choice([s for s, _o in m.by_p[p_iri]])
        got = []
        for o in m.by_sp[s, p_iri]:
            labels = [lex(x) for x in m.by_sp.get((o, m.p_lang), []) if x.endswith("@en")]
            got += [(lex(o), lb) for lb in labels] or [(lex(o), None)]
        text = (
            f"SELECT ?o ?l WHERE {{ {s} {iri(p_iri)} ?o . OPTIONAL {{ "
            f'?o {iri(m.p_lang)} ?l FILTER(lang(?l) = "en") }} }}'
        )
        return Query(template, text, rows(got))
    if template == "ask":
        s, p = rng.choice([k for k in _sample_keys(m, rng) if m.by_sp[k]])
        o = rng.choice(m.by_sp[s, p])
        if rng.random() < 0.5 or o.startswith("_:"):
            # an absent object of the same shape
            o = iri(NS + "absent/1") if not o.startswith('"') else '"absent"'
        hit = o in m.by_sp[s, p]
        text = f"ASK {{ {s} {iri(p)} {o} }}"
        return Query(template, text, [("true" if hit else "false",)])
    s = rng.choice(subjects)
    got = [(lex(s), p, lex(o)) for p, o in m.by_s[s]]
    return Query("describe", f"DESCRIBE {s}", rows(got))


def _sample_keys(m: Model, rng: random.Random) -> list[tuple[str, str]]:
    """A few (subject, predicate) keys of generated statements. IRI
    subjects only: a blank node in a query pattern is a variable."""
    keys = rng.sample(m.keys, min(32, len(m.keys)))
    return [k for k in keys if not k[0].startswith("_:")]


def write_rounds(model: Model, rng: random.Random, kinds, append_root: str):
    """Yield rounds of writes, one per kind in ``kinds``, each with its
    read-after-write query and the quad count expected after it. The
    model is mutated as writes are yielded; ``append`` batches are
    written as files under ``append_root``. Stops when no subject is left
    for the delete forms."""
    p_int = model.p_int[0]
    # default-graph subjects with a first-int statement, each the target
    # of one append or delete form
    victims = sorted(
        s
        for (s, p), os_ in model.by_sp.items()
        if p == p_int and os_ and model.ds.graph_of.get(s[1:-1]) == DEFAULT_GRAPH
    )
    rng.shuffle(victims)
    k = 0
    while True:
        out: list[Write] = []
        for kind in kinds:
            if kind != "insert_data" and not victims:
                return
            out.append(_write(model, rng, kind, k, victims, append_root))
            k += 1
        yield out


def _write(model: Model, rng: random.Random, kind: str, k: int, victims: list, root: str):
    p_int, p_int2 = model.p_int[0], model.p_int[-1]
    if kind == "append":
        text, check = _append_batch(model, rng, k, victims.pop(), os.path.join(root, str(k)))
    elif kind == "insert_data":
        u = iri(f"{NS}upd/i{k}")
        cls = model.ds.classes[k % len(model.ds.classes)]
        new = [
            (u, RDF_TYPE, iri(class_iri(cls)), DEFAULT_GRAPH),
            (u, p_int, _int_literal(rng), DEFAULT_GRAPH),
            (u, model.p_str, f'"inserted {k}"', DEFAULT_GRAPH),
        ]
        for q in new:
            model.add(q)
        body = " . ".join(f"{s} {iri(p)} {o}" for s, p, o, _g in new)
        text = f"INSERT DATA {{ {body} }}"
        check = model.point(u, p_int)
    elif kind == "delete_data":
        s = victims.pop()
        o = rng.choice(model.by_sp[s, p_int])
        model.remove((s, p_int, o, DEFAULT_GRAPH))
        text = f"DELETE DATA {{ {s} {iri(p_int)} {o} }}"
        check = model.point(s, p_int)
    else:
        s = victims.pop()
        for o in list(model.by_sp[s, p_int]):
            model.remove((s, p_int, o, DEFAULT_GRAPH))
            model.add((s, p_int2, o, DEFAULT_GRAPH))
        text = (
            f"DELETE {{ {s} {iri(p_int)} ?o }} INSERT {{ {s} {iri(p_int2)} ?o }} "
            f"WHERE {{ {s} {iri(p_int)} ?o }}"
        )
        check = model.point(s, p_int2)
    return Write(kind, text, check, len(model.quads))


def _int_literal(rng: random.Random) -> str:
    return typed(str(rng.randrange(100_000)), "int")


def _append_batch(model: Model, rng: random.Random, k: int, d: str, out_dir: str):
    """An N-Triples and an N-Quads file of first-int statements: a fresh
    subject's value in a named graph, a new value for the existing subject
    ``d`` and every value ``d`` already has again. The batch touches one
    table, so an append is the delta path at its cheapest: parse, extend
    the dictionaries, anti-join one table. The read-after-write query
    reads ``d``'s values, so a lost append and a duplicated statement both
    show in its rows."""
    os.makedirs(out_dir, exist_ok=True)
    p_int = model.p_int[0]
    u = iri(f"{NS}upd/a{k}")
    g = NAMED_GRAPHS[k % len(NAMED_GRAPHS)]
    quads = [
        (u, p_int, _int_literal(rng), g),
        (d, p_int, _int_literal(rng), DEFAULT_GRAPH),
    ]
    quads += [(d, p_int, o, DEFAULT_GRAPH) for o in model.by_sp[d, p_int]]
    with open(os.path.join(out_dir, "new.nt"), "w", encoding="utf-8") as f:
        f.writelines(f"{s} {iri(p)} {o} .\n" for s, p, o, gg in quads if gg == DEFAULT_GRAPH)
    with open(os.path.join(out_dir, "more.nq"), "w", encoding="utf-8") as f:
        f.writelines(
            f"{s} {iri(p)} {o} {iri(gg)} .\n" for s, p, o, gg in quads if gg != DEFAULT_GRAPH
        )
    for q in quads:
        model.add(q)
    return out_dir, model.point(d, p_int)
