"""Seeded input generator and oracle for the KG-construction benchmark.

Pure Python, single process, no Spark: it writes RDF dump files
(N-Triples, Turtle and N-Quads, some gzipped) and keeps the same
statements as an in-memory quad set, from which it computes, in closed
form, the expected distinct-quad count and the expected answer of every
query and write. The program under test only ever sees the files.

Term mix (each item drives one layout pass of stage O):

- ``rdf:type`` to up to four classes (type split);
- ``xsd:int``, ``xsd:date`` and ``xsd:gYear`` literals (narrowing);
- language-tagged strings in three languages;
- numeric-tail IRIs under four shared prefixes (prefix factoring);
- blank nodes (address objects that carry a statement of their own);
- three named graphs beside the default graph;
- about 2% of statements repeated in another file of the same graph, so
  the load must apply set semantics.
"""

from __future__ import annotations

import gzip
import os
import random
from dataclasses import dataclass, field

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"
NS = "http://bench.example.org/"
#: graph of statements read from triple syntaxes (the engine's default)
DEFAULT_GRAPH = "http://example.org/graph"
NAMED_GRAPHS = [f"{NS}graph/{i}" for i in range(3)]
CLASSES = ["Person", "Organization", "Document", "Place"]
LANGS = ["en", "de", "fr"]
STREET = NS + "street"

#: ~10 predicates, Zipf-weighted by rank (rdf:type aside), every kind
DEEP_PREDICATES = (
    ("knows", "iri"),
    ("label", "lang"),
    ("score", "int"),
    ("name", "string"),
    ("born", "date"),
    ("year", "gyear"),
    ("worksFor", "iri"),
    ("address", "bnode"),
    ("age", "int"),
)
#: a few tables only: the write base KG, whose load is per-table overhead
LEAN_PREDICATES = (
    ("knows", "iri"),
    ("label", "lang"),
    ("score", "int"),
    ("name", "string"),
    ("age", "int"),
)


@dataclass(frozen=True)
class Shape:
    """Size and vocabulary of one generated dataset."""

    predicates: tuple  # (local name, object kind) besides rdf:type
    statements: int  # approximate statements before duplication
    files: int
    zipf: float  # predicate-frequency exponent (0 = uniform)
    classes: int = len(CLASSES)  # subject classes (and IRI prefixes) used
    langs: int = len(LANGS)  # language tags used


SHAPES = {
    # parse / dictionary / routing-shuffle heavy: few, large tables
    "deep": Shape(DEEP_PREDICATES, statements=50_000, files=16, zipf=1.0, classes=2, langs=2),
    # write base: small and lean
    "base": Shape(LEAN_PREDICATES, statements=1_000, files=4, zipf=0.5, classes=1, langs=1),
    # harness self-test
    "tiny": Shape(DEEP_PREDICATES, statements=400, files=6, zipf=1.0),
}


def iri(x: str) -> str:
    return f"<{x}>"


def typed(lex: str, dt: str) -> str:
    return f'"{lex}"^^<{XSD}{dt}>'


def subject_iri(i: int, classes: int) -> str:
    """Numeric-tail IRI under one of ``classes`` shared prefixes; the
    prefix names the subject's class."""
    return f"{NS}{CLASSES[i % classes].lower()}/{i}"


def class_iri(name: str) -> str:
    return f"{NS}class/{name}"


@dataclass
class Dataset:
    """Generated statements and what the oracle needs to know of them.

    A quad is ``(s, p, o, g)`` with ``s``/``o`` in N-Triples term syntax,
    ``p`` and ``g`` bare IRIs. Blank-node labels are unique across the
    whole dataset and each one lives in a single file, so label identity
    equals the engine's (file, label) identity."""

    quads: set = field(default_factory=set)
    classes: list[str] = field(default_factory=list)
    emitted: int = 0  # statement lines written, duplicates included
    files: list[str] = field(default_factory=list)
    predicates: list[tuple[str, str]] = field(default_factory=list)
    subjects: list[str] = field(default_factory=list)
    #: subject IRI -> graph IRI (every statement of a subject shares it)
    graph_of: dict = field(default_factory=dict)


def _object(rng: random.Random, kind: str, shape: Shape, n_subjects: int, bnodes: list) -> str:
    if kind == "iri":
        return iri(subject_iri(rng.randrange(n_subjects), shape.classes))
    if kind == "lang":
        lang = rng.choice(LANGS[: shape.langs])
        word = {"en": "street", "de": "straße", "fr": "rue"}[lang]
        return f'"{word} {rng.randrange(10_000)}"@{lang}'
    if kind == "int":
        return typed(str(rng.randrange(100_000)), "int")
    if kind == "string":
        return f'"name {rng.randrange(50_000)}"'
    if kind == "date":
        y, m, d = rng.randrange(1900, 2021), rng.randrange(1, 13), rng.randrange(1, 29)
        return typed(f"{y:04d}-{m:02d}-{d:02d}", "date")
    if kind == "gyear":
        return typed(str(rng.randrange(1500, 2021)), "gYear")
    label = f"_:a{len(bnodes)}"
    bnodes.append(label)
    return label


def _weights(n: int, zipf: float) -> list[float]:
    return [1.0 / (k + 1) ** zipf for k in range(n)]


def _line(s: str, p: str, o: str, g: str | None) -> str:
    return f"{s} {iri(p)} {o} {iri(g)} .\n" if g else f"{s} {iri(p)} {o} .\n"


def _turtle_object(o: str) -> str:
    for dt in ("int", "date", "gYear"):
        suffix = f"^^<{XSD}{dt}>"
        if o.endswith(suffix):
            return o[: -len(suffix)] + f"^^xsd:{dt}"
    return o


def _turtle_block(s: str, stmts: list[tuple[str, str]]) -> str:
    """One subject as a Turtle block: ``a`` for rdf:type, ``;`` lists and
    the ``xsd:`` prefix for datatypes."""
    parts = []
    for p, o in stmts:
        pred = "a" if p == RDF_TYPE else iri(p)
        parts.append(f"{pred} {_turtle_object(o)}")
    return f"{s} " + " ;\n    ".join(parts) + " .\n"


TURTLE_HEADER = f"@prefix xsd: <{XSD}> .\n"


def _write(path: str, text: str) -> None:
    data = text.encode("utf-8")
    if path.endswith(".gz"):
        # mtime=0: identical inputs give identical bytes
        data = gzip.compress(data, mtime=0)
    with open(path, "wb") as f:
        f.write(data)


def generate(out_dir: str, shape: Shape, seed: int) -> Dataset:
    """Write ``shape.files`` dump files under ``out_dir`` and return the
    dataset with its quad set."""
    rng = random.Random(seed)
    preds = [(NS + name, kind) for name, kind in shape.predicates]
    weights = _weights(len(preds), shape.zipf)
    n_subjects = max(8, shape.statements // 6)
    ds = Dataset(predicates=preds, classes=CLASSES[: shape.classes])
    # subject index -> [(p, o)]: a subject's statements stay in one file
    blocks: dict[int, list] = {i: [] for i in range(n_subjects)}
    bnodes: list[str] = []
    bnode_stmts: dict[str, tuple[str, str]] = {}
    for i in range(n_subjects):
        blocks[i].append((RDF_TYPE, iri(class_iri(ds.classes[i % shape.classes]))))
    picks = rng.choices(range(len(preds)), weights=weights, k=shape.statements - n_subjects)
    for k in picks:
        p, kind = preds[k]
        s = rng.randrange(n_subjects)
        o = _object(rng, kind, shape, n_subjects, bnodes)
        blocks[s].append((p, o))
        if kind == "bnode":
            bnode_stmts[o] = (STREET, f'"street {rng.randrange(10_000)}"')
    n_default = max(1, (shape.files * 2) // 3)
    default_files = [
        f"part-{j:03d}." + ["nt", "nt.gz", "ttl", "ttl.gz"][j % 4] for j in range(n_default)
    ]
    named_files = [
        f"part-{j:03d}." + ["nq", "nq.gz"][j % 2] for j in range(n_default, shape.files)
    ]
    content: dict[str, list[str]] = {f: [] for f in default_files + named_files}
    # (file, quad) pairs eligible for repetition in a sibling file
    plain: list[tuple[str, tuple]] = []
    for i in range(n_subjects):
        s = iri(subject_iri(i, shape.classes))
        named = rng.random() < 0.4
        g = rng.choice(NAMED_GRAPHS) if named else DEFAULT_GRAPH
        ds.subjects.append(s[1:-1])
        ds.graph_of[s[1:-1]] = g
        fname = rng.choice(named_files if named else default_files)
        stmts = blocks[i]
        extra = [(o, *bnode_stmts[o]) for _p, o in stmts if o in bnode_stmts]
        if ".ttl" in fname:
            text = _turtle_block(s, stmts)
            for b, bp, bo in extra:
                text += _turtle_block(b, [(bp, bo)])
        else:
            gl = g if named else None
            text = "".join(_line(s, p, o, gl) for p, o in stmts)
            text += "".join(_line(b, bp, bo, gl) for b, bp, bo in extra)
        content[fname].append(text)
        for p, o in stmts:
            ds.quads.add((s, p, o, g))
            ds.emitted += 1
            if not o.startswith("_:"):
                plain.append((fname, (s, p, o, g)))
        for b, bp, bo in extra:
            ds.quads.add((b, bp, bo, g))
            ds.emitted += 1
    # repeat ~2% of plain statements in another file of the same family
    for fname, (s, p, o, g) in rng.sample(plain, len(plain) // 50):
        family = named_files if g != DEFAULT_GRAPH else default_files
        other = [f for f in family if f != fname] or family
        dest = rng.choice(other)
        if ".ttl" in dest:
            content[dest].append(_turtle_block(s, [(p, o)]))
        else:
            content[dest].append(_line(s, p, o, g if g != DEFAULT_GRAPH else None))
        ds.emitted += 1
    os.makedirs(out_dir, exist_ok=True)
    for fname, chunks in content.items():
        header = TURTLE_HEADER if ".ttl" in fname else ""
        _write(os.path.join(out_dir, fname), header + "".join(chunks))
        ds.files.append(fname)
    return ds
