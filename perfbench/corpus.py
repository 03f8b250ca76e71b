"""Seeded input generator for the benchmark workloads.

Kept apart from ``turtle_spark.sources.corpus`` on purpose: the
benchmark's inputs must not move when the library's own generator
changes.  Documents have the pipeline's input shape::

    docs(doc_id: string,
         spans: array<struct<kind, text, media_ref, offset:int>>)

Two document shapes:

* ``mixed`` - 1-4 composed Turtle text spans (about 1 in 8 is a golden
  fixture verbatim) and 0-3 media spans, interleaved.  The composed
  IRIs are drawn from ~175k local names across seven namespaces, so
  the distinct-term count grows with the corpus and linking dominates.
* ``small_vocab`` - 1-4 golden fixtures per document and no media: the
  IRIs come from the fixtures' fixed vocabulary of a few dozen terms,
  so parse, the Arrow hop, dedup and the bucketed write do the work.

Same ``(shape, n_docs, seed)`` gives byte-identical documents.
"""

from __future__ import annotations

import json
import pathlib
import random

import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = pathlib.Path(__file__).resolve().parent / "fixtures.json"

PREFIXES = [
    ("foaf", "http://xmlns.com/foaf/0.1/"),
    ("rel", "http://www.perceive.net/schemas/relationship/"),
    ("schema", "https://schema.org/"),
    ("dc", "http://purl.org/dc/terms/"),
    ("brick", "https://brickschema.org/schema/Brick#"),
    ("qudt", "http://qudt.org/schema/qudt/"),
    ("", "http://example.org/stuff/1.0/"),
]
NAMES = [
    "Alice", "Bob", "Carol", "Dan", "Eve", "Frank", "Grace", "Heidi",
    "Iván", "Judy", "Mallory", "Niaj", "Olivia", "Peggy", "Человек-паук",
]
WORDS = (
    "graph turtle parser stream shuffle partition entity mention link "
    "canonical subject predicate object literal prefix base collection "
    "blank node span media corpus executor broadcast salt skew"
).split()

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])


def fixture_texts() -> list[str]:
    with open(FIXTURES, encoding="utf-8") as f:
        cases = json.load(f)
    return [cases[name] for name in sorted(cases)]


def _literal(rng: random.Random) -> str:
    roll = rng.random()
    if roll < 0.45:
        lit = '"' + " ".join(rng.sample(WORDS, rng.randint(1, 4))) + '"'
        if rng.random() < 0.3:
            lit += "@" + rng.choice(["en", "cs", "ru", "de"])
        elif rng.random() < 0.3:
            lit += "^^xsd:string"
        return lit
    if roll < 0.6:
        return rng.choice(["1", "2.0", "3E1", "-2.3E-12", "42E3", "1e0", "false"])
    if roll < 0.75:
        lines = [" ".join(rng.sample(WORDS, 3)) for _ in range(2)]
        return '"""' + "\n".join(lines) + '"""'
    if roll < 0.9:
        return '"escaped \\" quote ' + rng.choice(WORDS) + '"'
    return f'"{rng.choice(NAMES)}"'


def _object(rng: random.Random, pfx: str) -> str:
    roll = rng.random()
    if roll < 0.5:
        return _literal(rng)
    if roll < 0.75:
        return f"{pfx}:{rng.choice(WORDS)}_{rng.randint(0, 99)}"
    if roll < 0.85:
        return f"[ {pfx}:note {_literal(rng)} ]"
    if roll < 0.95:
        items = " ".join(_literal(rng) for _ in range(rng.randint(1, 3)))
        return f"( {items} )"
    return f"<http://example.org/thing/{rng.randint(0, 9999)}>"


def _compose(rng: random.Random) -> str:
    """One self-contained Turtle chunk: prefix declaration, then 2-6
    statements with ``;``/``,`` lists, blank-node property lists,
    collections, multiline, escaped and numeric literals."""
    tag, iri = rng.choice(PREFIXES)
    lines = [f"@prefix {tag}: <{iri}> ."]
    for _ in range(rng.randint(2, 6)):
        subj = f"{tag}:{rng.choice(WORDS)}{rng.randint(0, 999)}"
        preds = []
        for _ in range(rng.randint(1, 3)):
            pred = rng.choice([f"{tag}:{rng.choice(WORDS)}", "a"])
            if pred == "a":
                objs = [f"{tag}:{rng.choice(WORDS).capitalize()}"]
            else:
                objs = [_object(rng, tag) for _ in range(rng.randint(1, 2))]
            preds.append(f"{pred} {', '.join(objs)}")
        lines.append(f"{subj} {' ; '.join(preds)} .")
    return "\n".join(lines)


def _doc(shape: str, i: int, seed: int, fixtures: list[str]) -> tuple[str, list]:
    rng = random.Random(f"{shape}/{seed}/{i}")
    doc_id = f"doc-{i:09d}"
    spans = []
    for _ in range(rng.randint(1, 4)):
        if shape == "small_vocab" or rng.random() < 0.125:
            text = fixtures[rng.randrange(len(fixtures))]
        else:
            text = _compose(rng)
        spans.append(("text", text, ""))
    if shape == "mixed":
        spans += [("media", "", f"media://{doc_id}/{m}") for m in range(rng.randint(0, 3))]
    rng.shuffle(spans)
    # strictly increasing offsets give the span order the parser sees
    return doc_id, [
        {"kind": k, "text": t, "media_ref": m, "offset": j * 100 + rng.randint(0, 99)}
        for j, (k, t, m) in enumerate(spans)
    ]


def generate(shape: str, n_docs: int, seed: int) -> list[tuple[str, list]]:
    fixtures = fixture_texts()
    return [_doc(shape, i, seed, fixtures) for i in range(n_docs)]


def doc_texts(docs: list[tuple[str, list]]) -> list[tuple[str, str]]:
    """(doc_id, text) as extraction assembles it: text spans in offset
    order, joined by newlines."""
    return [
        (doc_id, "\n".join(s["text"] for s in sorted(spans, key=lambda s: s["offset"]) if s["kind"] == "text"))
        for doc_id, spans in docs
    ]


def write_parquet(docs: list[tuple[str, list]], path: pathlib.Path, n_files: int) -> None:
    """Write the corpus as ``n_files`` parquet files under ``path``."""
    path.mkdir(parents=True, exist_ok=True)
    step = -(-len(docs) // n_files)
    for k in range(n_files):
        part = docs[k * step : (k + 1) * step]
        table = pa.table(
            {"doc_id": [d[0] for d in part], "spans": [d[1] for d in part]},
            schema=DOCS_SCHEMA,
        )
        pq.write_table(table, path / f"part-{k:05d}.parquet")
