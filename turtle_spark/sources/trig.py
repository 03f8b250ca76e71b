"""TriG source/sink — named-graph Turtle (RDF 1.1 TriG, W3C REC).

Completes the serialization family next to Turtle (``operators/
serialize.py``), N-Triples and N-Quads (``sources/ntriples.py`` /
``nquads.py``): TriG is Turtle plus ``<graph> { ... }`` blocks, the
human-readable interchange form for provenance-partitioned graphs
(one block per source document in this engine's quad model).

Encode is distributed per GRAPH: each named graph's triples render
through the same pure-Python sorted-Turtle core the reference's
layout fixtures pin (``core/serializer.py::GraphBuffer``, reference
``graph/graph.go:101-149``) inside one ``applyInPandas`` group —
graphs are document-scoped in this engine's model, so a group is
bounded by the largest source document, never by the corpus.  The
scalable surface is ``graph_blocks`` (one rendered block per graph,
writable straight to a sink); ``trig_text`` collects and is for small
outputs only, mirroring ``operators/serialize.py::turtle_text``.

Decode: TriG is NOT line-splittable (strings and blocks cross lines),
so — exactly like the Turtle read path — the unit of parallelism is
the DOCUMENT: one TriG document per row, split into graph blocks by a
literal-aware brace scanner, each block's body handed to the core
Turtle parser with the document's directives prepended.  The scanner
only needs to find TOP-LEVEL braces outside literals/comments/IRIs
(TriG graph blocks cannot nest), so it is a small exact state machine,
not a grammar re-implementation.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from turtle_spark.core.serializer import pragma_lines
from turtle_spark.sources.nquads import QUAD_SCHEMA

__all__ = ["graph_blocks", "trig_text", "read_trig", "split_graph_blocks"]

_LAST_TOKEN_RE = re.compile(r"(\S+)\s*$")

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("graph", T.StringType()),
        T.StructField("block", T.StringType()),
    ]
)


# --------------------------------------------------------------------------
# encode
# --------------------------------------------------------------------------

def graph_blocks(
    quads: DataFrame,
    base: str = "",
    prefixes: dict[str, str] | None = None,
) -> DataFrame:
    """One rendered TriG block per named graph: ``(graph, block)``.

    ``block`` is ``<graph-iri> {\\n<sorted compact turtle>}\\n`` —
    subjects sorted byte-wise inside the block by the core serializer,
    so output is deterministic at any parallelism.  An empty ``graph``
    value renders its triples at the TOP LEVEL (the TriG default
    graph), without a surrounding block.
    """
    from turtle_spark.core.serializer import GraphBuffer

    pfx = dict(prefixes) if prefixes else {}

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        g = GraphBuffer(base=base, prefixes=pfx)
        # deterministic insertion order: GraphBuffer's object sort is
        # STABLE on the lexical form only, so two objects equal in
        # text but differing in datatype/label would otherwise render
        # in shuffle arrival order
        rows = sorted(
            pdf.itertuples(index=False),
            key=lambda r: (r.subject, r.predicate, r.object, r.datatype, r.label),
        )
        for row in rows:
            g.accept_annotated(
                row.subject, row.predicate, row.object,
                row.label, row.datatype, row.objecttype,
            )
        body = g.render(include_pragmas=False)
        graph = pdf["graph"].iloc[0]
        if graph:
            text = f"<{graph}> {{\n{body}}}\n"
        else:
            text = body
        return pd.DataFrame({"graph": [graph], "block": [text]})

    deduped = quads.dropDuplicates(
        ["graph", "subject", "predicate", "object", "label", "datatype", "objecttype"]
    ).select(
        "graph", "subject", "predicate", "object", "label", "datatype", "objecttype"
    )
    return deduped.groupBy("graph").applyInPandas(render, schema=BLOCK_SCHEMA)


def trig_text(
    quads: DataFrame,
    base: str = "",
    prefixes: dict[str, str] | None = None,
) -> str:
    """Full TriG document sorted by graph IRI (collects; small outputs
    only — the scalable surface is :func:`graph_blocks`)."""
    pfx = dict(prefixes) if prefixes else {}
    blocks = (
        graph_blocks(quads, base=base, prefixes=pfx).orderBy("graph").collect()
    )
    header = "".join(f"{line}\n" for line in pragma_lines(base, pfx))
    return header + "".join(r.block for r in blocks)


# --------------------------------------------------------------------------
# decode
# --------------------------------------------------------------------------

def split_graph_blocks(text: str) -> list[tuple[str, str]]:
    """Split a TriG document into ``(graph_label, body)`` pieces.

    Returns one ``("", body)`` entry carrying the top-level directives
    plus any default-graph triples, and one ``(label, body)`` entry
    per graph block.  ``label`` is the raw graph term as written
    (``<iri>``, prefixed name, or blank label); the caller resolves it
    against the document's prefixes.

    Exact literal-aware scan: braces inside ``'...'``, ``"..."``,
    ``'''...'''``, ``\"\"\"...\"\"\"`` (with escapes), ``<...>`` IRIs
    and ``#`` comments are data, not structure.  TriG blocks cannot
    nest, so a single depth flag suffices.  The optional ``GRAPH``
    keyword before the label (TriG spec §5.2) is consumed.
    """
    pieces: list[tuple[str, str]] = []
    top: list[str] = []  # default-graph / directive text
    i, n = 0, len(text)
    pending_start = 0  # start of the text run being accumulated

    def _scan_past(idx: int) -> int:
        """Advance past a literal/IRI/comment starting at idx."""
        c = text[idx]
        if c == "#":
            j = text.find("\n", idx)
            return n if j < 0 else j + 1
        if c == "<":
            j = text.find(">", idx)
            return n if j < 0 else j + 1
        # quote: ' or " — long or short form
        q = c
        if text[idx : idx + 3] == q * 3:
            j = idx + 3
            while j < n:
                if text[j] == "\\":
                    j += 2
                    continue
                if text[j : j + 3] == q * 3:
                    return j + 3
                j += 1
            return n
        j = idx + 1
        while j < n:
            if text[j] == "\\":
                j += 2
                continue
            if text[j] == q:
                return j + 1
            j += 1
        return n

    while i < n:
        c = text[i]
        if c in "'\"<#":
            i = _scan_past(i)
            continue
        if c == "{":
            # label = last whitespace-delimited token before the brace;
            # an optional GRAPH keyword before the label is consumed too
            head = text[pending_start:i]
            m = _LAST_TOKEN_RE.search(head)
            label = m.group(1) if m else ""
            before = head[: m.start(1)] if m else head
            if label and not (
                label.startswith(("<", "_:")) or ":" in label
            ):
                # not a graph term (e.g. the "." ending a preceding
                # default-graph statement) -> an unlabeled block
                label, before = "", head
            if label:
                m2 = _LAST_TOKEN_RE.search(before)
                if m2 and m2.group(1).upper() == "GRAPH":
                    before = before[: m2.start(1)]
            top.append(before)
            # find the matching close brace with the same scanner
            j = i + 1
            body_start = j
            while j < n:
                cj = text[j]
                if cj in "'\"<#":
                    j = _scan_past(j)
                    continue
                if cj == "}":
                    break
                j += 1
            pieces.append((label, text[body_start:j]))
            i = j + 1
            pending_start = i
            continue
        i += 1
    top.append(text[pending_start:])
    return [("", "".join(top))] + pieces


_DIRECTIVE_PREFIXES = ("@prefix", "@base", "PREFIX", "BASE", "prefix", "base")


def _doc_directives(top_body: str) -> str:
    """The directive lines of the top-level piece (prepended to every
    block's body so prefixed names resolve per-document)."""
    lines = []
    for line in top_body.splitlines():
        if line.lstrip().startswith(_DIRECTIVE_PREFIXES):
            lines.append(line)
    return "\n".join(lines) + ("\n" if lines else "")


def parse_trig_document(text: str) -> list[tuple]:
    """All quads of one TriG document:
    ``(subject, predicate, object, label, datatype, objecttype,
    graph)`` — default-graph triples carry ``graph == ""``.

    Each block body is handed to the core Turtle parser with the
    document's directives prepended; the block label resolves through
    the same parse (a one-line probe triple) so prefixed graph names
    expand exactly like any other IRI.
    """
    from turtle_spark.core.parser import parse_document

    pieces = split_graph_blocks(text)
    directives = _doc_directives(pieces[0][1])
    out: list[tuple] = []
    for label, body in pieces:
        graph = ""
        if label.startswith("_:"):
            graph = label  # blank graph label: kept verbatim, doc-scoped
        elif label:
            probe = parse_document(f"{directives}{label} <urn:p> <urn:o> .")
            graph = probe.triples[0][0] if probe.triples else label.strip("<>")
        for t in parse_document(directives + body).triples:
            out.append((*t, graph))
    return out


def read_trig(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Parse a DataFrame of TriG documents into the quad schema.

    One Python call per Arrow batch; parallelism unit = document (TriG
    cannot split mid-document — same contract as the Turtle read
    path).  Blank labels stay document-scoped; globalize downstream
    with ``canonicalize.globalize_blank_nodes`` keyed however the
    caller tracks documents.
    """

    def parse_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for text in pdf[text_col]:
                rows.extend(parse_trig_document(text or ""))
            yield pd.DataFrame(
                rows,
                columns=[
                    "subject", "predicate", "object",
                    "label", "datatype", "objecttype", "graph",
                ],
            )

    return docs.mapInPandas(parse_batch, schema=QUAD_SCHEMA)
