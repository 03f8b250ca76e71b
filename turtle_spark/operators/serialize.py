"""Distributed sorted-Turtle serialization.

The reference's serializer is a global in-memory sort
(graph/graph.go:101-149).  Distributed equivalent:

* ``dropDuplicates`` -> the S1 dedup semantics (hash aggregate,
  map-side partial combine for free);
* ``groupBy(subject)`` + ``applyInPandas`` -> each subject's block is
  rendered by the exact pure-Python core (byte-wise predicate/object
  sorts, compact ``;``/``,`` layout, quote selection);
* global subject order = ``orderBy(subject)`` — Spark's UTF8_BINARY
  collation is byte order, identical to the reference's Go sort;
* pragmas are prepended driver-side (constant-size header).

``turtle_text`` collects the final document — only sensible for
per-document or small-graph output.  The scalable surface is
``subject_blocks``, which yields one rendered text block per subject
and can be written straight to a sink without ever assembling a
single giant string.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from turtle_spark.core.serializer import GraphBuffer

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("subject", T.StringType()),
        T.StructField("block", T.StringType()),
    ]
)


def _null_safe(row: tuple) -> tuple:
    """Sort key for a row of strings that may hold nulls; null sorts
    before, and apart from, the empty string."""
    return tuple((v is not None, v or "") for v in row)


def subject_blocks(
    triples: DataFrame,
    base: str = "",
    prefixes: dict[str, str] | None = None,
) -> DataFrame:
    """One compact-Turtle text block per subject (distributed)."""
    pfx = dict(prefixes) if prefixes else {}

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        # pragma emission happens once at assembly time; blocks still
        # get base-relativization and prefix compaction
        g = GraphBuffer(base=base, prefixes=pfx)
        # GraphBuffer breaks ties on an object's lexical form by
        # insertion order; feeding the rows sorted makes the block
        # independent of the order the shuffle delivers them in
        for row in sorted(pdf.itertuples(index=False, name=None), key=_null_safe):
            g.accept_annotated(*row)
        text = g.render(include_pragmas=False)
        return pd.DataFrame({"subject": [pdf["subject"].iloc[0]], "block": [text]})

    deduped = triples.dropDuplicates(
        ["subject", "predicate", "object", "label", "datatype", "objecttype"]
    ).select("subject", "predicate", "object", "label", "datatype", "objecttype")
    return deduped.groupBy("subject").applyInPandas(render, schema=BLOCK_SCHEMA)


def turtle_text(
    triples: DataFrame,
    base: str = "",
    prefixes: dict[str, str] | None = None,
) -> str:
    """Full sorted Turtle document (collects; small outputs only)."""
    pfx = dict(prefixes) if prefixes else {}
    blocks = (
        subject_blocks(triples, base=base, prefixes=pfx)
        .orderBy("subject")
        .collect()
    )
    header = []
    if base:
        header.append(f"@base <{base}> .\n")
    for tag in sorted(pfx):
        header.append(f"@prefix {tag}: <{pfx[tag]}> .\n")
    return "".join(header) + "".join(r.block for r in blocks)
