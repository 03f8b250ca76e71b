"""Distributed sorted-Turtle serialization.

The reference's serializer is a global in-memory sort
(graph/graph.go:101-149).  Distributed equivalent:

* ``repartition(subject)`` + ``sortWithinPartitions(subject)`` -> one
  shuffle puts each subject's rows next to each other in one task
  (no partition count, so AQE can coalesce small exports);
* ``mapInArrow`` -> one Python pass per partition: consecutive rows of
  a subject form a group, carried across Arrow batches, and each group
  is rendered by the exact pure-Python core (byte-wise predicate/object
  sorts, compact ``;``/``,`` layout, quote selection);
* S1 dedup semantics come from the core itself: ``GraphBuffer`` drops
  an exact-duplicate object on insert, so no ``dropDuplicates`` shuffle
  runs first;
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

from itertools import groupby
from operator import itemgetter

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from turtle_spark.core.serializer import GraphBuffer, pragma_lines

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("subject", T.StringType()),
        T.StructField("block", T.StringType()),
    ]
)

_SIX = ("subject", "predicate", "object", "label", "datatype", "objecttype")


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

    def render(rows: list[tuple]) -> str:
        # pragma emission happens once at assembly time; blocks still
        # get base-relativization and prefix compaction
        g = GraphBuffer(base=base, prefixes=pfx)
        # GraphBuffer breaks ties on an object's lexical form by
        # insertion order; feeding the rows sorted makes the block
        # independent of the order the shuffle delivers them in
        for row in sorted(rows, key=_null_safe):
            g.accept_annotated(*row)
        return g.render(include_pragmas=False)

    def render_batches(batches):
        # rows arrive sorted by subject; a subject's group may span
        # batches, so the last group of a batch stays open until a
        # different subject (or the end of the partition) closes it
        open_rows: list[tuple] = []
        for batch in batches:
            subjects: list[str] = []
            blocks: list[str] = []
            rows = zip(*(col.to_pylist() for col in batch.columns))
            for subject, group in groupby(rows, key=itemgetter(0)):
                if open_rows and open_rows[0][0] == subject:
                    open_rows.extend(group)
                    continue
                if open_rows:
                    subjects.append(open_rows[0][0])
                    blocks.append(render(open_rows))
                open_rows = list(group)
            yield _block_batch(subjects, blocks)
        if open_rows:
            yield _block_batch([open_rows[0][0]], [render(open_rows)])

    return (
        triples.select(*_SIX)
        .repartition("subject")
        .sortWithinPartitions("subject")
        .mapInArrow(render_batches, schema=BLOCK_SCHEMA)
    )


def _block_batch(subjects: list[str], blocks: list[str]) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(subjects, type=pa.string()), pa.array(blocks, type=pa.string())],
        names=["subject", "block"],
    )


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
    header = "".join(f"{line}\n" for line in pragma_lines(base, pfx))
    return header + "".join(r.block for r in blocks)
