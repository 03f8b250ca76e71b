"""Turtle file source & sink.

Drop-in for the reference library's file-level workflow
(``turtle.Unmarshal(file_bytes)`` / ``turtle.Marshal -> file``), but
distributed:

* ``read_turtle``: every ``.ttl`` file is one parse unit (matching the
  reference's per-``Unmarshal``-call scanner scope); files load via
  ``spark.read.text(wholetext=True)`` and parse through the standard
  extraction operator, so a directory of millions of documents
  partitions across the cluster.
* ``write_turtle_single``: collects into one canonical sorted
  document for small graphs.  A distributed export renders subject
  blocks with ``operators.serialize.subject_blocks``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from turtle_spark.operators.extract import extract_triples
from turtle_spark.operators.serialize import turtle_text


def read_turtle(
    spark: SparkSession,
    path: str,
    base: str = "",
    prefixes: dict[str, str] | None = None,
) -> DataFrame:
    """Parse a file/directory of Turtle documents into the triples table.

    ``doc_id`` is the source file path.  Config seeding (base/prefixes)
    matches the reference's ``Config.Unmarshal``.
    """
    raw = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("value").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    return extract_triples(raw, base=base, prefixes=prefixes)


def write_turtle_single(
    triples: DataFrame,
    file_path: str,
    base: str = "",
    prefixes: dict[str, str] | None = None,
) -> str:
    """Collect into one canonical sorted Turtle document (small graphs)."""
    text = turtle_text(triples, base=base, prefixes=prefixes)
    with open(file_path, "w") as f:
        f.write(text)
    return text
