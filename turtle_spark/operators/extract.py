"""Stage B — triple extraction: docs(doc_id, spans) -> triples.

The Turtle parser (turtle_spark.core) runs *inside* ``mapInArrow``:
one Arrow batch of documents per Python call, a plain Python loop over
the documents inside the batch — per-batch Python overhead, never
per-row (the reference's per-``Unmarshal``-call scanner state maps to
per-document parser state, so parallelism cannot perturb blank-node
numbering; SURVEY.md §4.2).  Arrow is used directly (not pandas)
because converting ``array<struct>`` span columns to pandas
materializes a Python dict per span — measured ~3x overhead on the
hot path; flat child-array access is near-free.

Scale properties:

* narrow-only transformation — zero shuffles; parallelism equals input
  partitioning, so 1000 executors extract 1000 partitions at once;
* column pruning reaches the scan: only ``doc_id`` and ``spans`` are
  read no matter how wide the docs table is;
* media spans never enter Python — ``media_triples`` is a pure
  DataFrame explode/filter, fully JVM-side with whole-stage codegen;
* ``subject_hash`` is computed JVM-side with ``xxhash64`` for the
  bucketed materialization (stage E).

Reference parity: emitted rows match nvkp/turtle's annotated triples
(scanner/scanner.go:324-329); ``seq`` is the per-document emission
index for ordered golden comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from turtle_spark.core.parser import parse_document

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("subject", T.StringType()),
        T.StructField("predicate", T.StringType()),
        T.StructField("object", T.StringType()),
        T.StructField("label", T.StringType()),
        T.StructField("datatype", T.StringType()),
        T.StructField("objecttype", T.StringType()),
    ]
)

DOC_NS = "http://turtle-spark.dev/ns#"
HAS_MEDIA = DOC_NS + "hasMedia"
DOC_IRI_PREFIX = "http://turtle-spark.dev/doc/"


def assembled_text_col() -> F.Column:
    """JVM-side span assembly: filter text spans, sort by offset, join.

    Keeping this in whole-stage codegen means only ONE flat string
    column crosses the Arrow boundary into Python — shipping the nested
    span structs into pandas materializes a dict per span, which at
    100 TB is pure overhead (measured ~3x on the extraction hot path).
    """
    return F.expr(
        """
        array_join(
          transform(
            array_sort(
              filter(spans, s -> s.kind = 'text'),
              (a, b) -> CASE WHEN a.offset < b.offset THEN -1
                             WHEN a.offset > b.offset THEN 1
                             ELSE 0 END
            ),
            s -> s.text
          ),
          '\n'
        )
        """
    )


def extract_triples(docs: DataFrame, base: str = "", prefixes: dict[str, str] | None = None) -> DataFrame:
    """Parse every document's text spans into annotated triples.

    ``base``/``prefixes`` pre-seed the parse context for the whole
    corpus (the reference's Config semantics); document directives
    override them per document.
    """
    seed_prefixes = dict(prefixes) if prefixes else {}

    import pyarrow as pa

    def parse_batches(batches):
        # task-lifetime sanitize memo: recurring vocabulary terms across
        # this task's documents sanitize once (context-keyed, so output
        # is bit-identical to memo-less parsing; ~1.3x per-core parse)
        san_memo: dict = {}
        for batch in batches:
            doc_ids_in = batch.column(0).to_pylist()
            texts_in = batch.column(1).to_pylist()

            doc_ids: list[str] = []
            seqs: list[int] = []
            cols: list[list[str]] = [[], [], [], [], [], []]
            for doc_id, text in zip(doc_ids_in, texts_in):
                triples = parse_document(
                    text, base=base, prefixes=seed_prefixes, san_memo=san_memo
                ).triples
                k = len(triples)
                if not k:
                    continue
                # column-at-a-time transpose: one C-level zip + extend
                # per document instead of ~8 Python appends per triple
                doc_ids.extend([doc_id] * k)
                seqs.extend(range(k))
                for c, col_vals in enumerate(zip(*triples)):
                    cols[c].extend(col_vals)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids, type=pa.string()),
                    pa.array(seqs, type=pa.int64()),
                    *[pa.array(col, type=pa.string()) for col in cols],
                ],
                names=[
                    "doc_id", "seq", "subject", "predicate",
                    "object", "label", "datatype", "objecttype",
                ],
            )

    # span assembly stays JVM-side so only two FLAT string columns are
    # converted to Arrow — nested list<struct> conversion is the single
    # largest JVM cost on this path
    flat = docs.select("doc_id", assembled_text_col().alias("doc_text"))
    return flat.mapInArrow(parse_batches, schema=TRIPLES_SCHEMA)


def media_triples(docs: DataFrame) -> DataFrame:
    """doc -> hasMedia -> media_ref triples. Pure JVM-side explode.

    No Python boundary: whole-stage codegen end to end, and the span
    struct fields are pruned at the scan.
    """
    span = F.explode("spans").alias("span")
    return (
        docs.select("doc_id", span)
        .where(F.col("span.kind") == "media")
        .select(
            F.col("doc_id"),
            F.lit(-1).cast("long").alias("seq"),
            F.concat(F.lit(DOC_IRI_PREFIX), F.col("doc_id")).alias("subject"),
            F.lit(HAS_MEDIA).alias("predicate"),
            F.col("span.media_ref").alias("object"),
            F.lit("").alias("label"),
            F.lit("").alias("datatype"),
            F.lit("iri").alias("objecttype"),
        )
    )


def with_subject_hash(triples: DataFrame) -> DataFrame:
    """Add the 64-bit subject hash used for bucketed materialization."""
    return triples.withColumn("subject_hash", F.xxhash64("subject"))


def lint_docs(docs: DataFrame) -> DataFrame:
    """Quarantine gate: per-document structural lint over the token
    stream (core/lint.py) WITHOUT disturbing the lenient parse —
    (doc_id, issues array<string>, quarantined).

    Same scale shape as extraction: span assembly stays JVM-side, one
    flat string column crosses Arrow, the lint is an embarrassingly
    parallel narrow map.  At 100 TB the quarantined slice is tiny by
    construction, so sinking it separately (dead-letter table) costs
    one filtered write, never a shuffle.
    """
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("issues", T.ArrayType(T.StringType())),
            T.StructField("quarantined", T.BooleanType()),
        ]
    )

    def lint_batches(batches):
        from turtle_spark.core.lint import lint_document

        for pdf in batches:
            issues = [lint_document(t or "") for t in pdf["doc_text"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "issues": issues,
                    "quarantined": [bool(i) for i in issues],
                }
            )

    flat = docs.select("doc_id", assembled_text_col().alias("doc_text"))
    return flat.mapInPandas(lint_batches, schema=schema)
