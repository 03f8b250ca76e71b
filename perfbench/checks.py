"""Output checks.  Each returns a list of failure messages (empty when
the output is right); the runner counts every failure against
``attempted`` operations."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from turtle_spark.core.parser import parse_document
from turtle_spark.core.serializer import GraphBuffer
from turtle_spark.operators.extract import DOC_IRI_PREFIX, HAS_MEDIA

TRIPLE_COLS = ["doc_id", "seq", "subject", "predicate", "object", "label", "datatype", "objecttype"]
SIX = ["subject", "predicate", "object", "label", "datatype", "objecttype"]


def _globalize(term: str, doc_id: str) -> str:
    return f"_:{doc_id}#{term[2:]}" if term.startswith("_:") else term


def oracle_triples(texts: list[tuple[str, str]], media: list[tuple[str, str]]) -> tuple[pd.DataFrame, float]:
    """Stage-B output computed without Spark: ``parse_document`` over
    each document's assembled text (one shared sanitize memo, as one
    extract task uses), media triples, then blank-node globalization.
    Returns the rows and the parse wall time in seconds."""
    from time import perf_counter

    rows: list[tuple] = []
    memo: dict = {}
    t0 = perf_counter()
    parsed = [(doc_id, parse_document(text, san_memo=memo).triples) for doc_id, text in texts]
    parse_s = perf_counter() - t0
    for doc_id, triples in parsed:
        for seq, (s, p, o, label, dt, typ) in enumerate(triples):
            o = _globalize(o, doc_id) if typ == "iri" else o
            rows.append((doc_id, seq, _globalize(s, doc_id), p, o, label, dt, typ))
    for doc_id, ref in media:
        rows.append((doc_id, -1, DOC_IRI_PREFIX + doc_id, HAS_MEDIA, ref, "", "", "iri"))
    return pd.DataFrame(rows, columns=TRIPLE_COLS), parse_s


def multiset_hash(df: pd.DataFrame) -> int:
    """Order-insensitive fingerprint of a row multiset."""
    df = df[TRIPLE_COLS].astype({c: object for c in TRIPLE_COLS if c != "seq"})
    df = df.astype({"seq": np.int64})
    return int(pd.util.hash_pandas_object(df, index=False).to_numpy().sum(dtype=np.uint64))


def check_build(spark, manifest, oracle_hash: int, oracle_rows: int, n_buckets: int) -> list[str]:
    fails = []
    extract = spark.read.parquet(manifest.data_path("extract"))
    got = extract.select(*TRIPLE_COLS).toPandas()
    if len(got) != oracle_rows:
        fails.append(f"extract rows {len(got)} != parser oracle {oracle_rows}")
    elif multiset_hash(got) != oracle_hash:
        fails.append("extract rows differ from the parser oracle")

    table = spark.read.parquet(manifest.data_path("materialize"))
    canonical_rows = manifest.read("canonical_triples")["rows"]
    r = table.agg(
        F.count("*").alias("n"),
        F.sum((F.col("bucket") != F.pmod(F.xxhash64("subject"), F.lit(n_buckets))).cast("long")).alias("bad_bucket"),
    ).collect()[0]
    if r["n"] != canonical_rows or manifest.read("materialize")["rows"] != canonical_rows:
        fails.append(f"materialized rows {r['n']} != canonical_triples rows {canonical_rows}")
    if r["bad_bucket"]:
        fails.append(f"{r['bad_bucket']} rows in the wrong bucket")
    dups = table.groupBy(*SIX).count().where(F.col("count") > 1).count()
    if dups:
        fails.append(f"{dups} duplicate 6-tuples")
    return fails


def render_block(rows: list[tuple]) -> str:
    g = GraphBuffer()
    for r in rows:
        g.accept_annotated(*r)
    return g.render(include_pragmas=False)


def _line_chars(text: str) -> list[list[str]]:
    return sorted(sorted(line) for line in text.split("\n"))


def check_block(subject: str, block: str, rows: list[tuple]) -> list[str]:
    """An exported block must equal the core serializer's rendering of
    that subject's rows.

    Not a re-parse: parse ∘ serialize is not a fixpoint today (literals
    holding an escaped quote re-parse as IRIs, for one).  Objects with
    equal lexical form but different annotations tie in
    ``GraphBuffer``'s sort and keep arrival order, which Spark does not
    fix; so a block that differs from the reference only in the order
    of characters within a line (one predicate's object list) passes."""
    want = render_block(rows)
    if block != want and _line_chars(block) != _line_chars(want):
        return [f"block for {subject!r} differs from the core serializer"]
    return []
