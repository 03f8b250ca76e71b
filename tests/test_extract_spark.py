"""Spark-side extraction tests.

The decisive check: running the 42 golden fixtures *through Spark*
(docs table -> mapInPandas extraction) reproduces the reference's
ordered triples per document — i.e. distribution does not perturb
parse semantics (blank-node numbering, emission order).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import load_scan_fixtures
from turtle_spark.operators.extract import (
    extract_triples,
    media_triples,
    with_subject_hash,
)
from turtle_spark.sources.corpus import fixture_docs, generate_docs


def test_fixture_docs_through_spark_match_goldens(spark):
    cases = load_scan_fixtures()
    docs = fixture_docs(spark).repartition(7)  # force multi-partition
    out = extract_triples(docs).orderBy("doc_id", "seq").collect()
    actual: dict[str, list[list[str]]] = {}
    for row in out:
        actual.setdefault(row.doc_id, []).append([row.subject, row.predicate, row.object])
    assert set(actual) | {n for n in cases if not cases[n]["triples"]} == set(cases)
    for name, case in cases.items():
        assert actual.get(name, []) == case["triples"], name


def test_generated_corpus_is_deterministic_across_partitioning(spark):
    a = generate_docs(spark, 60, seed=11, partitions=2).collect()
    b = generate_docs(spark, 60, seed=11, partitions=13).collect()
    key = lambda r: r.doc_id
    assert sorted(a, key=key) == sorted(b, key=key)
    assert len(a) == 60


def test_span_sequence_invariant_roundtrip(spark, tmp_path):
    """(kind, text, media_ref, order) survives write/read/processing."""
    docs = generate_docs(spark, 40, seed=3)
    before = {
        r.doc_id: [(s.kind, s.text, s.media_ref) for s in sorted(r.spans, key=lambda s: s.offset)]
        for r in docs.collect()
    }
    path = str(tmp_path / "docs.parquet")
    docs.write.parquet(path)
    docs2 = spark.read.parquet(path)
    # run extraction over the re-read table, then re-check the table —
    # documents flow through untouched
    extract_triples(docs2).count()
    after = {
        r.doc_id: [(s.kind, s.text, s.media_ref) for s in sorted(r.spans, key=lambda s: s.offset)]
        for r in docs2.collect()
    }
    assert before == after


def test_media_triples_jvm_only(spark, tmp_path):
    path = str(tmp_path / "docs.parquet")
    generate_docs(spark, 50, seed=5).write.parquet(path)
    docs = spark.read.parquet(path)
    mt = media_triples(docs)
    # no Python boundary in the plan
    plan = mt._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan and "MapInPandas" not in plan
    rows = mt.collect()
    assert all(r.object.startswith("media://") for r in rows)
    assert all(r.subject.endswith(r.doc_id) for r in rows)
    # count matches the source's media span count
    expected = (
        docs.select(F.explode("spans").alias("s")).where(F.col("s.kind") == "media").count()
    )
    assert len(rows) == expected


def test_subject_hash_stable(spark):
    docs = fixture_docs(spark)
    t = with_subject_hash(extract_triples(docs))
    h1 = {(r.doc_id, r.seq): r.subject_hash for r in t.collect()}
    h2 = {(r.doc_id, r.seq): r.subject_hash for r in t.repartition(5).collect()}
    assert h1 == h2


def test_config_seeded_extraction(spark):
    docs = spark.createDataFrame(
        [("d1", [{"kind": "text", "text": "<x> <p> <y> .", "media_ref": "", "offset": 0}])],
        schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = extract_triples(docs, base="http://seed.example/").collect()
    assert out[0].subject == "http://seed.example/x"
