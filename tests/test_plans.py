"""Physical-plan assertions: the plans we want at 100 TB, not just
plans that pass.

Pins: broadcast of small dimensions, JVM-only (no Python boundary)
column pipelines, map-side partial aggregation, Arrow evaluation for
pandas UDFs, and parquet column pruning reaching the scan.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import TESTDATA

SF = f"{TESTDATA}/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_revenue_join_broadcasts_nation(spark):
    plan = _plan(entrymod.queries()["q_revenue_by_nation"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_lineitem_agg_has_partial_aggregation(spark):
    # map-side combine: two HashAggregate nodes (partial + final)
    plan = _plan(entrymod.queries()["q_lineitem_agg"](spark, SF))
    assert plan.count("HashAggregate") >= 2


def test_doc_stats_is_jvm_only(spark):
    plan = _plan(entrymod.queries()["q_doc_stats"](spark, SF))
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan


def test_language_id_is_jvm_only(spark):
    plan = _plan(entrymod.queries()["q_language_id"](spark, SF))
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan


def test_extraction_uses_arrow_not_row_python(spark):
    from turtle_spark.operators.extract import extract_triples
    from turtle_spark.sources.corpus import fixture_docs

    plan = _plan(extract_triples(fixture_docs(spark)))
    assert "MapInArrow" in plan  # Arrow-batched, no pandas dict overhead
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_column_pruning_reaches_scan(spark, tmp_path):
    """Extraction over a wide docs table must read only doc_id+spans."""
    from pyspark.sql import functions as F

    from turtle_spark.operators.extract import extract_triples
    from turtle_spark.sources.corpus import generate_docs

    path = str(tmp_path / "wide_docs")
    wide = (
        generate_docs(spark, 20, seed=4)
        .withColumn("junk1", F.lit("x" * 100))
        .withColumn("junk2", F.monotonically_increasing_id())
    )
    wide.write.parquet(path)
    df = extract_triples(spark.read.parquet(path))
    plan = _plan(df)
    assert "junk1" not in plan.split("ReadSchema")[-1]
    assert "doc_id" in plan


def test_minhash_signature_is_pandas_udf(spark):
    from pyspark.sql import functions as F

    from turtle_spark.operators import linking

    terms = spark.createDataFrame([("a b c d e",)], "term string").withColumn(
        "term_id", F.xxhash64("term")
    )
    plan = _plan(linking.lsh_band_keys(terms))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
