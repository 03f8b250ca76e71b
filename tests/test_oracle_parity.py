"""Local mirror of the driver's correctness gate: every query in
``__spark_entry__.oracle_sql()`` must match its Spark twin exactly
(row count + schema-sorted, row-sorted values) on the same parquet.

Runs at sf0.001 for speed; the driver runs the same comparison at
sf0.01.  Exact equality here — not approx — because the driver
compares value *hashes*.

DTYPE-SENSITIVE on purpose: the driver's value hash sees dtypes (a
DuckDB HUGEINT arriving as float64 vs Spark's int64 hash-mismatches
even when every value is equal — the round-1 ``q_json_props`` red
cell), so this mirror must fail on any dtype drift too.  Deliberate,
semantics-free representation differences are normalized EXPLICITLY
in ``_normalize`` (each with a comment saying why); everything else
compares with ``check_dtype=True``.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from tests.conftest import TESTDATA

SF_DIR = f"{TESTDATA}/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if out[c].dtype == object:
            # strings arrive as object from both engines; stringifying
            # unifies str/None representations without hiding numerics
            # (a numeric column that is object on ONE side only will
            # still fail the dtype check below)
            out[c] = out[c].astype(str)
        elif str(out[c].dtype) in ("UInt64", "uint64"):
            # DuckDB returns BIGINT as int64 but unsigned aggregates as
            # uint64; Spark has no unsigned types.  Same-width
            # reinterpretation only — a HUGEINT->float64 widening (the
            # round-1 bug class) is NOT normalized and must fail.
            out[c] = out[c].astype("int64")
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


# the mirror runs at sf0.001, so golden-backed oracles load that SF's
# golden result sets (the driver uses the sf0.01 default)
ORACLE_KEYS = sorted(entrymod.oracle_sql(golden_sf="sf0.001"))


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(name: str, spark, duck):
    sdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    odf = duck.execute(entrymod.oracle_sql(golden_sf="sf0.001")[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: column mismatch {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} vs {len(odf)}"
    left, right = _normalize(sdf), _normalize(odf)
    pd.testing.assert_frame_equal(left, right, check_dtype=True, check_exact=True)


def test_rows_only_queries_run(spark):
    """Queries without oracles still must run and return stable schemas."""
    qs = entrymod.queries()
    for name in set(qs) - set(entrymod.oracle_sql()):
        df = qs[name](spark, SF_DIR)
        assert df.count() >= 0, name
        assert len(df.columns) > 0, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    n = df.count()
    assert n > 0
    assert {"doc_id", "seq", "subject", "predicate", "object", "subject_hash"} <= set(df.columns)


def test_golden_xxh64_matches_spark(spark):
    """functions.hashing.xxh64_str must be byte-compatible with Spark's
    xxhash64 on strings — every golden oracle that replicates an
    engine-side xxhash64 key, and read_subject's driver-side bucket,
    depend on it."""
    from pyspark.sql import functions as F

    from turtle_spark.functions.hashing import xxh64_str

    samples = [
        "", "a", "doc-000000000", "media://doc-000000017/1", "17",
        "x" * 7, "y" * 8, "z" * 31, "w" * 32, "q" * 100, "Человек-паук",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    for row in df.select("s", F.xxhash64("s").alias("h")).collect():
        assert row["h"] == xxh64_str(row["s"]), repr(row["s"])


def test_all_queries_have_oracles():
    """Every registry entry has an oracle_sql twin, and every oracle
    names a registry entry."""
    qs = set(entrymod.queries())
    oracle = set(entrymod.oracle_sql())
    assert qs - oracle == set(), (
        f"queries with no oracle_sql entry (add a SQL twin or golden): "
        f"{sorted(qs - oracle)}"
    )
    assert oracle - qs == set(), f"oracles with no query: {sorted(oracle - qs)}"
