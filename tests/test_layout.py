"""Z-order layout (operators/layout.py): Morton key correctness and
the pruning advantage the layout exists for."""

from __future__ import annotations

from pyspark.sql import functions as F

from tools.explain_audit import unpartitioned_windows
from turtle_spark.operators.layout import (
    exact_rank,
    pruning_report,
    z_value,
)


def _unpartitioned_windows(df) -> list[str]:
    """Single-partition window specs in the optimized plan."""
    return unpartitioned_windows(df._jdf.queryExecution().optimizedPlan().toString())


def test_unpartitioned_window_detector_balances_parens():
    # a sort key that is a call: its inner comma is not the end of the
    # (empty) partition list
    plan = (
        "Window [row_number() windowspecdefinition(pmod(h#5L, 1) ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rn#9]"
    )
    assert unpartitioned_windows(plan) == ["pmod(h#5L, 1) ASC NULLS FIRST"]
    # partitioned by a call, ordered: not a global window
    plan = (
        "Window [rank() windowspecdefinition(pmod(h#5L, 1), x#3 DESC NULLS LAST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS r#10]"
    )
    assert unpartitioned_windows(plan) == []


def _morton_py(a: int, b: int) -> int:
    z = 0
    for i in range(31):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_z_value_matches_bitloop(spark):
    rows = [(0, 0), (1, 0), (0, 1), (5, 9), (2**31 - 1, 2**31 - 1), (12345, 67890)]
    df = spark.createDataFrame(rows, "a long, b long")
    out = df.select("a", "b", z_value(F.col("a"), F.col("b")).alias("z")).collect()
    for r in out:
        assert r["z"] == _morton_py(r["a"], r["b"]), (r["a"], r["b"])
        assert r["z"] >= 0


def test_z_order_is_locality_preserving(spark):
    # points in the same small square get nearer z-values than points
    # in a far square: check the classic 2x2 block ordering 0,1,2,3
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (2, 0)], "a long, b long"
    )
    z = {
        (r["a"], r["b"]): r["z"]
        for r in df.select("a", "b", z_value(F.col("a"), F.col("b")).alias("z")).collect()
    }
    assert z[(0, 0)] < z[(1, 0)] < z[(0, 1)] < z[(1, 1)] < z[(2, 0)]


def test_exact_rank_matches_global_window(spark):
    from pyspark.sql import Window

    rows = [((i * 37) % 101, (i * 53) % 97) for i in range(500)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r["a"], r["b"]): r["_rn"]
        for r in exact_rank(df, ["a", "b"], n_buckets=16).collect()
    }
    want = {
        (r["a"], r["b"]): r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("a", "b")) - 1
        ).collect()
    }
    assert got == want
    # every bucket path must survive an empty input
    empty = exact_rank(df.where(F.lit(False)), ["a", "b"])
    assert empty.count() == 0


def test_layout_plans_have_no_unpartitioned_window(spark):
    rows = [(i % 97, (i * 13) % 89) for i in range(1000)]
    df = spark.createDataFrame(rows, "a long, b long")
    sel = (F.col("a") >= 10) & (F.col("b") >= 10)
    rep = pruning_report(df, "a", "b", sel, n_files=10)
    assert _unpartitioned_windows(rep) == []


def test_pruning_report_zorder_beats_linear(spark):
    # uniform grid: selection is a square in the middle of BOTH dims;
    # a linear-a layout must read every b for the selected a-range
    rows = [(a, b) for a in range(64) for b in range(64)]
    df = spark.createDataFrame(rows, "a long, b long")
    sel = (F.col("a") >= 16) & (F.col("a") < 32) & (F.col("b") >= 16) & (F.col("b") < 32)
    rep = {
        r["layout"]: r
        for r in pruning_report(df, "a", "b", sel, n_files=64).collect()
    }
    z, lin = rep["zorder"], rep["linear_a"]
    assert z["rows_selected"] == lin["rows_selected"] == 16 * 16
    assert z["read_amplification"] < lin["read_amplification"]
    assert z["files_touched"] < lin["files_touched"]


def test_boundaries_survive_low_cardinality_lead(spark):
    # regression: hashing only the VALUE collapsed the boundary sample
    # to the k smallest-hash DISTINCT values — a low-cardinality lead
    # column (dates over a big table) got ~10 skewed buckets instead
    # of ~n_buckets balanced ones
    from turtle_spark.operators.layout import _sketch_boundaries

    rows = [(i % 97, i) for i in range(20000)]
    df = spark.createDataFrame(rows, "a long, b long")
    bnds = _sketch_boundaries(df, "a", 32)
    assert len(bnds) >= 20, f"only {len(bnds)} boundaries for 97 values"


def test_exact_rank_handles_heavy_ties(spark):
    from pyspark.sql import Window

    # one value dominates: every tied row must still receive a unique
    # rank and the rank multiset must equal the global window's
    rows = [(5, i % 3) for i in range(400)] + [(i % 7, i % 11) for i in range(100)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = sorted(r["_rn"] for r in exact_rank(df, ["a", "b"]).collect())
    assert got == list(range(500))
    per_key_got = {
        (r["a"], r["b"]): r["n"]
        for r in exact_rank(df, ["a", "b"])
        .groupBy("a", "b").agg(F.min("_rn").alias("n")).collect()
    }
    per_key_want = {
        (r["a"], r["b"]): r["n"]
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("a", "b")) - 1
        ).groupBy("a", "b").agg(F.min("rn").alias("n")).collect()
    }
    assert per_key_got == per_key_want
