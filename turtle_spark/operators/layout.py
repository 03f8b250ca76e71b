"""Multi-dimensional file layout: Z-order clustering + pruning report.

At 100 TB the dominant cost of a selective query is how many files its
predicate touches.  A single-column sort prunes one dimension and
shreds every other; Z-ORDER interleaves the bits of two dimensions so
files cover small rectangles of the (a, b) space and BOTH dimensions
prune — the technique behind Delta/Iceberg `ZORDER BY` table layout.

Everything here is exact integer arithmetic so layouts and reports are
bit-identical at any parallelism and in the DuckDB oracle:

* ``z_value`` interleaves two 31-bit non-negative ints into one
  62-bit Morton key with the shift-mask spread chain (no loops, no
  UDF — five JVM bitwise ops per dimension);
* file assignment is by Z-rank: ``file = rank * n_files / N`` with
  integer division.  The rank is EXACT but never computed by a global
  window: rows are range-bucketed on deterministic sketch-quantile
  boundaries (min-k-by-xxhash64 sample — the KMV-quantile state from
  operators/sketches.py), per-bucket counts roll up to broadcast
  prefix offsets, and a PARTITIONED window ranks within each bucket,
  so ``global_rank = bucket_offset + within_bucket_rank``.  Every
  piece is deterministic at any parallelism (hash order is global,
  ties break on value), the two driver collects are bounded (k sample
  values, n_buckets counts), and no task ever sorts more than one
  bucket — the same plan shape survives a 100 TB layout job, where a
  single ``Window.orderBy`` over the whole table would serialize on
  one core.

The report compares Z-order against the single-column sort layout on
the SAME selection: files touched, selected rows, rows resident in
touched files — the read-amplification a scan planner actually pays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread(c: Column) -> Column:
    """Spread the low 31 bits of a non-negative long so consecutive
    input bits land two apart (Morton magic-number chain)."""
    x = c.bitwiseAND(F.lit(0x7FFFFFFF))
    for shift, mask in _MASKS:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def z_value(a: Column, b: Column) -> Column:
    """62-bit Morton key interleaving two 31-bit non-negative ints
    (``a`` in even bit positions, ``b`` odd) — always non-negative, so
    longs sort in Z-curve order."""
    return _spread(a).bitwiseOR(F.shiftleft(_spread(b), 1))


def _boundary_sample(
    df: DataFrame, value_col: str, spec_idx: int, k: int = 2048
) -> DataFrame:
    """One spec's min-k-by-xxhash64 boundary-sample branch (the
    KMV-quantile state of operators/sketches.py): the k rows with the
    globally smallest ``xxhash64(whole row)`` are a uniform row sample
    whose hash order is identical at any parallelism.
    ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject — a
    per-partition top-k plus a driver merge, never a single-partition
    sort.  Returns ``(i, v, h)`` with ``v`` cast to long and NULLs
    dropped (a NULL lead value can never be a range boundary; NULL rows
    fall through every ``> boundary`` comparison into bucket 0, which
    matches the nulls-first order of an ascending window).

    The hash covers EVERY column (sorted for stability), not just the
    value: hashing the value alone collapses the sample to the k
    smallest-hash DISTINCT values, so a low-cardinality column (2.5k
    ship-days over 600k rows) yielded ~10 boundaries with row-skewed
    buckets.  Hashing the whole row keeps the sample ~uniform over
    ROWS, which is what equal-depth boundaries need."""
    dtype = dict(df.dtypes).get(value_col, "")
    if not (
        dtype in ("tinyint", "smallint", "int", "bigint", "float", "double")
        or dtype.startswith("decimal")
    ):
        # a non-numeric lead would cast to all-NULL under non-ANSI
        # semantics and silently yield ZERO boundaries — one bucket,
        # the single-partition sort this machinery exists to avoid
        raise NotImplementedError(
            f"boundary sample needs a numeric lead column; {value_col!r} "
            f"is {dtype or 'unknown'} — rank on a numeric surrogate "
            "(e.g. xxhash64/unix_timestamp) instead"
        )
    return (
        df.select(
            F.lit(spec_idx).alias("i"),
            F.col(value_col).cast("long").alias("v"),
            F.xxhash64(
                *[F.col(c).cast("string") for c in sorted(df.columns)]
            ).alias("h"),
        )
        .where(F.col("v").isNotNull())
        .orderBy("h", "v")
        .limit(k)
    )


def _nearest_rank_boundaries(vals: list[int], n_buckets: int) -> list[int]:
    """Nearest-rank quantile boundaries of a sorted-able sample:
    strictly increasing list of at most ``n_buckets - 1`` boundary
    VALUES (actual data values, integer domain end to end)."""
    vals = sorted(vals)
    if not vals:
        return []
    bnds: list[int] = []
    for i in range(1, n_buckets):
        idx = int(i * (len(vals) - 1) / n_buckets + 0.5)
        bnds.append(vals[idx])
    return sorted(set(bnds))


def _sketch_boundaries(
    df: DataFrame,
    value_col: str,
    n_buckets: int,
    k: int = 2048,
) -> list[int]:
    """Deterministic range-bucket boundaries for ``value_col``: the
    single-spec composition of :func:`_boundary_sample` and
    :func:`_nearest_rank_boundaries` — the exact pieces
    :func:`exact_ranks` runs on its production path (one shared
    implementation, unit-tested here, batched there)."""
    sample = _boundary_sample(df, value_col, 0, k)
    return _nearest_rank_boundaries(
        [r["v"] for r in sample.collect()], n_buckets
    )


def exact_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "_rn",
    n_buckets: int = 32,
    pin_input: bool = True,
) -> DataFrame:
    """EXACT 0-based global dense rank by ``order_cols`` without a
    global window (the ``dense_entity_ids`` hash-bucket-rank pattern,
    adapted to an ordered domain):

    1. bucket each row by sketch-quantile boundaries of the leading
       order column (monotone in the sort order, so bucket i's rows
       all precede bucket i+1's);
    2. exact per-bucket counts → driver prefix sums (≤ n_buckets
       rows collected) → broadcast offset join;
    3. ``row_number`` over a window PARTITIONED by bucket;
    4. global rank = bucket offset + within-bucket rank − 1.

    Identical to ``row_number().over(Window.orderBy(*order_cols)) - 1``
    for every total order; rows that tie on all order columns receive
    the tied ranks in arbitrary order, exactly as a global window
    would.  No task sorts more than one bucket.

    ``pin_input`` persists the input before the two driver actions
    (boundary sample, bucket counts) so they and the final plan
    evaluate the upstream lineage ONCE — without it a rank over an
    expensive subtree re-executes that subtree three times (measured
    20x on a rank-over-rank plan).  Callers whose input is already
    pinned may pass False."""
    return exact_ranks(
        df, [(order_cols, rank_col)], n_buckets=n_buckets, pin_input=pin_input
    )


def exact_ranks(
    df: DataFrame,
    specs: list[tuple[list[str], str]],
    n_buckets: int = 32,
    pin_input: bool = True,
) -> DataFrame:
    """Multi-spec form of :func:`exact_rank`: every ``(order_cols,
    rank_col)`` spec is computed in the SAME output plan over the same
    (pinned-once) input — a caller comparing two layouts of one table
    (``pruning_report``) pays one lineage materialization and one
    window exchange per spec, never a rank-over-rank chain that
    re-executes the first rank inside the second's driver actions.

    The bucket id is a WHEN-comparison chain over the ≤ n_buckets-1
    boundary literals (codegen branches — a per-row array-filter
    lambda measured ~3x slower on a 600k-row layout job).  Default 32
    buckets: a ~63-deep chain crosses Spark's generated-method size
    limit and the stage falls back to interpreted evaluation (measured
    4x on the same job — 1.7 s at 32 buckets, 6.7 s at 64).  At
    cluster scale 32 buckets still means no task sorts more than
    1/32nd of the table; raise it only alongside a codegen check."""
    from turtle_spark.operators.skew import pin as _pin, spread as _spread

    if pin_input:
        # spread first: a one-file parquet source otherwise pins (and
        # serves every downstream action) from a single partition
        df = _pin(_spread(df))
    spark = df.sparkSession
    # ONE boundary-sample job for all specs: per-spec _boundary_sample
    # branches (TakeOrdered each — per-partition top-k + merge, never a
    # global sort) unioned and collected together
    sample_parts = [
        _boundary_sample(df, order_cols[0], i)
        for i, (order_cols, _) in enumerate(specs)
    ]
    sampled = sample_parts[0]
    for p in sample_parts[1:]:
        sampled = sampled.unionByName(p)
    by_spec: dict[int, list[int]] = {i: [] for i in range(len(specs))}
    for r in sampled.collect():
        by_spec[r["i"]].append(r["v"])
    buckets = []
    for i, (order_cols, rank_col) in enumerate(specs):
        bucket = F.lit(0)
        for b in _nearest_rank_boundaries(by_spec[i], n_buckets):
            bucket = bucket + F.when(
                F.col(order_cols[0]) > F.lit(b), 1
            ).otherwise(0)
        buckets.append(bucket.cast("int"))
    # ONE bucket-count job for all specs, then driver prefix sums
    count_parts = [
        df.select(F.lit(i).alias("i"), b.alias("bk"))
        .groupBy("i", "bk")
        .agg(F.count("*").alias("c"))
        for i, b in enumerate(buckets)
    ]
    counted = count_parts[0]
    for p in count_parts[1:]:
        counted = counted.unionByName(p)
    rows = sorted((r["i"], r["bk"], r["c"]) for r in counted.collect())
    out = df
    for i, ((order_cols, rank_col), bucket) in enumerate(zip(specs, buckets)):
        bk_col, off_col = f"_bk{i}", f"_off{i}"
        offs, running = [], 0
        for si, bk, c in rows:
            if si == i:
                offs.append((bk, running))
                running += c
        off_df = spark.createDataFrame(
            offs or [(0, 0)], f"{bk_col} int, {off_col} long"
        )
        w = Window.partitionBy(bk_col).orderBy(*order_cols)
        # LEFT join + fail-fast: an inner join would silently DROP any
        # row whose bucket id was absent from the count job (possible
        # only if the input lineage were nondeterministic between the
        # two evaluations — exactly the corruption that must be loud)
        off_checked = F.when(
            F.col(off_col).isNull(),
            F.raise_error(
                F.concat(
                    F.lit("exact_ranks: bucket "),
                    F.col(bk_col).cast("string"),
                    F.lit(
                        " missing from offset table — input lineage "
                        "changed between the count job and the rank plan"
                    ),
                )
            ).cast("long"),
        ).otherwise(F.col(off_col))
        out = (
            out.withColumn(bk_col, bucket)
            .join(F.broadcast(off_df), bk_col, "left")
            .withColumn(rank_col, off_checked + F.row_number().over(w) - 1)
            .drop(bk_col, off_col)
        )
    return out


def pruning_report(
    df: DataFrame,
    a_col: str,
    b_col: str,
    selection: Column,
    n_files: int = 64,
) -> DataFrame:
    """Compare Z-order vs single-column-sort layouts for one selection.

    Returns two rows (layout = 'zorder' | 'linear_a') with
    ``files_touched``, ``rows_selected``, ``rows_in_touched_files`` —
    read amplification = rows_in_touched_files / rows_selected.  All
    counts int64; the one double division is exact-int operands.
    """
    from turtle_spark.operators.skew import pin, spread

    # ONE spread + pinned base feeds everything: both ranks' boundary
    # samples, bucket counts, window exchanges and the row-count branch
    # (a rank-over-rank chain here re-executed the Z-rank inside the
    # linear rank's driver actions — measured 11 s vs 3 s at 600k rows)
    zed = pin(
        spread(
            df.withColumn("z", z_value(F.col(a_col), F.col(b_col))).withColumn(
                "_sel", selection.cast("int")
            )
        )
    )
    n = zed.select(F.count("*").alias("n"))
    ranked = exact_ranks(
        zed,
        [(["z", a_col, b_col], "_rnz"), ([a_col, b_col], "_rnl")],
        pin_input=False,
    )
    # pinned: both layouts' per-file aggregates descend from this one
    # table — without the pin each of the four aggregate branches
    # re-scans the source and re-sorts both layouts
    both = pin(
        ranked.join(F.broadcast(n))
        .withColumn("file", F.expr(f"CAST(_rnz * {n_files} div n AS INT)"))
        .withColumn("file_lin", F.expr(f"CAST(_rnl * {n_files} div n AS INT)"))
        .drop("_rnz", "_rnl", "n")
    )

    def layout_stats(file_col: str, name: str) -> DataFrame:
        per_file = both.groupBy(F.col(file_col).alias("f")).agg(
            F.sum("_sel").alias("sel"), F.count("*").alias("rows")
        )
        return per_file.agg(
            F.lit(name).alias("layout"),
            F.sum(F.when(F.col("sel") > 0, 1).otherwise(0))
            .cast("long")
            .alias("files_touched"),
            F.sum("sel").cast("long").alias("rows_selected"),
            F.sum(F.when(F.col("sel") > 0, F.col("rows")).otherwise(0))
            .cast("long")
            .alias("rows_in_touched_files"),
        )

    out = layout_stats("file", "zorder").unionByName(
        layout_stats("file_lin", "linear_a")
    )
    return out.select(
        "layout",
        "files_touched",
        "rows_selected",
        "rows_in_touched_files",
        (
            F.col("rows_in_touched_files").cast("double")
            / F.col("rows_selected")
        ).alias("read_amplification"),
    )
