"""Explicit skew controls for hot-key shuffles.

AQE's skew-join splitting only rescues sort-merge joins after the fact;
when a key's row count is pathological by construction (stop-words,
null-ish defaults, celebrity entities), the plan should bound it up
front.  Two tools:

* ``salted_join`` — equi-join where the LEFT side's hot keys are
  sharded across ``n_salts`` sub-keys and the RIGHT side is replicated
  ``n_salts``x.  The shuffle key becomes (key, salt), so one hot key
  spreads over ``n_salts`` reducers.  Right-side replication costs
  |right| x n_salts rows — use when right is the smaller (but not
  broadcastable) side.
* ``top_keys`` — heavy-hitter detection by approximate count, for
  salting ONLY the hot keys (two-path join: salted hot + plain cold).

Result equality with a plain join is pinned by tests on skewed data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with left-side salting and right-side replication.

    Supports ``inner`` and ``left`` joins (semantics where replicating
    the right side is sound).  Columns out = left's then right's
    non-key columns, like ``left.join(right, on)``.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    # the salt hashes ALL left columns, never a nondeterministic id:
    # monotonically_increasing_id changes across task retries when the
    # upstream partition order isn't stable, and a fetch-failure retry
    # would then re-salt rows into different partitions (the SPARK-23207
    # class of silent row loss/duplication).  Hashing the full row is
    # deterministic under retries; a hot key still fans out across
    # salts as long as any non-key column varies (identical full rows
    # collapse to one salt, which only costs balance, never rows).
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    lhs = left.withColumn("_salt", salt.cast("int"))
    rhs = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(s) for s in range(n_salts)]))
    )
    return lhs.join(rhs, [*on, "_salt"], how).drop("_salt")


def top_keys(
    df: DataFrame, on: list[str], min_count: int, rsd: float = 0.05
) -> DataFrame:
    """Keys whose row count exceeds ``min_count`` (exact count over a
    single partial-aggregated shuffle — cheap because the map-side
    combine collapses each partition to one row per key)."""
    return (
        df.groupBy(*on)
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") >= min_count)
        .select(*on)
    )


def skew_hint_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    hot_threshold: int = 100_000,
    n_salts: int = 8,
) -> DataFrame:
    """Two-path inner join: salt only the detected hot keys.

    Cold keys take the ordinary shuffle join; hot keys are salted.
    The union preserves plain-join semantics while bounding every
    reducer at ~|hot key| / n_salts.
    """
    hot = F.broadcast(top_keys(left, on, hot_threshold).withColumn("_hot", F.lit(True)))
    l_tagged = left.join(hot, on, "left").withColumn(
        "_is_hot", F.coalesce(F.col("_hot"), F.lit(False))
    ).drop("_hot")
    r_tagged = right.join(hot, on, "left").withColumn(
        "_is_hot", F.coalesce(F.col("_hot"), F.lit(False))
    ).drop("_hot")

    cold = l_tagged.where(~F.col("_is_hot")).drop("_is_hot").join(
        r_tagged.where(~F.col("_is_hot")).drop("_is_hot"), on
    )
    hot_join = salted_join(
        l_tagged.where(F.col("_is_hot")).drop("_is_hot"),
        r_tagged.where(F.col("_is_hot")).drop("_is_hot"),
        on,
        n_salts=n_salts,
    )
    return cold.unionByName(hot_join)


def pin(df: DataFrame) -> DataFrame:
    """Persist (MEMORY_AND_DISK) a subtree that the enclosing plan
    references more than once.

    Catalyst does no common-subexpression elimination across join
    branches: a DataFrame joined twice (or fed to both an edge list and
    an id-mapping join-back) evaluates its whole subtree once per
    reference — for pandas-UDF subtrees that multiplies the Python
    stage cost, and it multiplies every upstream shuffle.  Pinning
    materializes the first evaluation and serves the rest from block
    storage; MEMORY_AND_DISK spills instead of recomputing, and LRU
    eviction bounds a long session.  At cluster scale pin only what is
    O(corpus-projection) small (id + sketch columns), never raw
    payloads."""
    from pyspark import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)


def spread(df: DataFrame, *key_cols: str, min_slots: int | None = None) -> DataFrame:
    """Guarantee a compute-dense stage at least one partition per core.

    AQE sizes shuffle partitions by BYTES (64 MB advisory target), which
    is the right call for relational work but starves compute-dense
    stages: a few-MB corpus coalesces to one partition, and the pandas
    UDF / explode that costs seconds-per-MB then runs on a single core
    (measured: the sf0.1 MinHash banding stage ran 1-partition, one core
    of 32 busy).  Bytes are the wrong cost model when CPU-per-byte is
    large.

    ``spread`` is a no-op whenever the plan already has at least
    ``min_slots`` (default ``sc.defaultParallelism``) partitions — on a
    1000-executor cluster reading 100 TB the scan alone clears that, so
    no extra shuffle is ever added at scale.  Only in the small-input /
    expensive-compute regime does it insert one explicit hash
    repartition on ``key_cols`` (explicit numeric repartitions are
    exempt from AQE coalescing, and hash-partitioning on the downstream
    aggregate/window key means the next exchange is reused, not added).
    """
    sc = df.sparkSession.sparkContext
    target = min_slots if min_slots is not None else sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *key_cols) if key_cols else df.repartition(target)


def skew_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 5,
) -> DataFrame:
    """Key-distribution diagnostics for shuffle planning: before keying
    a 100 TB join or aggregation, this one-aggregation report says
    whether the key needs salting (``salted_join``), a skew hint, or
    nothing — the measurement half of the skew toolkit.

    One count-by-key aggregation (map-side combined), then order
    statistics over the COUNTED keys (never the rows) through the
    bucketed ``exact_rank`` of operators/layout.py — no global window
    even when the diagnosed key is high-cardinality (entity IRIs are
    exactly the key this report is pointed at).  Reported per key
    table:

    * ``n_keys``, ``n_rows``, ``max_cnt``, ``top1_share`` — the
      heavy-hitter headline;
    * ``p50_cnt`` / ``p99_cnt`` — nearest-rank order statistics
      (exact integers, rank = ceil(q * n));
    * ``gini_x1m`` — Gini coefficient of the key-count distribution
      in exact MICRO-units: with counts sorted ascending,
      G = (2 * sum(i * c_i) / (n * sum(c)) - (n + 1) / n), the
      rank-weighted sum and its products carried in DECIMAL(38,0)
      (they approach n_keys * n_rows — past int64 at the 10^9-key x
      10^10-row scale this report diagnoses), scaled by 10^6 and
      floor-divided so the figure is bit-stable at any parallelism;
    * ``top_keys`` — the ``top_k`` heaviest keys as 'key:count'
      strings (count desc, key asc).
    """
    from turtle_spark.operators.layout import exact_rank

    counts = pin(
        df.groupBy(F.col(key_col).cast("string").alias("k")).agg(
            F.count("*").alias("c")
        )
    )
    # exact ascending rank of the counted keys WITHOUT a global window:
    # sketch-boundary range buckets + broadcast prefix offsets + a
    # PARTITIONED within-bucket window (operators/layout.py).  When the
    # diagnosed key is high-cardinality — entity IRIs, exactly the key
    # a skew report exists for — a Window.orderBy over the distinct-key
    # table would itself serialize on one core.
    # rank stays LONG: above 2^31-1 keys an int cast would silently
    # wrap in non-ANSI mode and corrupt the decimal gini sum below
    ranked = exact_rank(counts, ["c", "k"], "i", pin_input=False).withColumn(
        "i", (F.col("i") + 1).cast("long")
    )
    # the rank-weighted sum i*c approaches n_keys * n_rows — decimal
    # from the element up, or the SUM itself wraps int64 at the
    # 10^9-key x 10^10-row scale this report is pointed at
    stats = ranked.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("c").cast("long").alias("n_rows"),
        F.max("c").cast("long").alias("max_cnt"),
        F.sum(
            F.col("i").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)")
        ).alias("_ic"),
    )
    pct = ranked.join(F.broadcast(stats.select("n_keys")))
    p = pct.select(
        F.max(
            F.when(
                F.col("i") == F.ceil(F.col("n_keys") * 0.5).cast("long"),
                F.col("c"),
            )
        ).cast("long").alias("p50_cnt"),
        F.max(
            F.when(
                F.col("i") == F.ceil(F.col("n_keys") * 0.99).cast("long"),
                F.col("c"),
            )
        ).cast("long").alias("p99_cnt"),
    )
    # orderBy().limit() compiles to TakeOrderedAndProject (per-partition
    # top-k + driver merge) — no rank window at all; collect_list order
    # is partition-dependent, so sort inside the array on a negated
    # count (count desc, key asc) before joining to a string
    tops = (
        counts.orderBy(F.desc("c"), F.asc("k"))
        .limit(top_k)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                (-F.col("c")).alias("nc"),
                                F.col("k").alias("k"),
                                F.col("c").alias("c"),
                            )
                        )
                    ),
                    lambda x: F.concat_ws(
                        ":", x["k"], x["c"].cast("string")
                    ),
                ),
                ",",
            ).alias("top_keys")
        )
    )
    return (
        stats.join(F.broadcast(p))
        .join(F.broadcast(tops))
        .select(
            "n_keys",
            "n_rows",
            "max_cnt",
            # exact micro-unit arithmetic: 10^6 * (2*sum(i*c) ... ) in
            # DECIMAL(38,0) — 2000000 * _ic and n_keys * n_rows both
            # blow past 2^63 at the advertised scale, and non-ANSI
            # int64 arithmetic would wrap silently
            F.expr(
                "(CAST(2000000 AS DECIMAL(38,0)) * _ic)"
                " div (CAST(n_keys AS DECIMAL(19,0))"
                "      * CAST(n_rows AS DECIMAL(19,0)))"
                " - (1000000 * (n_keys + 1)) div n_keys"
            ).cast("long").alias("gini_x1m"),
            F.expr("(1000000 * max_cnt) div n_rows").cast("long").alias(
                "top1_share_x1m"
            ),
            "p50_cnt",
            "p99_cnt",
            "top_keys",
        )
    )
