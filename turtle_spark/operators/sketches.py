"""Cardinality & frequency sketches: HyperLogLog, KMV, Count-Min.

The KG planner (operators/bgp.py) keys every join-ordering decision on
per-predicate cardinalities.  Exact ``countDistinct`` per predicate is
one full shuffle of every (predicate, term) pair — at 10^12 documents
that is the single most expensive statistic in the pipeline.  These
sketches give the same statistics in one narrow pass with
associatively-mergeable state:

* **HyperLogLog** (``hll_cardinality``) — 4096 registers / group,
  merged with ``max``; the whole sketch for a predicate is 4 KB no
  matter how many triples feed it.
* **KMV / theta** (``kmv_cardinality``) — the k smallest distinct
  hash values; min-k is merged associatively (union → re-take k), so
  partial aggregation composes across partitions and snapshots.
* **Count-Min** (``countmin_frequencies``) — a d×w counter grid; the
  sketch table is ~4k rows regardless of corpus size and broadcasts
  to answer point queries without a second scan of the corpus.

Determinism contract (the repo-wide rule: every operator must be
bit-identical at any parallelism, or it can never hash-match its own
oracle): all hashing is Spark's built-in ``xxhash64`` (JVM-side,
seed 42 — replicated byte-exactly by ``functions.hashing.xxh64_str``),
register/min-k/counter merges are max/min/sum in INTEGER domain, and
the only floating-point arithmetic is a closed-form estimate computed
once per group from exact integer aggregates, rounded to 4 decimals.
There is no float summation whose order could vary with partitioning.

Notably the HLL register sum avoids float entirely: the harmonic term
``sum(2^-M_j)`` is scaled by 2^53 so every register contributes an
exact integer weight ``1 << (53 - M_j)``, summed as DECIMAL(38,0)
(4096 × 2^53 overflows int64).  rho() needs count-leading-zeros,
which Spark lacks as an arithmetic builtin; an exact one is
``instr(lpad(bin(w), 64, '0'), '1')`` — still whole-stage codegen,
and exact where a ``floor(log2())`` double path is wrong for values
within 1 ulp of a power of two.

No reference-repo counterpart: nvkp/turtle is a parser (its surface
is covered by core/); this module is part of the statistics layer the
100 TB brief adds on top.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from turtle_spark.operators.skew import pin as skew_pin

HLL_P = 12                      # 2^12 = 4096 registers
HLL_M = 1 << HLL_P
# Flajolet et al. bias constant for m >= 128
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
KMV_K = 128
CM_DEPTH = 4
CM_WIDTH = 1024
# float numerators precomputed HERE and imported by tools/golden_ref —
# one shared Python evaluation order, so engine and oracle divide the
# same IEEE-754 constant
HLL_NUM = HLL_ALPHA * HLL_M * HLL_M * float(1 << 53)
KMV_NUM = (KMV_K - 1.0) * float(1 << 64)


def _rho(h: Column) -> Column:
    """HLL rho: 1 + leading zeros of the hash bits below the register
    index.  ``w = h << p`` moves those 64-p bits to the top; the first
    '1' position in the zero-padded binary string IS clz+1 (exact in
    integer/string domain — no double log2).  w == 0 means all 64-p
    bits were zero: rho saturates at 64 - p + 1."""
    w = F.shiftleft(h, HLL_P)
    first_one = F.instr(F.lpad(F.bin(w), 64, "0"), "1")
    return F.when(w == 0, F.lit(64 - HLL_P + 1)).otherwise(first_one)


def hll_cardinality(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """Per-group HyperLogLog distinct estimate of ``value_col``.

    Plan shape: one partial-aggregating shuffle on
    (group, register) — max(rho) combines map-side — then a tiny
    per-group rollup of at most 4096 register rows.  Nothing about the
    estimate depends on partition count: register maxima and the
    integer register sum are order-free.

    Returns (group..., hll_est DOUBLE) with the standard small-range
    linear-counting correction, rounded to 4 decimals.
    """
    h = F.xxhash64(F.col(value_col).cast("string"))
    regs = (
        df.select(*group_cols, F.shiftrightunsigned(h, 64 - HLL_P).alias("reg"),
                  _rho(h).alias("rho"))
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("m_j"))
    )
    # integer-domain harmonic sum: each register contributes 2^(53-M);
    # absent (zero) registers contribute 2^53 each
    summed = regs.groupBy(*group_cols).agg(
        F.count("*").alias("m_used"),
        F.sum(
            F.expr("cast(shiftleft(cast(1 as bigint), 53 - m_j) as decimal(38,0))")
        ).alias("s_present"),
    )
    m_zeros = F.lit(HLL_M) - F.col("m_used")
    s_total = (
        F.col("s_present")
        + m_zeros.cast("decimal(38,0)") * F.lit(1 << 53).cast("decimal(38,0)")
    ).cast("double")
    raw = F.lit(HLL_NUM) / s_total
    linear = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / m_zeros.cast("double"))
    est = F.when((raw <= F.lit(2.5 * HLL_M)) & (m_zeros > 0), linear).otherwise(raw)
    return summed.select(*group_cols, F.round(est, 4).alias("hll_est"))


def kmv_cardinality(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """Per-group KMV (k-minimum-values / theta) distinct estimate.

    The state is the k smallest DISTINCT hash values per group — an
    associative merge (concat, re-sort, cut at k), kept exact here by
    a two-phase min-k: row_number over 16 hash-salted subgroups keeps
    at most 16k rows per group before the final per-group order
    statistic, so no executor ever sorts a whole group's distinct set
    in one task.

    Estimator: with U_k the k-th smallest hash mapped to [0, 2^64),
    est = (k-1) * 2^64 / U_k; groups with fewer than k distinct values
    report their exact count (the sketch IS the set there).
    """
    from pyspark.sql import Window

    h = F.xxhash64(F.col(value_col).cast("string"))
    hashed = df.select(*group_cols, h.alias("h")).distinct()
    salted = Window.partitionBy(*group_cols, F.pmod(F.col("h"), F.lit(16))).orderBy("h")
    pruned = (
        hashed.withColumn("rn", F.row_number().over(salted))
        .where(F.col("rn") <= KMV_K)
        .drop("rn")
    )
    final = Window.partitionBy(*group_cols).orderBy("h")
    topk = (
        pruned.withColumn("rn", F.row_number().over(final))
        .where(F.col("rn") <= KMV_K)
        .groupBy(*group_cols)
        .agg(F.count("*").alias("n_kept"), F.max("h").alias("h_k"))
    )
    # signed int64 order == unsigned order shifted by 2^63, so the
    # k-th smallest signed hash maps to U_k = h_k + 2^63 exactly
    u_k = F.col("h_k").cast("double") + F.lit(float(1 << 63))
    est = F.when(
        F.col("n_kept") < KMV_K, F.col("n_kept").cast("double")
    ).otherwise(F.lit(KMV_NUM) / u_k)
    return topk.select(*group_cols, F.round(est, 4).alias("kmv_est"))


def countmin_sketch(tokens: DataFrame, token_col: str = "token") -> DataFrame:
    """Build the d×w Count-Min counter grid over a token stream.

    One narrow projection fans each token to CM_DEPTH salted-hash
    cells; the grouped count partial-aggregates map-side, so the
    shuffle moves at most d×w = 4096 rows per upstream partition no
    matter how many tokens went in.  Returns (depth, cell, cnt).
    """
    rows = [
        tokens.select(
            F.lit(i).alias("depth"),
            F.pmod(
                F.xxhash64(F.concat(F.lit(f"{i}|"), F.col(token_col))),
                F.lit(CM_WIDTH),
            ).alias("cell"),
        )
        for i in range(CM_DEPTH)
    ]
    grid = rows[0]
    for r in rows[1:]:
        grid = grid.unionByName(r)
    return grid.groupBy("depth", "cell").agg(F.count("*").alias("cnt"))


def countmin_estimate(
    sketch: DataFrame, candidates: DataFrame, token_col: str = "token"
) -> DataFrame:
    """Point-query the sketch: est(token) = min over depths of its
    cell counter.  The sketch is at most d×w rows — broadcast — so
    estimating any candidate set is a map-side join, never a second
    scan of the corpus the sketch summarized."""
    probes = [
        candidates.select(
            token_col,
            F.lit(i).alias("depth"),
            F.pmod(
                F.xxhash64(F.concat(F.lit(f"{i}|"), F.col(token_col))),
                F.lit(CM_WIDTH),
            ).alias("cell"),
        )
        for i in range(CM_DEPTH)
    ]
    all_probes = probes[0]
    for p in probes[1:]:
        all_probes = all_probes.unionByName(p)
    return (
        all_probes.join(F.broadcast(sketch), ["depth", "cell"], "left")
        .groupBy(token_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cm_est"))
    )


def sketch_cardinality_report(
    triples: DataFrame, subject_col: str = "subject",
    predicate_col: str = "predicate", object_col: str = "object",
) -> DataFrame:
    """Per-predicate object-cardinality report: exact distinct count
    next to its HLL and KMV estimates — the statistics table the BGP
    planner would consume, with the exact column kept only to grade
    the sketches (at 100 TB you run the sketches alone).

    Columns: predicate, n_exact, hll_est, kmv_est.
    """
    exact = triples.groupBy(predicate_col).agg(
        F.countDistinct(object_col).alias("n_exact")
    )
    hll = hll_cardinality(triples, [predicate_col], object_col)
    kmv = kmv_cardinality(triples, [predicate_col], object_col)
    return exact.join(hll, predicate_col).join(kmv, predicate_col)


KQ_K = 256


def kmv_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    k: int = KQ_K,
) -> DataFrame:
    """Per-group quantile sketch from a deterministic min-k-by-hash
    row sample (the quantile member of the mergeable-sketch family:
    HLL for distincts, KMV for theta, Count-Min for frequencies, this
    for order statistics).

    State is the k rows whose ``xxhash64(id)`` is smallest per group —
    a uniform row sample that merges associatively (union → re-take
    min-k), so partial aggregation composes across partitions and
    snapshots exactly like ``kmv_cardinality``.  Estimator is
    nearest-rank on the sampled VALUES: index = floor(q·(n-1) + 0.5)
    into the value-sorted sample.  Rank error is O(n/√k) w.h.p.

    Determinism: hash order is global and ties break on the id, the
    reported quantile is an ACTUAL value from the data (integer
    domain end to end for integer columns — no interpolation, no float
    summation), so results are bit-identical at any parallelism.

    Returns (group..., n_kept, q_<pct> per requested quantile).
    """
    from pyspark.sql import Window

    h = F.xxhash64(F.col(id_col).cast("string"))
    hashed = df.select(*group_cols, h.alias("h"), F.col(value_col).alias("v"))
    # two-phase min-k: salted subgroup prune bounds any single task's
    # sort at ~k rows, the final order statistic sees at most 16k rows
    # ties on h break by value so the kept multiset of VALUES is total-
    # ordered (kmv_cardinality needs no tiebreak — it dedups hashes —
    # but here two rows may legitimately share a hash-colliding h)
    salted = Window.partitionBy(*group_cols, F.pmod(F.col("h"), F.lit(16))).orderBy(
        "h", "v"
    )
    pruned = (
        hashed.withColumn("rn", F.row_number().over(salted))
        .where(F.col("rn") <= k)
        .drop("rn")
    )
    final = Window.partitionBy(*group_cols).orderBy("h", "v")
    sample = (
        pruned.withColumn("rn", F.row_number().over(final))
        .where(F.col("rn") <= k)
        .drop("rn")
    )
    # value-rank within the kept sample; ties in v are harmless — only
    # the value at each rank is reported, never the row identity
    vrank = Window.partitionBy(*group_cols).orderBy("v", "h")
    grp = Window.partitionBy(*group_cols)
    ranked = sample.withColumn("vr", F.row_number().over(vrank)).withColumn(
        "n_kept", F.count(F.lit(1)).over(grp)
    )
    aggs = [F.max("n_kept").alias("n_kept")]
    for q in qs:
        idx = (
            F.floor(F.lit(float(q)) * (F.col("n_kept") - 1).cast("double") + F.lit(0.5))
            + 1
        )
        label = f"q_{str(q).replace('0.', 'p')}"
        aggs.append(F.max(F.when(F.col("vr") == idx, F.col("v"))).alias(label))
    return ranked.groupBy(*group_cols).agg(*aggs)


def quantile_sketch_report(
    docs: DataFrame,
    group_col: str = "lang",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
    k: int = 64,
) -> DataFrame:
    """Per-language document-length quantiles: the sketch estimate
    next to the exact nearest-rank percentile — the length-statistics
    table a curation pipeline sizes its chunking/packing budgets from,
    with the exact columns kept only to grade the sketch (at 100 TB
    the full-data per-group sort is exactly what you run the sketch to
    avoid).

    Columns: <group>, n_rows, n_kept, p50/p90/p99 est + exact.
    """
    from pyspark.sql import Window

    est = kmv_quantiles(docs, [group_col], value_col, id_col, k=k)
    vrank = Window.partitionBy(group_col).orderBy(value_col, id_col)
    grp = Window.partitionBy(group_col)
    ranked = docs.select(group_col, value_col, id_col).withColumn(
        "vr", F.row_number().over(vrank)
    ).withColumn("n_rows", F.count(F.lit(1)).over(grp))
    exact_aggs = [F.max("n_rows").alias("n_rows")]
    for q in (0.5, 0.9, 0.99):
        idx = (
            F.floor(F.lit(q) * (F.col("n_rows") - 1).cast("double") + F.lit(0.5)) + 1
        )
        exact_aggs.append(
            F.max(F.when(F.col("vr") == idx, F.col(value_col))).alias(
                f"x_{str(q).replace('0.', 'p')}"
            )
        )
    exact = ranked.groupBy(group_col).agg(*exact_aggs)
    return (
        exact.join(est, group_col)
        .select(
            group_col, "n_rows", "n_kept",
            F.col("q_p5").alias("p50_est"), F.col("x_p5").alias("p50_exact"),
            F.col("q_p9").alias("p90_est"), F.col("x_p9").alias("p90_exact"),
            F.col("q_p99").alias("p99_est"), F.col("x_p99").alias("p99_exact"),
        )
        .orderBy(group_col)
    )


def heavy_hitters(
    docs: DataFrame, top_n: int = 20, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-N corpus tokens with their Count-Min estimates.

    Tokenization matches the TF-IDF path (lowercased ``[a-z]+`` runs,
    one regexp_extract_all per document).  true_cnt is the exact
    frequency (kept to grade the sketch; the 100 TB deployment would
    query the broadcast sketch directly), cm_est the sketch's answer
    — by construction cm_est >= true_cnt, overcount = cm_est -
    true_cnt.  Ordered by true_cnt desc, token asc.
    """
    tokens = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
        ).alias("token")
    )
    true_counts = tokens.groupBy("token").agg(F.count("*").alias("true_cnt"))
    sketch = countmin_sketch(tokens)
    est = countmin_estimate(sketch, true_counts.select("token"))
    return (
        true_counts.join(est, "token")
        .withColumn("overcount", F.col("cm_est") - F.col("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("token"))
        .limit(top_n)
    )


def kmv_set_ops(
    df: DataFrame,
    set_col: str,
    value_col: str,
    set_a: str,
    set_b: str,
    k: int = KMV_K,
) -> DataFrame:
    """KMV (theta-sketch) SET OPERATIONS between two named key sets:
    union and intersection cardinality estimates from the two min-k
    sketches alone — the mergeable-statistics answer to "how many
    users did both X and Y" when the sets are 10^10 keys on different
    tables and an exact distinct join is a full shuffle of both.

    Estimators (Beyer et al. / theta-sketch standard):
    * union: merge the two kept sets, re-take min-k -> (k-1)*2^64/U_k;
    * Jaccard: fraction of the union's k smallest that appear in BOTH
      kept sets; intersection = round(J * union_est).
    Small sets (fewer than k distinct) degrade to exact counts — the
    sketch IS the set there.

    One distinct + two-phase min-k per side (bounded shuffles exactly
    like ``kmv_cardinality``); the final estimate combines two
    k-row tables — driver-free, broadcast-sized.  EXACT counts ride
    along for the report (fine at test scale; at 10^10 keys you ship
    only the estimates — that is the point).
    """
    from pyspark.sql import Window

    h = F.xxhash64(F.col(value_col).cast("string"))
    hashed = skew_pin(
        df.where(F.col(set_col).isin(set_a, set_b))
        .select(F.col(set_col).alias("s"), h.alias("h"))
        .distinct()
    )
    salted = Window.partitionBy("s", F.pmod(F.col("h"), F.lit(16))).orderBy("h")
    final = Window.partitionBy("s").orderBy("h")
    kept = skew_pin(
        hashed.withColumn("rn", F.row_number().over(salted))
        .where(F.col("rn") <= k)
        .drop("rn")
        .withColumn("rn", F.row_number().over(final))
        .where(F.col("rn") <= k)
        .drop("rn")
    )
    # union sketch: k smallest of the merged kept sets, tagged with
    # membership in each side's kept set
    merged = (
        kept.groupBy("h")
        .agg(
            F.max(F.when(F.col("s") == set_a, 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("s") == set_b, 1).otherwise(0)).alias("in_b"),
        )
        # single-partition by CONSTANT key — input is ≤ 2k rows by
        # construction (k kept per side), so one partition is fine; the
        # constant key keeps WindowExec's "No Partition Defined" warning
        # out of bench tails where every audit would have to re-derive
        # its harmlessness.  pmod(h, 1) not lit(0): Spark 4's
        # EliminateWindowPartitions folds a literal partition key back
        # into the empty (warning) spec, a non-foldable constant stays.
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(F.pmod(F.col("h"), F.lit(1))).orderBy("h")
            ),
        )
        .where(F.col("rn") <= k)
        .drop("rn")
    )
    u = merged.agg(
        F.count("*").alias("n_kept"),
        F.max("h").alias("h_k"),
        F.sum(
            F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)
        ).alias("n_both"),
    )
    exact = (
        df.where(F.col(set_col).isin(set_a, set_b))
        .select(F.col(set_col).alias("s"), F.col(value_col).alias("v"))
        .distinct()
        .groupBy("v")
        .agg(
            F.max(F.when(F.col("s") == set_a, 1).otherwise(0)).alias("a"),
            F.max(F.when(F.col("s") == set_b, 1).otherwise(0)).alias("b"),
        )
        .agg(
            F.sum("a").cast("long").alias("exact_a"),
            F.sum("b").cast("long").alias("exact_b"),
            F.count("*").cast("long").alias("exact_union"),
            F.sum(F.col("a") * F.col("b")).cast("long").alias("exact_inter"),
        )
    )
    u_k = F.col("h_k").cast("double") + F.lit(float(1 << 63))
    union_est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(F.lit((k - 1.0) * float(1 << 64)) / u_k)
    jac = F.col("n_both").cast("double") / F.col("n_kept")
    return (
        u.join(F.broadcast(exact))
        .select(
            F.lit(set_a).alias("set_a"),
            F.lit(set_b).alias("set_b"),
            "exact_a",
            "exact_b",
            "exact_union",
            "exact_inter",
            F.round(union_est, 4).alias("union_est"),
            F.round(jac, 6).alias("jaccard_est"),
            F.round(union_est * jac, 4).alias("inter_est"),
        )
    )
