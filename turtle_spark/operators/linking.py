"""Stage C — entity linking: mention extraction + MinHash-LSH blocking.

Pipeline (SURVEY.md §3.4):

    triples -> mentions(term, term_id, kind)
            -> MinHash signatures (Arrow-batched pandas UDF, numpy inside)
            -> LSH band explosion -> bucket self-join (candidate pairs)
            -> exact-similarity verification -> edges(src, dst)

Scale design — this stage is where a naive implementation dies at
100 TB, so the shuffle story is explicit:

* the self-join key is ``(band_index, band_hash)``; bucket sizes are
  **capped deterministically** before the join (hot buckets come from
  stop-word-like terms; capping bounds the worst key at cap², making
  AQE skew handling a safety net rather than the plan).  Dropped
  candidates are only ever *extra* recall work, never correctness of
  retained pairs;
* signatures are computed once per *distinct* term, not per
  occurrence: dedup first, then a narrow pandas_udf pass;
* candidate pairs are verified with exact shingle Jaccard inside an
  Arrow batch — cheap compared to letting false positives flow into
  connected components;
* everything downstream keys on ``term_id`` (xxhash64 of the term), a
  long — joins shuffle 8-byte keys, not strings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from turtle_spark.functions.hashing import (
    band_hashes_batch,
    char_shingle_hashes_batch,
    minhash_permutations,
    minhash_signatures_batch,
)

DEFAULT_NUM_PERM = 128
DEFAULT_BANDS = 32
DEFAULT_SHINGLE_K = 4
DEFAULT_BUCKET_CAP = 64
DEFAULT_JACCARD = 0.6


def extract_mentions(triples: DataFrame) -> DataFrame:
    """Mention occurrences from the triple stream.

    A mention is an entity surface form: any subject IRI and any IRI
    object (blank nodes are doc-scoped and excluded — they canonicalize
    via doc_id prefixing, not linking).  Result: one row per occurrence
    with the 64-bit ``term_id`` join key.
    """
    subj = triples.where(~F.col("subject").startswith("_:")).select(
        "doc_id", F.col("subject").alias("term")
    )
    obj = triples.where(
        (F.col("objecttype") == "iri") & ~F.col("object").startswith("_:")
    ).select("doc_id", F.col("object").alias("term"))
    return (
        subj.unionByName(obj)
        .withColumn("term_id", F.xxhash64("term"))
    )


def distinct_terms(mentions: DataFrame) -> DataFrame:
    return mentions.select("term_id", "term").dropDuplicates(["term_id"])


def lsh_band_keys(
    terms: DataFrame,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = DEFAULT_SHINGLE_K,
    seed: int = 7,
) -> DataFrame:
    """term -> exploded LSH band keys in ONE fused Arrow pass.

    Shingling, MinHash signatures, and band folding run inside a single
    pandas UDF (all across-row numpy), so the text crosses the Python
    boundary exactly once and no intermediate 128-long signature arrays
    shuttle through Arrow (two chained pandas UDFs in one stage run as
    pipelined Python workers feeding each other, measured ~30x slower).

    The input is ``spread`` first: a terms table read back from a
    checkpoint parquet is a few MB = 1-2 scan partitions, which would
    run this compute-dense UDF on 1-2 cores regardless of cluster
    width (the pipeline's measured edges-stage scaling bottleneck).
    No-op whenever the scan already has a partition per core."""
    from turtle_spark.operators.skew import spread

    a, b = minhash_permutations(num_perm, seed)
    terms = spread(terms, "term_id")

    @pandas_udf(T.ArrayType(T.LongType()))
    def keys_udf(col: pd.Series) -> pd.Series:
        texts = [(s or "") for s in col]
        if not texts:
            return pd.Series([], dtype=object)
        shingles = char_shingle_hashes_batch(texts, shingle_k)
        sigs = minhash_signatures_batch(shingles, a, b)
        return pd.Series(list(band_hashes_batch(sigs, bands)))

    return terms.select(
        "term_id",
        "term",
        F.posexplode(keys_udf("term")).alias("band_index", "band_hash"),
    )


def candidate_pairs(
    buckets: DataFrame,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
    src_degree_cap: int | None = None,
    neighbor_window: int | None = None,
    salt_cap_order: bool = False,
) -> DataFrame:
    """Expand LSH buckets into SKINNY candidate pairs (src, dst).

    ONE aggregation, no self-join: each bucket is capped to its
    ``bucket_cap`` smallest ids BEFORE the member list materializes —
    a ``row_number`` window (sort-based, spills to disk) rather than
    ``slice(collect_list(...))``, because collect_list gathers the
    ENTIRE bucket on the final reducer before any slice runs, so a
    stop-word-like bucket with 10^8 members would OOM a reducer at
    web scale.  The window's exchange is reused by the groupBy (same
    key), so this costs a sort, not a second shuffle.  Retained set is
    identical: the cap smallest ids per key, fan-out bounded at cap².
    Pairs then expand in-array by a JVM ``transform`` expression.

    Why not a self-join: joining ``capped`` to itself duplicates the
    whole upstream subtree — Spark's exchange reuse does not fire
    across the differently-aliased branches, so the (expensive)
    banding UDF and its shuffle would execute TWICE per query
    (measured; 4 ArrowEvalPython ops in the old plan vs 2 here).  The
    aggregate form evaluates upstream once, with one shuffle.

    Everything downstream moves 16-byte id pairs only — the term
    strings are joined back after dedup (verify_pairs).

    Three knobs bound dense-family (clique) blow-up — all share the
    ``bucket_cap`` contract (dropped candidates cost only recall, and
    for downstream connected components only if a family's chain
    happens to break; never the correctness of retained pairs):

    * ``src_degree_cap`` — after cross-band dedup, keep each src's cap
      smallest-id partners.  A family of n mutually-similar terms
      (template-minted IRIs, boilerplate) otherwise yields O(n²) TRUE
      pairs that all survive verification (measured 25M verified edges
      from 434k terms); CC needs the family CONNECTED, not complete.
    * ``neighbor_window`` — bound the IN-ARRAY expansion itself: each
      bucket member pairs with only its ``neighbor_window`` nearest
      followers in the sorted member list (64·K pairs per bucket
      instead of C(64,2)=2016), so the raw pair stream entering the
      dedup shuffle shrinks ~4x before anything moves.  Consecutive
      members always pair, so each bucket's retained set stays
      chain-connected by construction.
    * ``salt_cap_order`` — order the bucket cap by
      ``xxhash64(band_index, term_id)`` instead of ``term_id``.  With
      id-ordered capping, a family larger than ``bucket_cap`` retains
      the SAME smallest ids in every band and the rest of the family
      never reaches a pair; salting keeps a different random subset
      per band, so across b bands ~b·cap distinct members participate
      and overlapping subsets chain the family together.
    """
    from pyspark.sql import Window

    order = (
        F.xxhash64(F.col("band_index"), F.col("term_id"))
        if salt_cap_order
        else F.col("term_id")
    )
    w = Window.partitionBy("band_index", "band_hash").orderBy(order)
    members = (
        buckets.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= bucket_cap)
        .groupBy("band_index", "band_hash")
        .agg(F.sort_array(F.collect_list("term_id")).alias("ms"))
        .where(F.size("ms") >= 2)
    )
    win = (
        "size(ms) - i - 1"
        if neighbor_window is None
        else f"least({int(neighbor_window)}, size(ms) - i - 1)"
    )
    pair_expr = F.expr(
        f"""
        flatten(transform(ms, (x, i) ->
          transform(slice(ms, i + 2, {win}), y ->
            struct(x AS src, y AS dst))))
        """
    )
    raw = members.select(F.explode(pair_expr).alias("p")).select("p.src", "p.dst")
    if src_degree_cap is None:
        return raw.dropDuplicates(["src", "dst"])
    # Fused dedup + degree cap: ONE groupBy(src) shuffle replaces the
    # (src,dst) dropDuplicates shuffle AND the per-src row_number window
    # (a second shuffle plus a sort).  collect_set dedups map-side
    # (partial aggregation), and slice(sort_array(...), 1, cap) keeps
    # exactly the cap smallest distinct dsts — bit-identical to the old
    # dedup→window form (pinned by tests).  Safe at web scale because a
    # src's distinct-dst count is bounded by construction at
    # bands × neighbor_window (≤ 32·8 = 256 with pipeline defaults, and
    # ≤ bands · bucket_cap even without a neighbor window), so no
    # reducer ever materializes an unbounded set.  Measured on the 96k
    # pipeline corpus at local[8]: 20.9 s → 8.2 s for this tail.
    return (
        raw.groupBy("src")
        .agg(F.slice(F.sort_array(F.collect_set("dst")), 1, src_degree_cap).alias("_ds"))
        .select("src", F.explode("_ds").alias("dst"))
    )


def shingle_profiles(
    terms: DataFrame, shingle_k: int = DEFAULT_SHINGLE_K
) -> DataFrame:
    """(term_id, shs: array<long>, nw: int) — each term's DISTINCT
    shingle-hash set plus that set's size, computed ONCE per term in a
    single Arrow pass (across-row numpy shingling).  ``nw`` counts
    DISTINCT shingles, not raw windows (``char_shingle_hashes_batch``
    applies ``np.unique`` per doc before this UDF sizes it) — keep it
    that way: the set-semantics Jaccard built on it is what the
    goldens' ``jaccard_shingles`` pins.

    ``spread`` first, same rationale as ``lsh_band_keys``: a
    checkpoint-read terms table is byte-small, and byte-based
    partitioning would serialize this Arrow pass to 1-2 cores."""
    from turtle_spark.operators.skew import spread

    terms = spread(terms, "term_id")
    schema = T.StructType(
        [
            T.StructField("shs", T.ArrayType(T.LongType())),
            T.StructField("nw", T.IntegerType()),
        ]
    )

    @pandas_udf(schema)
    def prof_udf(col: pd.Series) -> pd.DataFrame:
        hxs = char_shingle_hashes_batch([(s or "") for s in col], shingle_k)
        # .view(int64): bit-reinterpret the uint64 hashes for Spark's
        # signed long — equality (all Jaccard needs) is preserved
        return pd.DataFrame(
            {
                "shs": [np.unique(h).view(np.int64) for h in hxs],
                "nw": np.fromiter((h.size for h in hxs), dtype=np.int32, count=len(hxs)),
            }
        )

    return terms.withColumn("_p", prof_udf("term")).select(
        "term_id", F.col("_p.shs").alias("shs"), F.col("_p.nw").alias("nw")
    )


def verify_pairs(
    pairs: DataFrame,
    terms: DataFrame,
    shingle_k: int = DEFAULT_SHINGLE_K,
    threshold: float = DEFAULT_JACCARD,
) -> DataFrame:
    """Exact shingle-Jaccard filter over skinny LSH candidates.

    Two-phase shape chosen for the per-pair stage to be 100% JVM:

    1. each term is shingled ONCE into (distinct-hash set, window
       count) — ``shingle_profiles``, the only Python in this stage,
       O(corpus) not O(candidates);
    2. candidates join the profiles on 8-byte ids and the exact
       Jaccard is ``size(array_intersect)`` over the distinct sets —
       whole-stage codegen, no Arrow round-trip, immune to AQE
       under-parallelizing a byte-small but CPU-heavy Python stage
       (the previous design re-shingled both texts per PAIR in a
       pandas UDF: ~40x redundant shingling at sf0.1's candidate/doc
       ratio, and serialized to 2-3 tasks by byte-based coalescing).

    Jaccard here = |distinct(A) ∩ distinct(B)| / (|A| + |B| - |∩|)
    with |A| the DISTINCT shingle count (``nw``) — pure set-semantics
    Jaccard, identical to the previous numpy ``intersect1d``
    formulation, bit-for-bit (exact integer operands; IEEE
    division)."""
    from turtle_spark.operators.skew import pin

    # pinned: both join branches below reference the profile subtree,
    # and Catalyst evaluates each branch separately — without the pin
    # the shingling UDF (and the scan under it) runs twice per query.
    # Profiles are O(|terms|) id+sketch rows, the pinnable projection.
    profiles = pin(shingle_profiles(terms, shingle_k))
    # Join the SKINNY pair table (16 bytes/row) against the profiles
    # twice on 8-byte ids, as SHUFFLE_HASH joins with the profile side
    # as build.  Not broadcast, deliberately: the profile table carries
    # the shingle arrays, so it is the BYTE-heavy side even though the
    # pair table has more rows — left to AQE, both joins became
    # driver-built broadcasts (pairs once, profiles once), and the two
    # single-threaded collect+serialize passes were a fixed ~20 s that
    # capped the edges stage at 2.1x on 4x cores (event-log measured).
    # At cluster scale the same shape is wrong twice over: a 1000-
    # executor broadcast ships the array table to every executor.
    # Shuffle-hash moves each profile row once, hash-partitioned on
    # the 8-byte id, and the pairs side reuses the groupBy(src)
    # exchange (same key) for the first join.  Not sort-merge: the
    # build side fits per-partition and sorting rows that drag 1 KB
    # arrays through a sort buffer is pure memory traffic.
    # The profile-UDF subtree is evaluated once per join (O(2*corpus)
    # Python) — cheap next to the alternative this replaces: melting
    # pairs into a collect_list-groupBy shuffled the full arrays of
    # BOTH members per candidate (O(candidates * |shs|) shuffle
    # bytes), which blew up superlinearly with corpus size once LSH
    # emitted ~40 candidates/doc (5.5 s -> ~110 s from sf0.01 to
    # sf0.1).
    a = profiles.select(
        F.col("term_id").alias("src"),
        F.col("shs").alias("_ashs"),
        F.col("nw").alias("_anw"),
    )
    b = profiles.select(
        F.col("term_id").alias("dst"),
        F.col("shs").alias("_bshs"),
        F.col("nw").alias("_bnw"),
    )
    # inner joins drop pairs with a missing profile, matching the
    # previous size(ms)==2 guard
    joined = pairs.join(a.hint("shuffle_hash"), "src").join(
        b.hint("shuffle_hash"), "dst"
    )
    inter = F.size(F.array_intersect("_ashs", "_bshs"))
    union = F.col("_anw") + F.col("_bnw") - inter
    jaccard = F.when(union == 0, F.lit(1.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )
    return (
        joined.withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= threshold)
        .select("src", "dst", "jaccard")
    )


def link_terms(
    terms: DataFrame,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = DEFAULT_SHINGLE_K,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
    threshold: float = DEFAULT_JACCARD,
    src_degree_cap: int | None = None,
    neighbor_window: int | None = None,
    salt_cap_order: bool = False,
    seed: int = 7,
) -> DataFrame:
    """terms(term_id, term) -> verified similarity edges (src, dst).

    Set the clique-guard knobs (``src_degree_cap``,
    ``neighbor_window``, ``salt_cap_order``) when the edges feed
    connected components (the canonicalization pipeline does): dense
    term families then contribute chains instead of cliques — see
    ``candidate_pairs``."""
    buckets = lsh_band_keys(
        terms, num_perm=num_perm, bands=bands, shingle_k=shingle_k, seed=seed
    )
    pairs = candidate_pairs(
        buckets,
        bucket_cap=bucket_cap,
        src_degree_cap=src_degree_cap,
        neighbor_window=neighbor_window,
        salt_cap_order=salt_cap_order,
    )
    return verify_pairs(pairs, terms, shingle_k=shingle_k, threshold=threshold)
