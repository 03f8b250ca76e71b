"""Entity linking (MinHash-LSH) + connected components + canonicalization."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from turtle_spark.functions.hashing import (
    band_hashes,
    char_shingle_hashes,
    minhash_permutations,
    minhash_signature,
)
from turtle_spark.operators import linking
from turtle_spark.operators.canonicalize import (
    apply_canonical_map,
    canonical_map,
    dedup_triples,
    globalize_blank_nodes,
)
from turtle_spark.operators.cc import connected_components


# --- numpy primitives (no Spark) --------------------------------------------

def test_minhash_similarity_estimate():
    a, b = minhash_permutations(256)
    s1 = char_shingle_hashes("the quick brown fox jumps over the lazy dog", 4)
    s2 = char_shingle_hashes("the quick brown fox jumped over the lazy dog", 4)
    s3 = char_shingle_hashes("completely different text with nothing shared", 4)
    sig1 = minhash_signature(s1, a, b)
    sig2 = minhash_signature(s2, a, b)
    sig3 = minhash_signature(s3, a, b)
    sim12 = (sig1 == sig2).mean()
    sim13 = (sig1 == sig3).mean()
    true12 = np.intersect1d(s1, s2).size / np.union1d(s1, s2).size
    assert abs(sim12 - true12) < 0.15
    assert sim13 < 0.1 < sim12


def test_minhash_deterministic():
    a, b = minhash_permutations(64)
    s = char_shingle_hashes("hello world", 3)
    assert minhash_signature(s, a, b).tolist() == minhash_signature(s, a, b).tolist()
    assert band_hashes(minhash_signature(s, a, b), 16) == band_hashes(
        minhash_signature(s, a, b), 16
    )


def test_empty_text_sentinel_signature():
    a, b = minhash_permutations(8)
    sig = minhash_signature(char_shingle_hashes("", 4), a, b)
    assert (sig == (1 << 61) - 1).all()


# --- Spark linking -----------------------------------------------------------

def _terms_df(spark, terms):
    return spark.createDataFrame(
        [(t,) for t in terms], "term string"
    ).withColumn("term_id", F.xxhash64("term"))


def test_link_terms_finds_near_duplicates(spark):
    terms = _terms_df(
        spark,
        [
            "http://example.org/person/Mark_Twain",
            "http://example.org/person/Mark_Twaine",  # near-dup
            "http://example.org/person/Samuel_Clemens",
            "http://other.site/completely/unrelated",
        ],
    )
    edges = linking.link_terms(terms, threshold=0.6).collect()
    pairs = {(e.src, e.dst) for e in edges}
    ids = {r.term: r.term_id for r in terms.collect()}
    twin = tuple(
        sorted(
            [ids["http://example.org/person/Mark_Twain"], ids["http://example.org/person/Mark_Twaine"]]
        )
    )
    assert twin in pairs
    # the unrelated term must not link to anything
    unrelated = ids["http://other.site/completely/unrelated"]
    assert not any(unrelated in p for p in pairs)


def test_bucket_cap_bounds_pair_fanout(spark):
    # 200 identical-ish terms in one bucket; cap 10 -> at most C(10,2) pairs
    terms = _terms_df(spark, [f"shared-prefix-term-{i:03d}" for i in range(200)])
    buckets = linking.lsh_band_keys(terms)
    pairs = linking.candidate_pairs(buckets, bucket_cap=10)
    # every bucket contributes <= 45 pairs; with 32 bands the global
    # count is bounded by 32*45 (dedup shrinks it further)
    assert pairs.count() <= 32 * 45


def test_src_degree_cap_preserves_family_components(spark):
    """The clique guard: a dense family of template-minted terms must
    survive degree capping as ONE component (chain connectivity), with
    the capped edge set a strict subset of the uncapped edges."""
    family = [f"http://kg.example/entity/item-{i:05d}" for i in range(60)]
    outsider = ["http://elsewhere.net/totally/different/path"]
    terms = _terms_df(spark, family + outsider)

    full = linking.link_terms(terms, threshold=0.6)
    capped = linking.link_terms(terms, threshold=0.6, src_degree_cap=4)
    full_pairs = {(e.src, e.dst) for e in full.collect()}
    capped_pairs = {(e.src, e.dst) for e in capped.collect()}
    assert capped_pairs <= full_pairs
    assert len(capped_pairs) < len(full_pairs)  # the clique actually shrank
    # per-src fan-out bound holds
    from collections import Counter

    fanout = Counter(s for s, _ in capped_pairs)
    assert max(fanout.values()) <= 4

    # connected components are UNCHANGED: the family stays one
    # component via near-id chains, the outsider stays isolated
    def comps(pairs):
        a = connected_components(
            spark.createDataFrame(list(pairs), "src long, dst long")
        ).collect()
        by_comp: dict[int, set] = {}
        for r in a:
            by_comp.setdefault(r.component, set()).add(r.node)
        return {frozenset(v) for v in by_comp.values()}

    assert comps(full_pairs) == comps(capped_pairs)


# --- connected components -----------------------------------------------------

def test_cc_chain_and_clique(spark):
    # chain 1-2-3-4-5 and clique 10-11-12, isolated edge 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src long, dst long",
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert {got[n] for n in (1, 2, 3, 4, 5)} == {1}
    assert {got[n] for n in (10, 11, 12)} == {10}
    assert {got[n] for n in (20, 21)} == {20}


def test_cc_long_path_converges_logarithmically(spark):
    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    # local_cutoff=0: pin the DISTRIBUTED rounds' O(log n) convergence,
    # not the driver-side tail (which would short-circuit this size)
    got = {
        r.node: r.component
        for r in connected_components(
            edges, max_iterations=12, local_cutoff=0
        ).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_cc_empty(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(edges).count() == 0


# --- canonicalization ---------------------------------------------------------

def test_canonical_map_and_apply(spark):
    terms = _terms_df(spark, ["http://e/Alice", "http://e/Alicia", "http://e/Bob"])
    ids = {r.term: r.term_id for r in terms.collect()}
    assignments = spark.createDataFrame(
        [
            (ids["http://e/Alice"], min(ids["http://e/Alice"], ids["http://e/Alicia"])),
            (ids["http://e/Alicia"], min(ids["http://e/Alice"], ids["http://e/Alicia"])),
        ],
        "node long, component long",
    )
    cmap = canonical_map(terms, assignments)
    rows = cmap.collect()
    # only the non-canonical surface form is mapped
    assert len(rows) == 1
    assert rows[0].canonical_term == "http://e/Alice"  # lexicographic min

    triples = spark.createDataFrame(
        [
            ("d1", 0, "http://e/Alicia", "http://e/knows", "http://e/Bob", "", "", "iri"),
            ("d1", 1, "http://e/Bob", "http://e/name", "http://e/Alicia", "", "", "literal"),
        ],
        "doc_id string, seq long, subject string, predicate string, object string, label string, datatype string, objecttype string",
    )
    out = {(r.seq): (r.subject, r.object) for r in apply_canonical_map(triples, cmap).collect()}
    assert out[0][0] == "http://e/Alice"          # subject rewritten
    assert out[1][1] == "http://e/Alicia"          # literal object untouched
    assert out[1][0] == "http://e/Bob"


def test_globalize_blank_nodes(spark):
    triples = spark.createDataFrame(
        [
            ("dA", 0, "_:b0", "http://e/p", "_:b1", "", "", "iri"),
            ("dB", 0, "_:b0", "http://e/p", "x", "", "", "literal"),
        ],
        "doc_id string, seq long, subject string, predicate string, object string, label string, datatype string, objecttype string",
    )
    rows = {(r.doc_id): (r.subject, r.object) for r in globalize_blank_nodes(triples).collect()}
    assert rows["dA"] == ("_:dA#b0", "_:dA#b1")
    assert rows["dB"] == ("_:dB#b0", "x")  # literal object untouched


def test_dedup_triples(spark):
    triples = spark.createDataFrame(
        [("d", 0, "s", "p", "o", "", "", "iri")] * 3
        + [("d", 1, "s", "p", "o", "en", "", "literal")],
        "doc_id string, seq long, subject string, predicate string, object string, label string, datatype string, objecttype string",
    )
    assert dedup_triples(triples).count() == 2


def test_apply_canonical_map_hash_collision_guard(spark):
    """A canonical-map row whose 64-bit term_id collides with an
    UNRELATED subject's hash must not rewrite that subject — the join
    is guarded by exact string equality on the carried term.  (At
    10^12 terms 64-bit collisions are a certainty; simulated here by
    forging a map row with victim_hash but a different term string.)"""
    from pyspark.sql import functions as F

    from tools.golden_ref import xxh64_str

    victim = "http://e/victim"
    triples = spark.createDataFrame(
        [("d", 0, victim, "http://e/p", "o", "", "", "literal")],
        "doc_id string, seq long, subject string, predicate string, "
        "object string, label string, datatype string, objecttype string",
    )
    forged = spark.createDataFrame(
        [(xxh64_str(victim), "http://e/other-term", "http://e/canonical")],
        "term_id long, term string, canonical_term string",
    )
    out = apply_canonical_map(triples, forged).collect()
    assert out[0]["subject"] == victim  # untouched despite the hash match
    # and a REAL match still rewrites
    genuine = spark.createDataFrame(
        [(xxh64_str(victim), victim, "http://e/canonical")],
        "term_id long, term string, canonical_term string",
    )
    out2 = apply_canonical_map(triples, genuine).collect()
    assert out2[0]["subject"] == "http://e/canonical"


def test_cc_local_tail_equals_distributed(spark):
    """The adaptive driver-side tail finish must produce EXACTLY the
    distributed rounds' assignments — same nodes, same min labels."""
    import random

    from turtle_spark.operators.cc import connected_components

    rng = random.Random(7)
    edges = [(rng.randint(0, 400), rng.randint(0, 400)) for _ in range(600)]
    df = spark.createDataFrame(edges, "src long, dst long")
    local = {
        (r.node, r.component)
        for r in connected_components(df).collect()  # tail fires (600 < cutoff)
    }
    dist = {
        (r.node, r.component)
        for r in connected_components(df, local_cutoff=0).collect()
    }
    assert local == dist and len(local) > 0


def _rand_edges(spark, n_nodes, n_edges, seed):
    from pyspark.sql import functions as F

    return (
        spark.range(0, n_edges)
        .select(
            F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(n_nodes)).alias("x"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1)), F.lit(n_nodes)).alias("y"),
        )
        .where(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("src"), F.greatest("x", "y").alias("dst"))
        .distinct()
    )


def test_incremental_components_equals_recompute(spark):
    """Maintaining the assignment through a delta batch must be
    bit-identical to recomputing CC over old ∪ new edges."""
    from pyspark.sql import functions as F

    from turtle_spark.operators.cc import (
        apply_component_delta,
        connected_components,
        incremental_components,
    )

    base = _rand_edges(spark, 300, 400, seed=7)
    delta = _rand_edges(spark, 360, 120, seed=99)  # includes unseen nodes
    a0 = connected_components(base, assume_distinct=True)
    d = incremental_components(a0, delta)
    maintained = {
        (r["node"], r["component"])
        for r in apply_component_delta(a0, d).collect()
    }
    full = {
        (r["node"], r["component"])
        for r in connected_components(
            base.unionByName(delta).distinct(), assume_distinct=True
        ).collect()
    }
    assert maintained == full


def test_incremental_components_noop_batch_is_empty(spark):
    from turtle_spark.operators.cc import connected_components, incremental_components

    base = _rand_edges(spark, 100, 150, seed=3)
    a0 = connected_components(base, assume_distinct=True)
    # a batch of edges already internal to existing components
    internal = base.limit(20)
    assert incremental_components(a0, internal).count() == 0
