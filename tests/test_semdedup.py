"""SemDeDup tier (operators/semdedup.py): duplicate-group formation,
the peripheral-keep rule, the cluster cap bound, and partitioning
independence.  The sf-scale end-to-end chain (float32 k-means +
assignment + fold-ordered cosines + union-find) is pinned against the
independent golden by test_oracle_parity[q_semdedup]; these tests pin
the semantics on vectors small enough to check by eye."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from turtle_spark.operators.semdedup import semantic_dedup

_SCHEMA = "vec_id long, embedding array<double>"


@pytest.fixture(scope="module")
def vecs(spark):
    # group A: 3 near-identical directions; group B: a close pair;
    # id 50 isolated (orthogonal to everything)
    rows = [
        (1, [1.0, 0.02, 0.0]),
        (2, [1.0, 0.00, 0.02]),
        (3, [0.99, 0.01, 0.01]),
        (10, [0.0, 1.0, 0.05]),
        (11, [0.0, 0.98, 0.0]),
        (50, [0.0, 0.0, -1.0]),
    ]
    return spark.createDataFrame(rows, _SCHEMA)


def _collect(df):
    return sorted(tuple(r) for r in df.collect())


def test_duplicate_groups_and_keep_rule(vecs):
    out = semantic_dedup(vecs, threshold=0.9, n_clusters=1).collect()
    by_comp = {}
    for r in out:
        by_comp.setdefault(r["component"], []).append(r)
    assert set(by_comp) == {1, 10}  # min-id component labels
    assert sorted(r["vec_id"] for r in by_comp[1]) == [1, 2, 3]
    assert sorted(r["vec_id"] for r in by_comp[10]) == [10, 11]
    for comp, rows in by_comp.items():
        keeps = [r for r in rows if r["kept"]]
        assert len(keeps) == 1
        # keep rule: lowest centroid similarity, id tie-break
        best = min(rows, key=lambda r: (r["csim"], r["vec_id"]))
        assert keeps[0]["vec_id"] == best["vec_id"]
        assert all(r["keep_id"] == best["vec_id"] for r in rows)


def test_isolated_vector_absent(vecs):
    out = semantic_dedup(vecs, threshold=0.9, n_clusters=1)
    assert 50 not in {r["vec_id"] for r in out.collect()}


def test_partitioning_independence(vecs):
    a = _collect(semantic_dedup(vecs.repartition(7), threshold=0.9, n_clusters=1))
    b = _collect(semantic_dedup(vecs.coalesce(1), threshold=0.9, n_clusters=1))
    assert a == b and len(a) == 5


def test_cluster_cap_bounds_pairs(vecs):
    # cap 3: only the smallest 3 ids in the (single) cluster can pair,
    # so the B group (10, 11) never meets — recall loss, never error
    out = semantic_dedup(vecs, threshold=0.9, n_clusters=1, cluster_cap=3)
    ids = sorted(r["vec_id"] for r in out.collect())
    assert ids == [1, 2, 3]


def test_threshold_filters_everything(vecs):
    assert semantic_dedup(vecs, threshold=0.99999, n_clusters=1).count() == 0
