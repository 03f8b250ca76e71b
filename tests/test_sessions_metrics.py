"""Sessionization gap boundary + P/R metric operator."""

from __future__ import annotations

from turtle_spark.operators.extract import extract_triples
from turtle_spark.operators.metrics import triple_set_pr
from turtle_spark.operators.sessions import sessionize
from turtle_spark.sources.corpus import fixture_docs


def test_sessionize_gap_boundary(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:29:00", 2.0),   # same session (29 min < 30)
        (1, "2024-01-01 01:30:00", 3.0),   # new session (61 min gap)
        (2, "2024-01-01 00:00:00", 4.0),
    ]
    events = spark.createDataFrame(rows, "user_id long, ts string, value double")
    events = events.withColumn("ts", events["ts"].cast("timestamp"))
    out = sessionize(events, gap_minutes=30).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r)
    assert len(per_user[1]) == 2
    assert len(per_user[2]) == 1
    first = min(per_user[1], key=lambda r: r.session_start)
    assert first.n_events == 2


def test_triple_pr_perfect_and_degraded(spark):
    docs = fixture_docs(spark)
    actual = extract_triples(docs)
    pr = triple_set_pr(actual, actual)
    assert pr.precision == 1.0 and pr.recall == 1.0

    # drop some rows -> recall suffers, precision stays perfect
    partial = actual.where("seq > 0")
    pr2 = triple_set_pr(partial, actual)
    assert pr2.precision == 1.0 and pr2.recall < 1.0

    # corrupt rows -> precision suffers
    from pyspark.sql import functions as F

    corrupted = actual.withColumn(
        "object", F.when(F.col("seq") == 0, F.lit("WRONG")).otherwise(F.col("object"))
    )
    pr3 = triple_set_pr(corrupted, actual)
    assert pr3.precision < 1.0


def test_exact_jaccard_kernel_equals_naive_join(spark):
    """The inverted-index bincount kernel must reproduce the naive
    cross-join + array_intersect ground truth exactly, including the
    empty-set pair (union empty -> Jaccard 1.0)."""
    from pyspark.sql import functions as F

    from turtle_spark.operators.linking import shingle_profiles
    from turtle_spark.operators.metrics import exact_jaccard_pairs_sampled

    docs = spark.createDataFrame(
        [
            (1, "abcdefghij klmnop"),
            (2, "abcdefghij klmnoX"),   # near-dup of 1
            (3, "zzzzz totally other text here"),
            (4, ""),                     # empty
            (5, ""),                     # empty
            (6, "abcdefghij klmnop"),    # exact dup of 1
        ],
        "term_id long, term string",
    )
    profiles = shingle_profiles(docs, 5)
    got = {
        (r["t1"], r["t2"])
        for r in exact_jaccard_pairs_sampled(profiles, 0.5).collect()
    }
    a = profiles.select(F.col("term_id").alias("t1"), F.col("shs").alias("s1"), F.col("nw").alias("n1"))
    b = profiles.select(F.col("term_id").alias("t2"), F.col("shs").alias("s2"), F.col("nw").alias("n2"))
    inter = F.size(F.array_intersect("s1", "s2"))
    union = F.col("n1") + F.col("n2") - inter
    jac = F.when(union == 0, F.lit(1.0)).otherwise(inter.cast("double") / union.cast("double"))
    want = {
        (r["t1"], r["t2"])
        for r in a.join(b, F.col("t1") < F.col("t2")).where(jac >= 0.5).collect()
    }
    assert got == want
    assert (4, 5) in got  # empty-vs-empty pair


def test_exact_jaccard_kernel_bounded_contract(spark):
    from pyspark.sql import functions as F

    from turtle_spark.operators.linking import shingle_profiles
    from turtle_spark.operators.metrics import exact_jaccard_pairs_sampled

    docs = spark.range(0, 10).select(
        F.col("id").alias("term_id"), F.lit("some text body").alias("term")
    )
    profiles = shingle_profiles(docs, 5)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bounded by contract"):
        exact_jaccard_pairs_sampled(profiles, 0.5, max_docs=5).collect()


def test_event_transitions_counts_and_probs(spark):
    import datetime as dt

    from turtle_spark.operators.sessions import event_transitions

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: a -> b -> a -> c ; user 2: a -> b
        (1, 1, base + dt.timedelta(minutes=0), "a", 0.0),
        (2, 1, base + dt.timedelta(minutes=1), "b", 0.0),
        (3, 1, base + dt.timedelta(minutes=2), "a", 0.0),
        (4, 1, base + dt.timedelta(minutes=3), "c", 0.0),
        (5, 2, base + dt.timedelta(minutes=0), "a", 0.0),
        (6, 2, base + dt.timedelta(minutes=1), "b", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    out = {
        (r["from_type"], r["to_type"]): r
        for r in event_transitions(df).collect()
    }
    assert out[("a", "b")]["n"] == 2
    assert out[("a", "c")]["n"] == 1
    assert out[("b", "a")]["n"] == 1
    # a -> {b: 2, c: 1}: probabilities normalize per from_type
    assert out[("a", "b")]["prob"] == 2 / 3
    assert out[("a", "c")]["prob"] == 1 / 3
    assert out[("b", "a")]["prob"] == 1.0
    # no cross-user pair (user1 c -> user2 a must not appear)
    assert ("c", "a") not in out
