"""Snapshot catalog (mini-Iceberg) semantics: time travel, atomic
commit, optimistic concurrency, incremental reads, rollback, orphan
detection, compaction, merge and expiry."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from turtle_spark.sources.snapshots import CommitConflictError, SnapshotCatalog


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("s"), F.col("id")).alias("subject"),
        F.lit("p").alias("predicate"),
        F.col("id").cast("string").alias("object"),
    )


def test_time_travel_and_history(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "t")
    v1 = cat.commit(_df(spark, 0, 10))
    v2 = cat.commit(_df(spark, 10, 30))
    assert (v1, v2) == (1, 2)
    assert cat.read(spark, 1).count() == 10
    assert cat.read(spark, 2).count() == 30
    assert cat.read(spark).count() == 30  # current == v2
    hist = cat.history()
    assert [(s.version, s.op, s.rows) for s in hist] == [
        (1, "append", 10), (2, "append", 30)
    ]


def test_overwrite_resets_segments(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "t")
    cat.commit(_df(spark, 0, 10))
    cat.commit(_df(spark, 0, 5), op="overwrite")
    assert cat.read(spark).count() == 5
    assert cat.read(spark, 1).count() == 10  # old snapshot intact
    assert len(cat.snapshot().segments) == 1


def test_incremental_reads_only_new_segments(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "t")
    cat.commit(_df(spark, 0, 10))
    cat.commit(_df(spark, 10, 25))
    cat.commit(_df(spark, 25, 30))
    inc = cat.incremental(spark, 1, 3)
    got = sorted(r["object"] for r in inc.collect())
    assert got == sorted(str(i) for i in range(10, 30))
    with pytest.raises(ValueError):
        cat.incremental(spark, 2, 2)


def test_incremental_refuses_overwrite_range(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "t")
    cat.commit(_df(spark, 0, 10))
    cat.commit(_df(spark, 0, 5), op="overwrite")
    with pytest.raises(ValueError, match="overwrite"):
        cat.incremental(spark, 1, 2)


def test_rollback_and_rollforward(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "t")
    cat.commit(_df(spark, 0, 10))
    cat.commit(_df(spark, 10, 20))
    cat.rollback(1)
    assert cat.current_version() == 1
    assert cat.read(spark).count() == 10
    cat.rollback(2)  # snapshots stay on disk: re-rollforward works
    assert cat.read(spark).count() == 20


def test_crashed_commit_leaves_table_readable(spark, tmp_path):
    """Crash between data write (step 1) and snapshot publish (step
    2): the prior snapshot stays current and the debris segment is
    reported as an orphan."""
    cat = SnapshotCatalog(tmp_path / "t")
    cat.commit(_df(spark, 0, 10))
    # simulate the crash: segment dir written, no snapshot manifest
    _df(spark, 99, 120).write.parquet(
        str(cat.root / "data" / "seg-00002-append-deadbeef")
    )
    assert cat.current_version() == 1
    assert cat.read(spark).count() == 10
    assert cat.orphans() == ["seg-00002-append-deadbeef"]
    # the next real commit is oblivious: distinct segment name, and
    # the crashed writer never published a manifest to conflict with
    v = cat.commit(_df(spark, 10, 15))
    assert v == 2
    assert cat.read(spark).count() == 15
    assert cat.orphans() == ["seg-00002-append-deadbeef"]


def test_optimistic_concurrency_conflict(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "t")
    cat.commit(_df(spark, 0, 10))
    # a competing writer publishes snapshot 2 first
    (cat.root / "metadata" / "snap-00002.json").write_text(
        json.dumps(
            {"version": 2, "op": "append", "parent": 1,
             "segments": ["seg-00001-append"], "rows": 10}
        )
    )
    with pytest.raises(CommitConflictError):
        cat.commit(_df(spark, 10, 20))


def test_rejects_uri_paths(tmp_path):
    with pytest.raises(ValueError, match="local filesystem"):
        SnapshotCatalog("hdfs://nn/warehouse/t")


def test_compact_preserves_rows_and_history(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "t")
    for lo, hi in ((0, 10), (10, 30), (30, 35)):
        cat.commit(_df(spark, lo, hi))
    before = sorted(r["object"] for r in cat.read(spark).collect())
    v = cat.compact(spark, target_partitions=1)
    assert v == 4
    snap = cat.snapshot()
    assert snap.op == "compact" and len(snap.segments) == 1
    assert snap.properties["compacted_segments"] == 3
    after = sorted(r["object"] for r in cat.read(spark).collect())
    assert after == before
    # time travel to the pre-compaction version still reads 3 segments
    assert cat.read(spark, 3).count() == 35
    # appends continue on top of the compacted layout
    cat.commit(_df(spark, 35, 40))
    assert cat.read(spark).count() == 40
    with pytest.raises(ValueError, match="compact"):
        cat.incremental(spark, 2, 5)
    # but a post-compaction append range is incrementally scannable
    assert cat.incremental(spark, 4, 5).count() == 5


def test_compact_conflict_leaves_current(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "t")
    cat.commit(_df(spark, 0, 10))
    cat.commit(_df(spark, 10, 20))
    # a competing writer holds snapshot 3 but has not swapped CURRENT
    (cat.root / "metadata" / "snap-00003.json").write_text(
        json.dumps(
            {"version": 3, "op": "append", "parent": 2,
             "segments": ["seg-00001-append"], "rows": 10}
        )
    )
    with pytest.raises(CommitConflictError):
        cat.compact(spark, target_partitions=1)
    assert (cat.root / "metadata" / "CURRENT").read_text() == "2"
    assert cat.read(spark).count() == 20


def test_merge_upsert_semantics(spark, tmp_path):
    from turtle_spark.sources.snapshots import SnapshotCatalog, merge_upsert

    cat = SnapshotCatalog(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    v1 = cat.commit(base, op="overwrite")
    updates = spark.createDataFrame(
        [
            (2, "B", False),   # update
            (4, "d", False),   # insert
            (3, "x", True),    # delete
        ],
        "k long, v string, _del boolean",
    )
    v2 = merge_upsert(cat, spark, updates, keys=["k"], delete_col="_del")
    assert v2 == v1 + 1
    final = {(r["k"], r["v"]) for r in cat.read(spark).collect()}
    assert final == {(1, "a"), (2, "B"), (4, "d")}
    # time travel still reaches the pre-merge state
    pre = {(r["k"], r["v"]) for r in cat.read(spark, version=v1).collect()}
    assert pre == {(1, "a"), (2, "b"), (3, "c")}
    assert cat.snapshot(v2).properties["op"] == "merge"


def test_merge_upsert_rejects_duplicate_keys(spark, tmp_path):
    import pytest as _pytest

    from turtle_spark.sources.snapshots import SnapshotCatalog, merge_upsert

    cat = SnapshotCatalog(tmp_path / "t2")
    cat.commit(
        spark.createDataFrame([(1, "a")], "k long, v string"), op="overwrite"
    )
    dup = spark.createDataFrame(
        [(1, "x", False), (1, "y", False)], "k long, v string, _del boolean"
    )
    with _pytest.raises(ValueError, match="duplicate merge keys"):
        merge_upsert(cat, spark, dup, keys=["k"], delete_col="_del")


def test_merge_upsert_without_delete_col(spark, tmp_path):
    from turtle_spark.sources.snapshots import SnapshotCatalog, merge_upsert

    cat = SnapshotCatalog(tmp_path / "t3")
    cat.commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        op="overwrite",
    )
    merge_upsert(
        cat,
        spark,
        spark.createDataFrame([(2, "B")], "k long, v string"),
        keys=["k"],
    )
    final = {(r["k"], r["v"]) for r in cat.read(spark).collect()}
    assert final == {(1, "a"), (2, "B")}


def _kdf(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"))


def test_expire_snapshots_retention_and_travel(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "t")
    v1 = cat.commit(_kdf(spark, 0, 10))
    v2 = cat.commit(_kdf(spark, 10, 20))
    v3 = cat.commit(_kdf(spark, 20, 30))
    rep = cat.expire_snapshots(keep_last=2)
    # appends UNION segments, so kept v2/v3 still reference v1's
    # segment: the manifest expires but no data may be deleted
    assert rep == {
        "versions_expired": 1, "segments_removed": 0, "versions_kept": 2
    }
    assert cat.read(spark, v2).count() == 20
    assert cat.read(spark, v3).count() == 30
    with pytest.raises(FileNotFoundError):
        cat.read(spark, v1)
    # history truncates at the oldest kept ancestor
    assert [s.version for s in cat.history()] == [v2, v3]


def test_expire_never_deletes_shared_segments(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "t")
    cat.commit(_kdf(spark, 0, 10))
    cat.commit(_kdf(spark, 10, 20))
    rep = cat.expire_snapshots(keep_last=1)
    # v1's segment is also v2's first segment: manifest goes, data stays
    assert rep["versions_expired"] == 1
    assert rep["segments_removed"] == 0
    assert cat.read(spark).count() == 20


def test_expire_after_overwrite_drops_dead_segments(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "t")
    cat.commit(_kdf(spark, 0, 10))
    cat.commit(_kdf(spark, 10, 20))
    cat.commit(_kdf(spark, 50, 55), op="overwrite")
    rep = cat.expire_snapshots(keep_last=1)
    assert rep == {
        "versions_expired": 2, "segments_removed": 2, "versions_kept": 1
    }
    assert cat.read(spark).count() == 5
    # the dead segment dirs are physically gone
    assert len(list((cat.root / "data").iterdir())) == 1


def test_expire_removes_rolled_past_versions(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "t")
    v1 = cat.commit(_kdf(spark, 0, 10))
    cat.commit(_kdf(spark, 50, 60), op="overwrite")
    cat.rollback(v1)
    rep = cat.expire_snapshots(keep_last=1)
    # CURRENT (v1) kept; the rolled-past v2 expires with its segment
    assert rep["versions_expired"] == 1 and rep["segments_removed"] == 1
    assert cat.read(spark).count() == 10


def test_vacuum_removes_only_orphans(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "t")
    cat.commit(_kdf(spark, 0, 10))
    (cat.root / "data" / "seg-99999-append-deadbeef").mkdir()
    removed = cat.vacuum()
    assert removed == ["seg-99999-append-deadbeef"]
    assert cat.vacuum() == []
    assert cat.read(spark).count() == 10


def test_expire_keep_last_validates(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "t")
    with pytest.raises(ValueError):
        cat.expire_snapshots(keep_last=0)
    assert cat.expire_snapshots(keep_last=3)["versions_kept"] == 0
