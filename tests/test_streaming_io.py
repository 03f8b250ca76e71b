"""Turtle file source/sink + the stream-stream interval join."""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F

from tests.conftest import load_scan_fixtures
from turtle_spark.core.parser import parse_triples
from turtle_spark.sources.turtle_io import read_turtle, write_turtle_single
from turtle_spark.streaming.stream import stream_interval_join


def test_read_turtle_files(spark, tmp_path):
    cases = load_scan_fixtures()
    d = tmp_path / "ttl"
    d.mkdir()
    for name in ("spiderman compact", "read_prefix_and_base", "collection_nested"):
        (d / f"{name.replace(' ', '_')}.ttl").write_text(cases[name]["turtle"])
    triples = read_turtle(spark, str(d))
    by_doc = {}
    for r in triples.orderBy("doc_id", "seq").collect():
        key = pathlib.Path(r.doc_id.replace("file://", "")).stem
        by_doc.setdefault(key, []).append([r.subject, r.predicate, r.object])
    for name in ("spiderman compact", "read_prefix_and_base", "collection_nested"):
        assert by_doc[name.replace(" ", "_")] == cases[name]["triples"], name


def test_write_turtle_single_roundtrip(spark, tmp_path):
    triples = spark.createDataFrame(
        [
            ("d", 0, "http://e/a", "http://e/p", "v1", "", "", "literal"),
            ("d", 1, "http://e/b", "http://e/p", "http://e/a", "", "", "iri"),
        ],
        "doc_id string, seq long, subject string, predicate string, object string, label string, datatype string, objecttype string",
    )
    out = tmp_path / "out.ttl"
    text = write_turtle_single(triples, str(out))
    assert out.read_text() == text
    reparsed = {t[:3] for t in parse_triples(text)}
    assert ("http://e/a", "http://e/p", "v1") in reparsed
    assert ("http://e/b", "http://e/p", "http://e/a") in reparsed


def test_stream_interval_join_matches_batch(spark, tmp_path, sf_dir):
    """Stream-stream interval join (attribution shape): the streaming
    run over file-source micro-batches must emit exactly the batch
    result of the same function on the same data."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    events_dir = str(tmp_path / "events_dir")
    # two files so the join state crosses micro-batch boundaries
    ev.where("event_id % 2 = 0").coalesce(1).write.mode("overwrite").parquet(events_dir)
    ev.where("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(events_dir)

    def split(df):
        p = df.where("event_type = 'purchase'").select(
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        c = df.where("event_type = 'click'").select(
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        return p, c

    bp, bc = split(spark.read.parquet(events_dir))
    batch = {
        tuple(r)
        for r in stream_interval_join(
            bp, bc, key="user_id", left_ts="purchase_ts", right_ts="click_ts"
        ).collect()
    }

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    sp, sc = split(stream)
    out, ckpt = str(tmp_path / "ssj_out"), str(tmp_path / "ssj_ckpt")
    q = (
        stream_interval_join(
            sp, sc, key="user_id", left_ts="purchase_ts", right_ts="click_ts"
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert len(batch) > 0
    # inner stream-stream joins emit matches as they arrive; on a
    # finite input everything must be emitted and nothing extra
    assert streamed == batch
