"""End-to-end pipeline + manifest resume + distributed serializer."""

from __future__ import annotations

import contextlib
import json
import pathlib

import pytest
from pyspark.sql import functions as F

from turtle_spark.core.parser import parse_triples
from turtle_spark.core.serializer import GraphBuffer
from turtle_spark.operators.serialize import _null_safe, subject_blocks, turtle_text
from turtle_spark.plans.manifest import StageManifest
from turtle_spark.plans.pipeline import run_pipeline
from turtle_spark.sources.corpus import generate_docs
from turtle_spark.sources import storage
from turtle_spark.sources.storage import bucket_of, read_subject, write_triples

_TRIPLE_DDL = (
    "doc_id string, seq long, subject string, predicate string, object string, "
    "label string, datatype string, objecttype string"
)


def test_pipeline_end_to_end_and_resume(spark, tmp_path):
    docs_path = str(tmp_path / "docs")
    generate_docs(spark, 30, seed=9).write.parquet(docs_path)
    docs = spark.read.parquet(docs_path)

    wd = str(tmp_path / "work")
    r1 = run_pipeline(spark, docs, wd, input_fingerprint="corpus-v1", n_buckets=8)
    n1 = r1.triples.count()
    assert n1 > 0
    assert r1.stages_resumed == []
    assert set(r1.metrics) == {
        "extract", "terms", "edges", "components",
        "canonical_map", "canonical_triples", "materialize",
    }

    # second run with same fingerprint: every stage resumes from manifest
    r2 = run_pipeline(spark, docs, wd, input_fingerprint="corpus-v1", n_buckets=8)
    assert len(r2.stages_resumed) == 7
    assert r2.triples.count() == n1

    # changed fingerprint: stages recompute
    r3 = run_pipeline(spark, docs, wd, input_fingerprint="corpus-v2", n_buckets=8)
    assert r3.stages_resumed == []
    assert r3.triples.count() == n1

    # manifest files carry lineage + metrics
    rec = json.load(open(f"{wd}/extract.manifest.json"))
    assert rec["status"] == "committed" and rec["rows"] > 0
    assert rec["fingerprint"] == "corpus-v2"


def test_manifest_partial_resume(spark, tmp_path):
    """A stage whose manifest is missing recomputes; committed ones don't."""
    m = StageManifest(tmp_path / "wd")
    df = spark.range(10).select(F.col("id").cast("long"))
    calls = []

    def compute():
        calls.append(1)
        return df

    out1, resumed1 = m.load_or_compute(spark, "s1", "fp", compute)
    out2, resumed2 = m.load_or_compute(spark, "s1", "fp", compute)
    assert (resumed1, resumed2) == (False, True)
    assert len(calls) == 1
    assert out2.count() == 10
    # fingerprint change invalidates
    _, resumed3 = m.load_or_compute(spark, "s1", "fp2", compute)
    assert resumed3 is False and len(calls) == 2


def test_bucketed_storage_prunes(spark, tmp_path):
    triples = spark.createDataFrame(
        [("d", 0, f"http://e/s{i}", "http://e/p", f"o{i}", "", "", "literal") for i in range(50)],
        "doc_id string, seq long, subject string, predicate string, object string, label string, datatype string, objecttype string",
    )
    path = str(tmp_path / "triples")
    write_triples(triples, path, n_buckets=8)
    hit = read_subject(spark, path, "http://e/s7", n_buckets=8)
    rows = hit.collect()
    assert len(rows) == 1 and rows[0].object == "o7"
    # partition filter must reach the scan
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan


def _write_subjects(spark, path: str, subjects: list[str], n_buckets: int) -> None:
    """Two triples per subject: the table ``read_subject`` reads."""
    rows = [
        ("d", 2 * i + j, s, f"http://e/p{j}", f"o{i}", "", "", "literal")
        for i, s in enumerate(subjects)
        for j in range(2)
    ]
    write_triples(spark.createDataFrame(rows, _TRIPLE_DDL), path, n_buckets=n_buckets)


def test_read_subject_equals_full_scan(spark, tmp_path):
    subjects = [f"http://e/s{i}" for i in range(24)] + [
        "http://e/Человек-паук", 'http://e/say "hi"', "_:b0", "",
    ]
    path = str(tmp_path / "triples")
    _write_subjects(spark, path, subjects, n_buckets=8)
    full = spark.read.parquet(path)
    by_subject: dict[str, list] = {}
    for r in full.collect():
        by_subject.setdefault(r.subject, []).append(r)
    for s in subjects:
        hit = read_subject(spark, path, s, n_buckets=8)
        assert hit.schema == full.schema, s
        got = hit.collect()
        assert {r.bucket for r in got} == {bucket_of(s, 8)}, s
        assert sorted(got) == sorted(by_subject[s]), s


def test_read_subject_absent_subject_is_empty(spark, tmp_path, monkeypatch):
    subjects = [f"http://e/s{i}" for i in range(3)]
    path = str(tmp_path / "triples")
    _write_subjects(spark, path, subjects, n_buckets=8)
    full_schema = spark.read.parquet(path).schema
    filled = {bucket_of(s, 8) for s in subjects}
    absent = [f"http://e/absent{i}" for i in range(64)]
    in_empty = next(s for s in absent if bucket_of(s, 8) not in filled)
    in_filled = next(s for s in absent if bucket_of(s, 8) in filled)
    assert not pathlib.Path(path, f"bucket={bucket_of(in_empty, 8)}").exists()

    def check(table: str) -> None:
        for s in (in_empty, in_filled):
            hit = read_subject(spark, table, s, n_buckets=8)
            assert hit.schema == full_schema, (table, s)
            assert hit.collect() == [], (table, s)
        hit = read_subject(spark, table, subjects[0], n_buckets=8)
        assert hit.schema == full_schema, table
        assert sorted(r.predicate for r in hit.collect()) == ["http://e/p0", "http://e/p1"]

    # a scheme-less path and a file:// URI both resolve to the local
    # filesystem and take the footer schema
    check(path)
    check(f"file://{path}")
    # what a non-local filesystem takes: Spark infers the schema
    monkeypatch.setattr(storage, "_local_dir", lambda fs, jpath: None)
    check(path)


_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


@contextlib.contextmanager
def _conf(spark, key: str, value: str):
    """Set a runtime SQL conf for the block, then restore it."""
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _collect_counting_jobs(spark, group: str, make_df) -> tuple[list, int]:
    """Build a DataFrame with ``make_df()`` and collect it under its own
    job group (building it may list and infer, which run jobs too);
    return the rows and the number of Spark jobs the group ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = make_df().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_subject_runs_one_spark_job(spark, tmp_path):
    """More bucket directories than Spark's default parallel-listing
    threshold (32, set here as a cluster session would have it):
    listing the table root, or inferring its schema, would each add a
    job before the lookup's own."""
    subjects = [f"http://e/s{i}" for i in range(400)]
    path = str(tmp_path / "triples")
    _write_subjects(spark, path, subjects, n_buckets=64)
    assert len(list(pathlib.Path(path).glob("bucket=*"))) > 32
    with _conf(spark, _LISTING_THRESHOLD, "32"):
        for i, table in enumerate((path, f"file://{path}")):
            rows, jobs = _collect_counting_jobs(
                spark,
                f"read-subject-{tmp_path.name}-{i}",
                lambda: read_subject(spark, table, "http://e/s7"),
            )
            assert sorted(r.object for r in rows) == ["o7", "o7"], table
            assert jobs == 1, table


def test_table_root_read_runs_no_listing_job(spark, tmp_path):
    """A local session lists a 64-bucket table root without a parallel
    listing job: reading 4 buckets runs the schema inference and the
    scan, 2 jobs (3 at Spark's default threshold)."""
    subjects = [f"http://e/s{i}" for i in range(400)]
    path = str(tmp_path / "triples")
    _write_subjects(spark, path, subjects, n_buckets=64)
    buckets = sorted({bucket_of(s, 64) for s in subjects})[:4]
    want = sum(2 for s in subjects if bucket_of(s, 64) in buckets)

    def read():
        return spark.read.parquet(path).where(F.col("bucket").isin(*buckets))

    rows, jobs = _collect_counting_jobs(spark, f"root-read-{tmp_path.name}", read)
    assert len(rows) == want and jobs == 2
    with _conf(spark, _LISTING_THRESHOLD, "32"):
        rows, jobs = _collect_counting_jobs(spark, f"root-read-32-{tmp_path.name}", read)
    assert len(rows) == want and jobs == 3


def test_subject_blocks_match_core_serializer(spark):
    triples = spark.createDataFrame(
        [
            ("d", 0, "http://e/a", "http://e/b", "c", "", "", "literal"),
            ("d", 1, "http://e/a", "http://e/b", "d", "", "", "literal"),
            ("d", 2, "http://e/a", "http://e/e", "c", "", "", "literal"),
            ("d", 3, "http://e/z", "http://e/p", "http://e/q", "", "", "iri"),
            ("d", 4, "http://e/z", "http://e/p", "http://e/q", "", "", "iri"),  # dup
        ],
        "doc_id string, seq long, subject string, predicate string, object string, label string, datatype string, objecttype string",
    )
    text = turtle_text(triples)
    assert text == (
        '<http://e/a> \n\t<http://e/b> "c", "d" ;\n\t<http://e/e> "c" .\n'
        "<http://e/z> <http://e/p> <http://e/q> .\n"
    )
    # round-trip through the parser
    reparsed = parse_triples(text)
    assert ("http://e/z", "http://e/p", "http://e/q") in {t[:3] for t in reparsed}


def test_subject_blocks_independent_of_row_order(spark):
    """Objects that tie on lexical form (``"'"`` and ``"'"^^xsd:string``)
    render in one order whatever order the shuffle delivers the rows in:
    blocks are byte-identical under row permutations and repartitioning."""
    from hypothesis import example, given, settings, strategies as st

    row = st.tuples(
        st.just("d"),
        st.integers(0, 9),
        st.sampled_from(["http://e/a", "http://e/b"]),
        st.sampled_from(["http://e/p", "http://e/q"]),
        st.sampled_from(["'", "x", "http://e/o"]),
        st.sampled_from(["", None, "en"]),
        st.sampled_from(["", None, "xsd:string"]),
        st.sampled_from(["literal", "iri", ""]),
    )
    tie = [
        ("d", 0, "http://e/a", "http://e/p", "'", "", "", "literal"),
        ("d", 1, "http://e/a", "http://e/p", "'", "", "xsd:string", "literal"),
    ]

    def blocks(rows, partitions):
        df = spark.createDataFrame(rows, _TRIPLE_DDL).repartition(partitions)
        return dict(subject_blocks(df).collect())

    @settings(max_examples=5, deadline=None)
    @example(rows=tie, seed=1, partitions=2)
    @given(st.lists(row, min_size=1, max_size=12), st.integers(0, 2**16), st.integers(1, 4))
    def check(rows, seed, partitions):
        import random

        shuffled = list(rows)
        random.Random(seed).shuffle(shuffled)
        assert blocks(shuffled, partitions) == blocks(rows[::-1], 1)

    check()
    assert blocks(tie, 1)["http://e/a"] == blocks(tie[::-1], 2)["http://e/a"] == (
        '<http://e/a> <http://e/p> "\'", "\'"^^xsd:string .\n'
    )


def _reference_block(rows) -> str:
    """The core serializer over one subject's rows, fed in the order
    ``subject_blocks`` feeds them."""
    g = GraphBuffer()
    for row in sorted(rows, key=_null_safe):
        g.accept_annotated(*row)
    return g.render(include_pragmas=False)


def test_subject_blocks_group_spans_arrow_batches(spark):
    """A subject whose rows span many Arrow batches still renders as
    one block, equal to the core serializer over all of its rows."""
    rows = [("http://e/hub", f"http://e/p{i % 3}", f"o{i}", "", "", "literal") for i in range(11)]
    rows += [(f"http://e/s{i}", "http://e/p", "x", "", "", "literal") for i in range(5)]
    rows += [("http://e/tail", "http://e/p", f"t{i}", "", "", "literal") for i in range(3)]
    df = spark.createDataFrame(
        [("d", i, *r) for i, r in enumerate(rows)], _TRIPLE_DDL
    ).repartition(3)
    with _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "2"):
        got = subject_blocks(df).collect()
    by_subject: dict[str, list] = {}
    for r in rows:
        by_subject.setdefault(r[0], []).append(r)
    assert sorted(r.subject for r in got) == sorted(by_subject)
    for r in got:
        assert r.block == _reference_block(by_subject[r.subject]), r.subject


def test_subject_blocks_drop_duplicates_like_the_core(spark):
    """Duplicate 6-tuples, with null and empty-string variants of the
    annotations, render byte-identically to the core serializer over
    the set of the 6-tuples."""
    import itertools

    six = [
        (s, p, o, label, dt, ot)
        for s, p, o in itertools.product(
            ["http://e/a", "http://e/b"], ["http://e/p", "http://e/q"], ["'", "x"]
        )
        for label, dt, ot in [
            ("", "", "literal"),
            (None, None, "literal"),
            ("", None, ""),
            (None, "", None),
            ("en", "", "literal"),
            ("", "xsd:string", "literal"),
        ]
    ]
    rows = [("d", i, *r) for i, r in enumerate(six * 3)]
    with _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "5"):
        got = dict(subject_blocks(spark.createDataFrame(rows, _TRIPLE_DDL).repartition(4)).collect())
    distinct = set(six)
    assert got == {
        s: _reference_block([r for r in distinct if r[0] == s]) for s in ("http://e/a", "http://e/b")
    }


@pytest.mark.parametrize("subject", [None, ""])
def test_subject_blocks_reject_missing_subject(spark, subject):
    rows = [
        ("d", 0, "http://e/a", "http://e/p", "x", "", "", "literal"),
        ("d", 1, subject, "http://e/p", "y", "", "", "literal"),
    ]
    with pytest.raises(Exception, match="no subject specified"):
        subject_blocks(spark.createDataFrame(rows, _TRIPLE_DDL)).collect()


def test_subject_blocks_plan_has_one_subject_shuffle(spark):
    """One hash shuffle on subject feeds the render; no aggregate
    (dedup happens in the core serializer)."""
    df = spark.createDataFrame(
        [("d", 0, "http://e/a", "http://e/p", "x", "", "", "literal")], _TRIPLE_DDL
    )
    plan = subject_blocks(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Exchange hashpartitioning(subject#" in plan, plan
    assert "HashAggregate" not in plan, plan


def test_turtle_text_with_pragmas_roundtrip(spark):
    triples = spark.createDataFrame(
        [("d", 0, "http://base.example/x", "http://base.example/p", "v", "", "", "literal")],
        "doc_id string, seq long, subject string, predicate string, object string, label string, datatype string, objecttype string",
    )
    text = turtle_text(triples, base="http://base.example/")
    assert text.startswith("@base <http://base.example/> .\n")
    reparsed = parse_triples(text)
    assert reparsed[0][:3] == ("http://base.example/x", "http://base.example/p", "v")


def test_pipeline_canonicalizes_near_duplicate_iris(spark, tmp_path):
    # two docs refer to nearly identical subject IRIs -> one canonical subject
    docs = spark.createDataFrame(
        [
            ("d1", [{"kind": "text", "text": '<http://e/person/Jonathan_Smithson> <http://e/claims> "a" .', "media_ref": "", "offset": 0}]),
            ("d2", [{"kind": "text", "text": '<http://e/person/Jonathan_Smithsen> <http://e/claims> "b" .', "media_ref": "", "offset": 0}]),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    r = run_pipeline(
        spark, docs, str(tmp_path / "wd"), input_fingerprint="x",
        n_buckets=4, link_threshold=0.6,
    )
    subs = {row.subject for row in r.triples.select("subject").collect()}
    assert subs == {"http://e/person/Jonathan_Smithsen"}  # lexicographic min wins


def test_chunked_extract_partition_resume(spark, tmp_path):
    """Partition-granular resume: committed extraction chunks are not
    recomputed; results equal the unchunked stage; manifests carry
    per-partition lineage."""
    from turtle_spark.plans.manifest import StageManifest
    from turtle_spark.plans.pipeline import chunked_extract

    docs = generate_docs(spark, 60, seed=5)
    wd = str(tmp_path / "wd")
    manifest = StageManifest(wd)

    # first run: nothing resumed
    df1, resumed1 = chunked_extract(spark, docs, manifest, "fp-1", n_chunks=4)
    assert resumed1 == []
    n1 = df1.count()

    # simulate a crash after commit: second run resumes EVERY chunk
    df2, resumed2 = chunked_extract(spark, docs, manifest, "fp-1", n_chunks=4)
    assert len(resumed2) == 4
    assert df2.count() == n1

    # wipe one chunk's manifest -> exactly that chunk recomputes
    (pathlib.Path(wd) / "extract_chunk_0002.manifest.json").unlink()
    df3, resumed3 = chunked_extract(spark, docs, manifest, "fp-1", n_chunks=4)
    assert sorted(resumed3) == [
        "extract_chunk_0000", "extract_chunk_0001", "extract_chunk_0003",
    ]
    assert df3.count() == n1

    # chunked union == unchunked extraction (same triples)
    from turtle_spark.operators.canonicalize import globalize_blank_nodes
    from turtle_spark.operators.extract import extract_triples, media_triples

    plain = globalize_blank_nodes(
        extract_triples(docs).unionByName(media_triples(docs))
    )
    assert df3.exceptAll(plain).count() == 0
    assert plain.exceptAll(df3).count() == 0

    # manifest records per-partition lineage
    rec = manifest.read("extract_chunk_0000")
    assert rec["status"] == "committed"
    assert rec["partitions"] == len(rec["partition_lineage"])
    assert sum(e["rows"] for e in rec["partition_lineage"]) == rec["rows"]


def test_pipeline_publishes_snapshot_idempotently(spark, tmp_path):
    """With snapshot_dir set, the pipeline publishes its canonical
    table to the snapshot catalog exactly once per input fingerprint:
    a resumed re-run reuses the published version; a new fingerprint
    appends version 2, and the catalog's time travel still serves v1."""
    from turtle_spark.sources.snapshots import SnapshotCatalog

    docs = generate_docs(spark, 20, seed=11)
    wd = str(tmp_path / "work")
    sd = str(tmp_path / "snaps")

    r1 = run_pipeline(
        spark, docs, wd, input_fingerprint="fp-1", n_buckets=8, snapshot_dir=sd
    )
    assert r1.metrics["snapshot"] == {"version": 1, "resumed": False}
    cat = SnapshotCatalog(sd)
    v1_rows = cat.read(spark, 1).count()
    assert v1_rows == r1.triples.count()

    # same fingerprint -> no second snapshot
    r2 = run_pipeline(
        spark, docs, wd, input_fingerprint="fp-1", n_buckets=8, snapshot_dir=sd
    )
    assert r2.metrics["snapshot"] == {"version": 1, "resumed": True}
    assert cat.current_version() == 1

    # new fingerprint -> append; v1 unchanged under the new current
    r3 = run_pipeline(
        spark, docs, wd, input_fingerprint="fp-2", n_buckets=8, snapshot_dir=sd
    )
    assert r3.metrics["snapshot"] == {"version": 2, "resumed": False}
    assert cat.read(spark, 1).count() == v1_rows
    assert cat.read(spark).count() == 2 * v1_rows
    assert cat.snapshot(2).properties["input_fingerprint"] == "fp-2"
