"""The end-to-end KG-construction pipeline (SURVEY.md §3.4).

    docs(doc_id, spans)                                  [A: scan]
      -> extract_triples (mapInPandas, Arrow batches)    [B: extract]
      -> media_triples (JVM explode)          ∪
      -> globalize blank nodes (column exprs)
      -> mentions -> MinHash-LSH -> verified edges       [C: link]
      -> connected components (large/small star)         [D: canonicalize]
      -> apply canonical map -> dropDuplicates
      -> bucketed triple table by xxhash64(subject)      [E: materialize]

Every stage checkpoints through ``StageManifest``: committed stages
with matching input fingerprints are read back instead of recomputed,
so a mid-run failure resumes where it stopped (north_rule resume
contract).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from turtle_spark.operators import linking
from turtle_spark.operators.canonicalize import (
    apply_canonical_map,
    canonical_map,
    dedup_triples,
    globalize_blank_nodes,
)
from turtle_spark.operators.cc import connected_components
from turtle_spark.operators.extract import extract_triples, media_triples
from turtle_spark.plans.manifest import StageManifest
from turtle_spark.sources.storage import DEFAULT_BUCKETS, bucketed


@dataclass
class PipelineResult:
    triples: DataFrame
    stages_resumed: list[str] = field(default_factory=list)
    metrics: dict[str, Any] = field(default_factory=dict)


def chunked_extract(
    spark: SparkSession,
    docs: DataFrame,
    manifest: StageManifest,
    input_fingerprint: str,
    n_chunks: int = 8,
) -> tuple[DataFrame, list[str]]:
    """Stage B with PARTITION-level commit granularity.

    The corpus is split into ``n_chunks`` deterministic doc_id-hash
    chunks; each chunk extracts and commits independently, so a crash
    after chunk k resumes at chunk k+1 — committed chunks are never
    re-parsed (the north-rule resume contract at partition rather than
    stage granularity).  On a cluster the chunk jobs would be submitted
    concurrently; the loop here is the sandbox rendering of the same
    commit protocol.
    """
    from pyspark.sql import functions as F

    from turtle_spark.operators.extract import TRIPLES_SCHEMA  # noqa: F401

    resumed: list[str] = []
    parts: list[DataFrame] = []
    for k in range(n_chunks):
        chunk = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(n_chunks)) == k)
        df, was_resumed = manifest.load_or_compute(
            spark,
            f"extract_chunk_{k:04d}",
            f"{input_fingerprint}#chunk={k}/{n_chunks}",
            lambda c=chunk: globalize_blank_nodes(
                extract_triples(c).unionByName(media_triples(c))
            ),
        )
        if was_resumed:
            resumed.append(f"extract_chunk_{k:04d}")
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out, resumed


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    workdir: str,
    input_fingerprint: str,
    n_buckets: int = DEFAULT_BUCKETS,
    link_threshold: float = linking.DEFAULT_JACCARD,
    bucket_cap: int = linking.DEFAULT_BUCKET_CAP,
    src_degree_cap: int | None = 8,
    extract_chunks: int | None = None,
    snapshot_dir: str | None = None,
    snapshot_op: str = "append",
) -> PipelineResult:
    """Run (or resume) the full pipeline over a docs table.

    ``input_fingerprint`` identifies the input corpus (e.g. a content
    fingerprint or an immutable snapshot id); it keys every stage's
    resume check.

    ``src_degree_cap`` defaults ON here (unlike ``link_terms``):
    these edges exist solely to feed connected components, where a
    dense term family needs to arrive as a connected chain, not a
    clique — the cap turns O(family²) verify+CC work into
    O(family·cap) while leaving the resulting components intact for
    chain-connected families (see linking.candidate_pairs).
    """
    manifest = StageManifest(workdir)
    resumed: list[str] = []
    metrics: dict[str, Any] = {}

    def stage(name: str, thunk, partition_by=None) -> DataFrame:
        import time

        t0 = time.monotonic()
        df, was_resumed = manifest.load_or_compute(
            spark, name, input_fingerprint, thunk, partition_by=partition_by
        )
        if was_resumed:
            resumed.append(name)
        rec = manifest.read(name)
        metrics[name] = {"rows": rec["rows"]} if rec else {}
        metrics[name]["wall_s"] = round(time.monotonic() - t0, 3)
        metrics[name]["resumed"] = was_resumed
        return df

    # B: extraction — text spans through the parser, media spans JVM-side.
    # With extract_chunks set, commit granularity drops from stage to
    # doc_id-hash partition (resume skips committed chunks).
    if extract_chunks:
        triples, chunk_resumed = chunked_extract(
            spark, docs, manifest, input_fingerprint, n_chunks=extract_chunks
        )
        resumed.extend(chunk_resumed)
        metrics["extract"] = {"chunks": extract_chunks, "resumed_chunks": len(chunk_resumed)}
    else:
        triples = stage(
            "extract",
            lambda: globalize_blank_nodes(
                extract_triples(docs).unionByName(media_triples(docs))
            ),
        )

    # C: linking over distinct mention terms
    terms = stage(
        "terms",
        lambda: linking.distinct_terms(linking.extract_mentions(triples)),
    )
    edges = stage(
        "edges",
        lambda: linking.link_terms(
            terms,
            threshold=link_threshold,
            bucket_cap=bucket_cap,
            src_degree_cap=src_degree_cap,
            neighbor_window=src_degree_cap,
            salt_cap_order=True,
        ),
    )

    # D: connected components + canonical rewrite
    # assume_distinct: candidate_pairs emits one row per distinct
    # (src, dst) and verify_pairs preserves it, so CC's defensive
    # dedup shuffle + checkpoint would be a paid no-op here
    assignments = stage(
        "components",
        lambda: connected_components(edges, assume_distinct=True),
    )
    cmap = stage("canonical_map", lambda: canonical_map(terms, assignments))
    canonical = stage(
        "canonical_triples",
        lambda: dedup_triples(apply_canonical_map(triples, cmap)),
    )

    # E: bucketed materialization, one file per bucket directory
    # (``storage.bucketed``; many small files per bucket would also
    # degrade footer-based lineage past its cap).
    final = stage(
        "materialize",
        lambda: bucketed(canonical, n_buckets),
        partition_by=["bucket"],
    )

    # F (optional): publish the canonical table as a catalog snapshot
    # (sources/snapshots.py — the versioned materialization target).
    # Idempotent on resume: a snapshot whose input_fingerprint property
    # matches this run's is reused, so re-running a committed pipeline
    # never double-publishes.
    if snapshot_dir is not None:
        from turtle_spark.sources.snapshots import SnapshotCatalog

        cat = SnapshotCatalog(snapshot_dir)
        existing = next(
            (
                s.version
                for s in cat.history()
                if s.properties.get("input_fingerprint") == input_fingerprint
            ),
            None,
        )
        if existing is None:
            version = cat.commit(
                final, op=snapshot_op,
                properties={"input_fingerprint": input_fingerprint},
            )
            metrics["snapshot"] = {"version": version, "resumed": False}
        else:
            metrics["snapshot"] = {"version": existing, "resumed": True}

    return PipelineResult(triples=final, stages_resumed=resumed, metrics=metrics)
