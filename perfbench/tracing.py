"""Per-layer measurement for the traced run, all taken from outside the
program: stage spans around ``StageManifest.load_or_compute``, a fold
of Spark's event log per job group, and timed calls into the linking
substages, connected components and the pure-Python kernels."""

from __future__ import annotations

import contextlib
import inspect
import json
import pathlib
import random
import statistics
import time

from pyspark.sql import functions as F

from turtle_spark.functions.hashing import (
    band_hashes_batch,
    char_shingle_hashes_batch,
    minhash_permutations,
    minhash_signatures_batch,
)
from turtle_spark.operators import linking
from turtle_spark.operators.cc import connected_components
from turtle_spark.plans.manifest import StageManifest
from turtle_spark.plans.pipeline import run_pipeline

STAGES = ["extract", "terms", "edges", "components", "canonical_map", "canonical_triples", "materialize"]
FOLD_KEYS = ("executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes")


@contextlib.contextmanager
def stage_spans(spark, spans: list[tuple[str, float, float]]):
    """Wrap the manifest boundary every stage crosses: one span per
    stage, and the stage name as the Spark job group of every job the
    stage runs."""
    orig = StageManifest.load_or_compute
    sc = spark.sparkContext

    def traced(self, spark_, stage, fingerprint, compute, **kw):
        sc.setJobGroup(stage, stage)
        t0 = time.perf_counter()
        try:
            return orig(self, spark_, stage, fingerprint, compute, **kw)
        finally:
            spans.append((stage, t0, time.perf_counter()))
            sc.setLocalProperty("spark.jobGroup.id", None)  # None unsets it

    StageManifest.load_or_compute = traced
    try:
        yield
    finally:
        StageManifest.load_or_compute = orig


def fold_event_log(log_dir: pathlib.Path) -> dict[str, dict[str, float]]:
    """Fold ``SparkListenerTaskEnd`` records per job group."""
    stage_group: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {}
    # rolling (v2) logs: one directory per application holding
    # events_<n>_<app> files, next to status markers and .crc files
    for path in sorted(log_dir.rglob("events_*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group:
                        tasks.setdefault(group, []).append(ev)
    out = {}
    for group, evs in tasks.items():
        durations = []
        acc = dict.fromkeys(FOLD_KEYS, 0.0)
        for ev in evs:
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            durations.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
            acc["executor_run_ms"] += m.get("Executor Run Time", 0)
            acc["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            acc["gc_ms"] += m.get("JVM GC Time", 0)
            acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        med = statistics.median(durations)
        acc["task_skew"] = max(durations) / med if med > 0 else 1.0
        out[group] = acc
    return out


def pipeline_defaults() -> dict:
    """The linking knobs ``run_pipeline`` passes, read from its
    signature so the probes follow the pipeline."""
    p = inspect.signature(run_pipeline).parameters
    cap = p["src_degree_cap"].default
    return {
        "bucket_cap": p["bucket_cap"].default,
        "threshold": p["link_threshold"].default,
        "src_degree_cap": cap,
        "neighbor_window": cap,
    }


def _timed_count(df) -> tuple[int, float]:
    t0 = time.perf_counter()
    n = df.count()
    return n, time.perf_counter() - t0


def probe_linking(spark, manifest: StageManifest) -> dict[str, float]:
    """Re-run the ``edges`` substages and the ``components`` call on the
    committed ``terms`` and ``edges`` outputs, one timed count each."""
    knobs = pipeline_defaults()
    terms = spark.read.parquet(manifest.data_path("terms"))
    buckets = linking.lsh_band_keys(terms).persist()
    band_rows, band_s = _timed_count(buckets)
    sizes = buckets.groupBy("band_index", "band_hash").count()
    agg = sizes.agg(
        F.max("count").alias("largest"),
        F.sum(F.when(F.col("count") > knobs["bucket_cap"], F.col("count")).otherwise(0)).alias("over"),
    ).collect()[0]
    pairs = linking.candidate_pairs(
        buckets,
        bucket_cap=knobs["bucket_cap"],
        src_degree_cap=knobs["src_degree_cap"],
        neighbor_window=knobs["neighbor_window"],
        salt_cap_order=True,
    ).persist()
    n_pairs, pairs_s = _timed_count(pairs)
    n_edges, verify_s = _timed_count(linking.verify_pairs(pairs, terms, threshold=knobs["threshold"]))
    pairs.unpersist()
    buckets.unpersist()

    edges = spark.read.parquet(manifest.data_path("edges"))
    t0 = time.perf_counter()
    comp = connected_components(edges, assume_distinct=True).persist()
    sizes = comp.groupBy("component").count()
    c = sizes.agg(F.count("*").alias("n"), F.max("count").alias("largest")).collect()[0]
    cc_s = time.perf_counter() - t0
    comp.unpersist()
    return {
        "linking.band_keys_s": band_s,
        "linking.candidate_pairs_s": pairs_s,
        "linking.verify_s": verify_s,
        "linking.band_rows": band_rows,
        "linking.band_rows_over_cap_share": (agg["over"] or 0) / max(band_rows, 1),
        "linking.largest_bucket": agg["largest"] or 0,
        "linking.candidate_pairs": n_pairs,
        "linking.verified_edges": n_edges,
        "linking.verify_yield": n_edges / max(n_pairs, 1),
        "cc.wall_s": cc_s,
        "cc.components": c["n"],
        "cc.largest_component": c["largest"] or 0,
    }


def probe_hashing(terms: list[str], reps: int = 3) -> dict[str, float]:
    """µs per term of the three MinHash-LSH kernels on ``terms``."""
    a, b = minhash_permutations(linking.DEFAULT_NUM_PERM, 7)
    walls = {"shingle": [], "minhash": [], "band": []}
    for _ in range(reps):
        t0 = time.perf_counter()
        sh = char_shingle_hashes_batch(terms, linking.DEFAULT_SHINGLE_K)
        t1 = time.perf_counter()
        sigs = minhash_signatures_batch(sh, a, b)
        t2 = time.perf_counter()
        band_hashes_batch(sigs, linking.DEFAULT_BANDS)
        t3 = time.perf_counter()
        walls["shingle"].append(t1 - t0)
        walls["minhash"].append(t2 - t1)
        walls["band"].append(t3 - t2)
    n = max(len(terms), 1)
    return {f"hashing.{k}_us_per_term": 1e6 * statistics.median(v) / n for k, v in walls.items()}


def sample_terms(spark, manifest: StageManifest, seed: int, n: int = 20000) -> list[str]:
    terms = spark.read.parquet(manifest.data_path("terms")).select("term").toPandas()["term"].tolist()
    terms.sort()
    return random.Random(seed).sample(terms, min(n, len(terms)))
