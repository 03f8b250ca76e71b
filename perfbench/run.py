"""Host-sized benchmark of the KG-construction pipeline.

    python3 perfbench/run.py --workload build_mixed --seed 1 --seconds 10 --trace 0

Each workload (see README.md) is one cold batch ``run_pipeline`` over a
seeded corpus, then a serve phase: a closed loop with one client runs
``read_subject`` point lookups and ``subject_blocks`` bucket exports on
the table the build wrote, for ``--seconds``.

Every output is checked (see checks.py).  The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) named in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import pathlib
import random
import shutil
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import host  # noqa: E402

ROOT = pathlib.Path(host.REPO)

WORKLOADS = {
    "build_mixed": {"shape": "mixed", "docs": 800},
    "build_small_vocab": {"shape": "small_vocab", "docs": 6000},
}
SETUP_REPS = 3
LOOKUPS_PER_ROUND = 3  # a serve round is this many lookups, then one export
EXPORT_BUCKETS = 4  # an export renders this many seeded buckets of the table


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - T0:.1f}s] {msg}", file=sys.stderr, flush=True)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.spec = WORKLOADS[workload]
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
        self.cores = host.nproc()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.metrics: dict[str, float] = {}
        self.spark = None

    # -- session ----------------------------------------------------------

    def start_session(self, cores: int | None = None, extra: dict | None = None) -> None:
        from turtle_spark.session import get_spark

        conf = {
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
        }
        conf.update(extra or {})
        self.spark = get_spark(app_name="perfbench", cores=cores or self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- set-up -----------------------------------------------------------

    def load_docs(self, path: pathlib.Path):
        docs = self.spark.read.parquet(str(path)).repartition(4 * self.cores).persist()
        docs.count()
        return docs

    def warm_workers(self) -> None:
        def touch(batches):
            import turtle_spark.core.parser  # noqa: F401

            yield from batches

        self.spark.range(0, 4 * self.cores, numPartitions=self.cores).mapInArrow(touch, "id long").count()

    def setup_corpus(self):
        """Generate, write and load the corpus ``SETUP_REPS`` times;
        return the median wall and the last rep's docs."""
        import corpus

        walls, docs_df, raw = [], None, None
        for rep in range(SETUP_REPS):
            if docs_df is not None:
                docs_df.unpersist()
            path = self.work / f"docs-{rep}"
            t0 = time.perf_counter()
            raw = corpus.generate(self.spec["shape"], self.spec["docs"], self.seed)
            corpus.write_parquet(raw, path, n_files=2 * self.cores)
            docs_df = self.load_docs(path)
            self.warm_workers()
            walls.append(time.perf_counter() - t0)
            self.docs_path = path
        return statistics.median(walls), docs_df, raw

    # -- build ------------------------------------------------------------

    def build(self, docs_df, name: str):
        from turtle_spark.plans.manifest import StageManifest
        from turtle_spark.plans.pipeline import run_pipeline

        wd = self.work / name
        t0 = time.perf_counter()
        res = run_pipeline(self.spark, docs_df, str(wd), input_fingerprint=f"{name}-{self.seed}-{time.time_ns()}")
        wall = time.perf_counter() - t0
        return StageManifest(str(wd)), res, wall

    def attempt(self, op) -> None:
        """Run one checked operation; ``op`` returns its failure messages."""
        self.attempted += 1
        try:
            fails = op()
        except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
            fails = [traceback.format_exc(limit=3)]
        if fails:
            self.failed += 1
            self.failures += fails

    def check_build(self, manifest, oracle) -> None:
        import checks
        from turtle_spark.sources.storage import DEFAULT_BUCKETS

        self.attempt(lambda: checks.check_build(self.spark, manifest, oracle["hash"], oracle["rows"], DEFAULT_BUCKETS))

    # -- reads ------------------------------------------------------------

    def serve(self, manifest, rng: random.Random, seconds: float) -> dict:
        """Closed loop, one client, over the materialized table: rounds of
        ``LOOKUPS_PER_ROUND`` ``read_subject`` point lookups and one
        ``subject_blocks`` export of a few seeded buckets, until
        ``seconds`` have passed.  One untimed lookup goes first: the
        first read of a table pays its file listing.  Each result is
        checked against a full scan of the table."""
        import checks
        from pyspark.sql import functions as F
        from turtle_spark.operators.serialize import subject_blocks
        from turtle_spark.sources.storage import read_subject

        path = manifest.data_path("materialize")
        snap = self.spark.read.parquet(path).toPandas()
        cols = list(snap.columns)
        subject_col, bucket_col = cols.index("subject"), cols.index("bucket")
        six = [cols.index(c) for c in checks.SIX]
        rows_by_subject: dict[str, list[tuple]] = {}
        for row in snap.itertuples(index=False, name=None):
            rows_by_subject.setdefault(row[subject_col], []).append(row)
        subjects = sorted(rows_by_subject)
        buckets = sorted(set(snap["bucket"]))
        stats = {"lookups": [], "export_s": 0.0, "export_blocks": 0, "export_triples": 0, "kernel_s": 0.0}

        def lookup(timed: bool = True) -> list[str]:
            s = subjects[rng.randrange(len(subjects))]
            t0 = time.perf_counter()
            got = read_subject(self.spark, path, s).collect()
            if timed:
                stats["lookups"].append(time.perf_counter() - t0)
            got = sorted(tuple(r[c] for c in cols) for r in got)
            return [] if got == sorted(rows_by_subject[s]) else [f"lookup {s!r} differs from the full scan"]

        def export() -> list[str]:
            b = set(rng.sample(buckets, min(EXPORT_BUCKETS, len(buckets))))
            t0 = time.perf_counter()
            blocks = subject_blocks(self.spark.read.parquet(path).where(F.col("bucket").isin(*b))).collect()
            wall = time.perf_counter() - t0
            want = {s: [tuple(r[i] for i in six) for r in rs] for s, rs in rows_by_subject.items() if rs[0][bucket_col] in b}
            fails = [] if len(blocks) == len(want) else [f"buckets {sorted(b)}: {len(blocks)} blocks for {len(want)} subjects"]
            t0 = time.perf_counter()
            for blk in blocks:
                fails += checks.check_block(blk["subject"], blk["block"], want.get(blk["subject"], []))
            stats["export_s"] += wall
            stats["export_blocks"] += len(blocks)
            stats["export_triples"] += sum(len(v) for v in want.values())
            # check_block renders each block once with the core serializer
            stats["kernel_s"] += time.perf_counter() - t0
            return fails

        self.attempt(lambda: lookup(timed=False))
        deadline = time.perf_counter() + seconds
        rounds = 0
        while not rounds or time.perf_counter() < deadline:
            for _ in range(LOOKUPS_PER_ROUND):
                self.attempt(lookup)
            self.attempt(export)
            rounds += 1
        lookups = stats["lookups"]
        # an operation that raised is counted as failed and has no timing
        return {
            "lookup_p50_ms": 1e3 * statistics.median(lookups) if lookups else 0.0,
            "lookups": len(lookups),
            "export_blocks_per_s": stats["export_blocks"] / stats["export_s"] if stats["export_s"] else 0.0,
            "export_s": stats["export_s"],
            "export_triples": stats["export_triples"],
            "core_serialize_s": stats["kernel_s"],
        }

    # -- the run ----------------------------------------------------------

    def oracle(self, raw) -> dict:
        import checks
        import corpus

        media = [(d, s["media_ref"]) for d, spans in raw for s in spans if s["kind"] == "media"]
        df, parse_s = checks.oracle_triples(corpus.doc_texts(raw), media)
        parsed = int((df["seq"] >= 0).sum())
        return {"hash": checks.multiset_hash(df), "rows": len(df), "parse_s": parse_s, "parsed": parsed}

    def execute(self) -> None:
        cpu0 = host.cpu_times()
        with host.RssSampler() as rss:
            t0 = time.perf_counter()
            self.start_session()
            session_s = time.perf_counter() - t0
            corpus_s, docs_df, raw = self.setup_corpus()
            log(f"session {session_s:.2f}s, corpus set-up median {corpus_s:.2f}s")
            oracle = self.oracle(raw)
            log(f"parser oracle: {oracle['rows']} rows")

            manifest, res, build_s = self.build(docs_df, "build")
            extracted = res.metrics["extract"]["rows"]
            log(f"build {build_s:.2f}s, {extracted} extracted triples; " + " ".join(f"{k}={v['wall_s']}" for k, v in res.metrics.items()))
            self.check_build(manifest, oracle)
            log("build checked")

            # one serve round gives the traced run its serializer figures
            r = self.serve(manifest, random.Random(self.seed), 0 if self.trace else self.seconds)
        steal = host.steal_pct(cpu0, host.cpu_times())
        log(f"serve: {r['lookups']} lookups p50 {r['lookup_p50_ms']:.1f}ms, {r['export_blocks_per_s']:.0f} blocks/s exported; steal {steal:.2f}%")
        log(f"peak memory {rss.peak_kb / 1024:.0f} MB over {rss.peak_procs} processes")
        terms = manifest.read("terms")["rows"]
        self.facts = {
            "nproc": self.cores,
            "mem_total_kb": host.mem_total_kb(),
            "steal_pct": round(steal, 3),
            "workload": self.workload,
            "seed": self.seed,
            "docs": self.spec["docs"],
            "extracted_triples": extracted,
            "distinct_terms": terms,
            "terms_per_triple": round(terms / extracted, 4),
            "lookups": r["lookups"],
        }

        if not self.trace:
            self.metrics = {
                "triples_per_s": extracted / build_s,
                "setup_s": session_s + corpus_s,
                "lookup_p50_ms": r["lookup_p50_ms"],
                "export_blocks_per_s": r["export_blocks_per_s"],
            }
            return
        # peak memory is a per-layer figure: its run-to-run spread follows
        # when the JVM grows its heap, too wide for an end-to-end bound
        self.metrics["peak_rss_mb"] = rss.peak_kb / 1024
        self.traced(docs_df, manifest, res, build_s, oracle, r)

    def traced(self, docs_df, manifest, res, cold_build_s, oracle, reads) -> None:
        import tracing

        m = self.metrics
        extracted = res.metrics["extract"]["rows"]
        m["core.parse_triples_per_s_core"] = oracle["parsed"] / oracle["parse_s"]
        m["core.serialize_us_per_triple"] = 1e6 * reads["core_serialize_s"] / max(reads["export_triples"], 1)
        m["serialize.spark_us_per_triple"] = 1e6 * reads["export_s"] / max(reads["export_triples"], 1)

        # traced build in a session with the event log on
        docs_df.unpersist()
        self.stop_session()
        events = self.work / "events"
        events.mkdir(parents=True, exist_ok=True)
        self.start_session(extra={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events.as_uri(),
            "spark.eventLog.compress": "false",
        })
        docs_df = self.load_docs(self.docs_path)
        spans: list[tuple[str, float, float]] = []
        with tracing.stage_spans(self.spark, spans):
            tman, tres, traced_s = self.build(docs_df, "traced")
        self.check_build(tman, oracle)
        docs_df.unpersist()
        self.stop_session()
        fold = tracing.fold_event_log(events)

        # untraced build in the same warm JVM, for the tracing overhead
        self.start_session()
        docs_df = self.load_docs(self.docs_path)
        _, _, untraced_s = self.build(docs_df, "untraced")
        m["trace.overhead_share"] = traced_s / untraced_s - 1
        m["trace.span_coverage"] = sum(e - s for _, s, e in spans) / traced_s
        m["pipeline.cold_wall_s"] = cold_build_s
        m["pipeline.wall_s"] = traced_s
        for stage in tracing.STAGES:
            rec = tman.read(stage)
            m[f"pipeline.{stage}.wall_s"] = tres.metrics[stage]["wall_s"]
            m[f"pipeline.{stage}.rows"] = rec["rows"]
            m[f"manifest.{stage}.files_written"] = rec["partitions"]
            folded = fold.get(stage, {})
            for k in (*tracing.FOLD_KEYS, "task_skew"):
                m[f"{stage}.{k}"] = folded.get(k, 0.0)
        m["canonicalize.collapse_ratio"] = tman.read("canonical_triples")["rows"] / extracted
        m["extract.spark_triples_per_s"] = oracle["parsed"] / tres.metrics["extract"]["wall_s"]
        m["extract.hop_overhead"] = tres.metrics["extract"]["wall_s"] * self.cores / oracle["parse_s"]

        m.update(tracing.probe_linking(self.spark, tman))
        m.update(tracing.probe_hashing(tracing.sample_terms(self.spark, tman, self.seed)))
        self.attempt(lambda: [] if m["linking.verified_edges"] == tman.read("edges")["rows"] else
                     ["linking probe edge count differs from the committed edges stage"])

        # local[1] diagnostic over an eighth of the corpus
        docs_df.unpersist()
        self.stop_session()
        self.start_session(cores=1)
        from pyspark.sql import functions as F

        eighth = self.spark.read.parquet(str(self.docs_path)).where(F.pmod(F.xxhash64("doc_id"), F.lit(8)) == 0).persist()
        eighth.count()
        _, qres, q_s = self.build(eighth, "local1")
        m["scaling.local1_eighth_triples_per_s"] = qres.metrics["extract"]["rows"] / q_s

    def result(self) -> dict:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        wanted = spec["per_layer" if self.trace else "end_to_end"]
        missing = [w["name"] for w in wanted if w["name"] not in self.metrics]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        for f in self.failures:
            log(f"FAILED: {f}")
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {w["name"]: {"value": self.metrics[w["name"]], "unit": w["unit"]} for w in wanted},
        }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    host.prepare_env()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    (run.work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run.work / "tmp")
    try:
        import turtle_spark  # noqa: F401 - fail before any work when the package is absent

        run.execute()
        out = run.result()
    finally:
        run.stop_session()
        host.stop_jvm()
        shutil.rmtree(run.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            run.work.parent.rmdir()  # only when no other run is using it
    print(json.dumps({"host": run.facts}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
