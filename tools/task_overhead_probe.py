"""Fixed cost of one Python task, against a JVM-only task.

Times ``TASKS`` trivial tasks of three kinds on a ``local[1]`` session from
``get_spark``, each as the median of ``REPS`` repetitions after one warm-up:

* JVM-only: ``range`` with ``TASKS`` partitions into the ``noop`` sink;
* RDD: ``parallelize(range(TASKS), TASKS).mapPartitions(identity).count()``;
* ``mapInArrow``: the same ``range`` through an identity ``mapInArrow``
  into the ``noop`` sink.

It prints the wall of each kind and the per-task gap of each Python kind
over the JVM-only one.  Then, from inside one worker, it prints the file
``pyspark`` was imported from and every ``zipimporter`` key in that
worker's ``sys.path_importer_cache``: a worker that imports pyspark from
Spark's archives pays for re-reading them whenever a task calls
``importlib.invalidate_caches()``.

Run: ``python tools/task_overhead_probe.py``.
"""

from __future__ import annotations

import pathlib
import statistics
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TASKS = 16
REPS = 5


def _identity_batches(batches):
    yield from batches


def worker_view(_):
    """Yields where this worker imported pyspark from and its
    ``zipimporter`` keys; run it as a one-partition ``mapPartitions``."""
    import zipimport

    import pyspark

    keys = sorted(k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter))
    yield pyspark.__file__, keys


def _timed(fn, reps: int) -> float:
    fn()  # warm-up: starts the daemon and JIT-compiles the JVM path
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def main() -> None:
    from turtle_spark.session import get_spark

    spark = get_spark(
        app_name="task-overhead-probe",
        cores=1,
        shuffle_partitions=1,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    try:
        kinds = {
            "jvm_only": lambda: spark.range(0, TASKS, 1, TASKS)
            .write.format("noop")
            .mode("overwrite")
            .save(),
            "rdd": lambda: sc.parallelize(range(TASKS), TASKS).mapPartitions(lambda it: it).count(),
            "mapInArrow": lambda: spark.range(0, TASKS, 1, TASKS)
            .mapInArrow(_identity_batches, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save(),
        }
        walls = {kind: _timed(fn, REPS) for kind, fn in kinds.items()}
        print(f"local[1], {TASKS} tasks per job, median of {REPS} runs")
        for kind, wall in walls.items():
            line = f"  {kind:<11} {wall:6.3f} s"
            if kind != "jvm_only":
                gap_ms = (wall - walls["jvm_only"]) / TASKS * 1000
                line += f"   per-task gap over jvm_only: {gap_ms:6.1f} ms"
            print(line)

        pyspark_file, zip_keys = sc.parallelize([0], 1).mapPartitions(worker_view).collect()[0]
        print(f"worker pyspark: {pyspark_file}")
        print(f"worker zipimporters: {len(zip_keys)}")
        for key in zip_keys:
            print(f"  {key}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
