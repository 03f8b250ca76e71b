"""SparkSession construction with the engine's scale defaults.

Everything here is sized for the 100 TB / multi-executor target and
merely *parameterized* down for local test runs:

* AQE on (runtime re-planning, skew-join splitting, partition
  coalescing) — at cluster scale this is what absorbs stats drift;
* Arrow enabled for every pandas UDF boundary (the extraction parser is
  batch-vectorized, never per-row Python);
* shuffle partition count is a knob because the right value is a
  function of input bytes per partition, not a constant.
* file listing stays in-process: the master is always
  ``local[N]``, so Spark's distributed listing of a directory tree
  (one job whenever a read sees more than 32 paths, which every read
  of a 64-bucket table root does) only adds a job to each read.
* Python workers start from ``turtle_spark.worker_daemon``
  (``spark.python.daemon.module``), with the package root on
  ``spark.executorEnv.PYTHONPATH`` so the daemon imports whatever the
  driver's working directory.  Spark puts ``pyspark.zip``, the py4j
  zip and the spark-core jar at the front of the workers' ``sys.path``;
  each task's ``importlib.invalidate_caches()`` then makes every
  zipimporter over them re-read its archive (12 over ``pyspark.zip`` at
  ~5.7 ms, 2 over the 5,359-entry jar at ~24 ms: ~115 ms per task on
  Python 3.11).  The daemon drops those archives when the installed
  pyspark is the same version.
* workers reach the JVM over a Unix domain socket, which removes a
  further ~40 ms per task that waits on the TCP loopback socket.  The
  socket directory is a private one under ``/tmp``, never
  ``java.io.tmpdir``: a socket path must fit in 107 bytes and the
  daemon's socket name takes 43 of them, so a temp path longer than
  about 32 characters would fail every Python task.
  Together the two took the per-task gap of a trivial ``mapInArrow``
  task over a JVM-only task at ``local[1]`` from ~128 ms to 6-10 ms on a
  4-core host (``tools/task_overhead_probe.py``).
"""

from __future__ import annotations

import atexit
import functools
import os
import pathlib
import shutil
import tempfile

from pyspark.sql import SparkSession

from turtle_spark import worker_daemon

#: the directory that holds the ``turtle_spark`` package, for the workers
PACKAGE_ROOT = str(pathlib.Path(__file__).resolve().parent.parent)

#: driver heap ceiling; the size the extraction stage was tuned at on
#: local[32], where 8g measured a 5x GC slowdown
MAX_DRIVER_MEM_GB = 24


def mem_total_bytes() -> int:
    """Physical memory in bytes (``MemTotal`` on Linux)."""
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


def default_driver_memory() -> str:
    """About half of physical memory, in whole GiB, capped at
    ``MAX_DRIVER_MEM_GB``.  In local mode the driver JVM is the whole
    engine and shares the host with its Python workers, so a heap sized
    past RAM gets the JVM OOM-killed mid-run instead of spilling."""
    half_gb = mem_total_bytes() // (2 * 1024**3)
    return f"{min(max(1, half_gb), MAX_DRIVER_MEM_GB)}g"


@functools.cache
def worker_socket_dir() -> str:
    """A private (0700) directory under ``/tmp`` for the JVM<->worker
    Unix sockets, made once per process and removed at exit; not under
    ``java.io.tmpdir`` (see the module docstring)."""
    path = tempfile.mkdtemp(prefix="ts-", dir="/tmp")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def get_spark(
    app_name: str = "turtle-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        # ONE shuffle partition per slot, floor 32.  2x slots sounds
        # like straggler insurance but measured 1.8x SLOWER across the
        # heavy sf0.1 queries at local[32] (52.9 -> 29.5 s over 8
        # queries; q_pagerank_kg 12.7 -> 6.4 s): iterative plans and
        # explicit AQE-exempt repartitions pay two task waves plus
        # per-task Arrow/scheduling overhead per stage.  On a real
        # cluster the right value tracks input bytes (AQE coalescing
        # resizes relational stages); this is the local default.
        shuffle_partitions = max(cores, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pin the session timezone so timestamp formatting matches the
        # DuckDB oracle regardless of host TZ
        .config("spark.sql.session.timeZone", "UTC")
        # generous Arrow batches: the parser loops documents inside one
        # Python call, so bigger batches amortize the JVM<->Python hop
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # single-node/local: data is always "local", so any locality
        # wait is pure scheduling latency (measured ~15% on the
        # extraction stage).  On a cluster with HDFS-style locality,
        # raise this back via extra_conf.
        .config("spark.locality.wait", "0s")
        # single-node/local: a parallel listing job only spreads the
        # listing over the same host's cores; skipping it took a
        # 4-bucket read of a 64-bucket table root from 3 jobs to 2
        # (median 0.42 -> 0.17 s on 4 cores).  On a cluster with remote
        # storage, set Spark's 32 back via extra_conf.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # sized to the host (see default_driver_memory); an
        # undersized heap turns extraction into a GC storm, an
        # oversized one gets the JVM killed
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", worker_daemon.__name__)
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", worker_socket_dir())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
