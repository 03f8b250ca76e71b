"""SparkSession conf: the driver heap default fits the host, and the
Python workers start from the package daemon over a Unix socket."""

from __future__ import annotations

import os

import pytest

from turtle_spark import session


def _gib(mem: str) -> int:
    assert mem.endswith("g"), mem
    return int(mem[:-1])


def test_default_driver_memory_fits_physical_memory():
    mem_gib = session.mem_total_bytes() / 1024**3
    default = _gib(session.default_driver_memory())
    assert 1 <= default <= session.MAX_DRIVER_MEM_GB
    assert default <= mem_gib / 2 or default == 1


@pytest.mark.parametrize(
    ("total_gib", "expected"),
    [(1, "1g"), (15.7, "7g"), (16, "8g"), (64, "24g"), (512, "24g")],
)
def test_default_driver_memory_halves_ram_with_cap(monkeypatch, total_gib, expected):
    monkeypatch.setattr(session, "mem_total_bytes", lambda: int(total_gib * 1024**3))
    assert session.default_driver_memory() == expected


def test_live_session_heap_fits_physical_memory(spark):
    """Without the env override, the suite's own session must not ask
    for more heap than the machine has."""
    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        assert mem == os.environ["SPARK_GRAFT_DRIVER_MEM"]
    else:
        assert _gib(mem) * 1024**3 <= session.mem_total_bytes()


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the conf that
    ``get_spark`` asks for and returns it instead of a session."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


@pytest.mark.parametrize(
    ("env", "expected"),
    [(None, len(os.sched_getaffinity(0))), ("3", 3)],
)
def test_default_cores_follow_env_or_host(monkeypatch, env, expected):
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", env)
    monkeypatch.setattr(session.SparkSession, "builder", _RecordingBuilder())
    conf = session.get_spark()
    assert conf["master"] == f"local[{expected}]"


def test_local_session_skips_parallel_listing(monkeypatch):
    """``local[N]`` gains nothing from a distributed listing job, so
    the threshold sits above a 64-bucket table's directory count."""
    monkeypatch.setattr(session.SparkSession, "builder", _RecordingBuilder())
    conf = session.get_spark(cores=2)
    assert int(conf["spark.sql.sources.parallelPartitionDiscovery.threshold"]) >= 1024


def test_workers_start_from_the_package_daemon_over_a_unix_socket(monkeypatch):
    """Workers run ``turtle_spark.worker_daemon`` with the package on
    their path, and reach the JVM over a Unix socket in a private
    directory short enough for the daemon's 43-byte socket name."""
    monkeypatch.setattr(session.SparkSession, "builder", _RecordingBuilder())
    conf = session.get_spark(cores=2)
    assert conf["spark.python.daemon.module"] == "turtle_spark.worker_daemon"
    root = conf["spark.executorEnv.PYTHONPATH"]
    assert os.path.isfile(os.path.join(root, "turtle_spark", "worker_daemon.py"))
    assert conf["spark.python.unix.domain.socket.enabled"] == "true"
    sock_dir = conf["spark.python.unix.domain.socket.dir"]
    assert len(sock_dir) + 43 <= 107
    assert os.stat(sock_dir).st_mode & 0o777 == 0o700
    assert session.get_spark(cores=2)["spark.python.unix.domain.socket.dir"] == sock_dir
