"""Python worker start-up: workers import pyspark from the installed
package, not from ``$SPARK_HOME``'s archives, and reach the JVM over a
Unix socket whose path stays short whatever the temp directory."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys
import textwrap
import zipfile

import pytest

from tools.task_overhead_probe import worker_view
from turtle_spark.session import PACKAGE_ROOT
from turtle_spark.worker_daemon import prune_spark_archives

VERSION = b"__version__: str = '9.9.9'\n"


def _zip(path: pathlib.Path, members: dict[str, bytes]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return str(path)


def _layout(tmp_path: pathlib.Path, installed_version: bytes):
    """A fake Spark home with its three archives, and a site directory
    holding an installed pyspark of ``installed_version``."""
    home = tmp_path / "spark-9.9.9-bin"
    archives = [
        _zip(home / "python/lib/pyspark.zip", {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION}),
        _zip(home / "python/lib/py4j-src.zip", {"py4j/__init__.py": b""}),
        _zip(home / "jars/spark-core.jar", {"org/x.class": b"", "pyspark/__init__.py": b""}),
    ]
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark/__init__.py").write_bytes(b"")
    (site / "pyspark/version.py").write_bytes(installed_version)
    return home, archives, str(site)


def _cache(archives: list[str], site: str) -> dict:
    cache = {a: object() for a in archives}
    cache[archives[0] + os.sep + "pyspark"] = object()  # a subpackage importer
    cache[site] = object()
    return cache


@pytest.mark.parametrize("via_symlink", [False, True])
def test_prune_drops_spark_archives_when_installed_pyspark_matches(tmp_path, via_symlink):
    home, archives, site = _layout(tmp_path, VERSION)
    if via_symlink:  # $SPARK_HOME is often a symlink to the versioned directory
        (tmp_path / "spark").symlink_to(home)
        home = tmp_path / "spark"
    path = [*archives, site]
    cache = _cache(archives, site)

    assert prune_spark_archives(path, cache, str(home)) == archives
    assert path == [site]
    assert list(cache) == [site]


def test_prune_leaves_path_alone_on_version_mismatch(tmp_path):
    home, archives, site = _layout(tmp_path, b"__version__: str = '9.9.8'\n")
    path = [*archives, site]
    cache = _cache(archives, site)

    assert prune_spark_archives(path, cache, str(home)) == []
    assert path == [*archives, site]
    assert set(cache) == set(_cache(archives, site))


def test_prune_leaves_path_alone_without_spark_home(tmp_path):
    _home, archives, site = _layout(tmp_path, VERSION)
    path = [*archives, site]
    cache = _cache(archives, site)

    assert prune_spark_archives(path, cache, None) == []
    assert path == [*archives, site]
    assert set(cache) == set(_cache(archives, site))


def test_importing_the_package_leaves_pyspark_unimported(tmp_path):
    """The daemon imports ``turtle_spark`` before it prunes, so neither
    the package nor the daemon module may pull pyspark in."""
    code = "import sys, turtle_spark, turtle_spark.worker_daemon; print('pyspark' in sys.modules)"
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": PACKAGE_ROOT},
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "False"


def test_worker_imports_pyspark_from_a_directory(spark):
    pyspark_file, zip_keys = spark.sparkContext.parallelize([0], 1).mapPartitions(worker_view).collect()[0]
    assert os.path.isfile(pyspark_file), pyspark_file
    home = os.path.realpath(os.environ.get("SPARK_HOME") or "/opt/spark") + os.sep
    assert [k for k in zip_keys if os.path.realpath(k).startswith(home)] == []


def test_python_udf_runs_under_a_long_java_tmpdir(tmp_path):
    """A socket path must fit in 107 bytes; with its directory under a
    100-character ``java.io.tmpdir`` every Python task would fail."""
    long_tmp = tmp_path / ("t" * max(1, 100 - len(str(tmp_path)) - 1))
    long_tmp.mkdir()
    assert len(str(long_tmp)) >= 100
    script = textwrap.dedent(
        f"""
        from turtle_spark.session import get_spark

        spark = get_spark(
            app_name="long-tmpdir",
            cores=1,
            shuffle_partitions=1,
            extra_conf={{
                "spark.driver.extraJavaOptions": "-Djava.io.tmpdir={long_tmp}",
                "spark.ui.showConsoleProgress": "false",
            }},
        )
        rows = spark.range(0, 10, 1, 2).mapInArrow(lambda it: it, "id long").collect()
        print(sum(r.id for r in rows))
        spark.stop()
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env={
            **os.environ,
            "PYTHONPATH": PACKAGE_ROOT,
            "TMPDIR": str(long_tmp),
            "SPARK_GRAFT_DRIVER_MEM": "1g",
        },
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "45"
