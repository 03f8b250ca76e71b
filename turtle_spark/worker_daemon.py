"""Python worker daemon that imports pyspark from the installed package.

Spark puts its own archives first on the workers' ``sys.path``, and
each task's ``importlib.invalidate_caches()`` makes every zipimporter
over them re-read its index (measured in ``turtle_spark.session``).
``get_spark`` names this module as ``spark.python.daemon.module``.  It
drops the archives from ``sys.path`` when the rest of the path holds the
same pyspark, then runs ``pyspark.daemon`` as Spark would have.

Neither this module nor the package ``__init__`` may import pyspark:
that import would come from the zip.
"""

from __future__ import annotations

import importlib.machinery
import os
import runpy
import sys
import zipfile


def _installed_version_file(path: list[str]) -> bytes | None:
    """``pyspark/version.py`` of the pyspark that ``path`` resolves."""
    spec = importlib.machinery.PathFinder.find_spec("pyspark", path)
    if spec is None or spec.origin is None:
        return None
    try:
        return spec.loader.get_data(os.path.join(os.path.dirname(spec.origin), "version.py"))
    except OSError:
        return None


def prune_spark_archives(path: list[str], importer_cache: dict, spark_home: str | None) -> list[str]:
    """Drop the ``.zip``/``.jar`` entries under ``spark_home`` from
    ``path`` and their importers from ``importer_cache``, in place, and
    return them.  Prunes only when the remaining path resolves a pyspark
    whose ``version.py`` equals the one in Spark's ``pyspark.zip``;
    otherwise leaves both alone."""
    if not spark_home:
        return []
    home = os.path.realpath(spark_home) + os.sep
    archives = [
        p for p in path if p.endswith((".zip", ".jar")) and os.path.realpath(p).startswith(home)
    ]
    spark_zip = next((p for p in archives if os.path.basename(p) == "pyspark.zip"), None)
    if spark_zip is None:
        return []
    kept = [p for p in path if p not in archives]
    try:
        with zipfile.ZipFile(spark_zip) as zf:
            spark_version = zf.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return []
    if _installed_version_file(kept) != spark_version:
        return []
    path[:] = kept
    for key in list(importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del importer_cache[key]
    return archives


if __name__ == "__main__":
    prune_spark_archives(sys.path, sys.path_importer_cache, os.environ.get("SPARK_HOME"))
    # Spark passes the worker module as argv[1]; run_module keeps it
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
