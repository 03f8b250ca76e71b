"""Checkpoint manifest: per-stage lineage + metrics, resumable runs.

Every pipeline stage writes its output to ``<workdir>/<stage>/data``
and then atomically records a manifest entry::

    {
      "stage":   "extract",
      "fingerprint": "<input fingerprint the output was computed from>",
      "rows": 123456,
      "partitions": 32,
      "status": "committed",
      "metrics": {...}
    }

On a re-run, a stage whose manifest entry is ``committed`` with a
matching input fingerprint is *not recomputed* — its parquet output is
read back, and the run resumes mid-pipeline.  This is the batch
equivalent of streaming checkpoints: at 10^12-document scale a
transient executor-loss in stage D must not re-pay stages A-C.

The manifest is plain JSON on the filesystem (one file per stage,
written via temp-file rename for atomicity).  The same layout maps
onto an Iceberg snapshot/metadata table when the runtime jar is
available; the sandbox uses the parquet+JSON fallback (SURVEY.md §7
M6) with identical logical content.
"""

from __future__ import annotations

import json
import os
import pathlib
import tempfile
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class StageManifest:
    def __init__(self, workdir: str | os.PathLike):
        self.root = pathlib.Path(workdir)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- manifest records ---------------------------------------------------

    def _path(self, stage: str) -> pathlib.Path:
        return self.root / f"{stage}.manifest.json"

    def read(self, stage: str) -> dict[str, Any] | None:
        p = self._path(stage)
        if not p.exists():
            return None
        with open(p) as f:
            return json.load(f)

    def _write(self, stage: str, record: dict[str, Any]) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix=f".{stage}.")
        with os.fdopen(fd, "w") as f:
            json.dump(record, f, indent=1)
        os.replace(tmp, self._path(stage))  # atomic commit

    def is_committed(self, stage: str, fingerprint: str) -> bool:
        rec = self.read(stage)
        return (
            rec is not None
            and rec.get("status") == "committed"
            and rec.get("fingerprint") == fingerprint
        )

    # -- stage data ---------------------------------------------------------

    def data_path(self, stage: str) -> str:
        return str(self.root / stage / "data")

    def materialize(
        self,
        stage: str,
        df: DataFrame,
        fingerprint: str,
        partition_by: list[str] | None = None,
        metrics: dict[str, Any] | None = None,
    ) -> DataFrame:
        """Write ``df`` for ``stage`` and commit the manifest entry.

        Returns the re-read DataFrame (reading back what was written is
        both the resume path and a free end-to-end validation of the
        stage's on-disk schema).
        """
        spark = df.sparkSession
        path = self.data_path(stage)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

        out = spark.read.parquet(path)

        # per-partition lineage: one row count per on-disk file — this
        # is what lets an operator (or a human) audit exactly which
        # partition of which stage produced what.  Counts come from the
        # parquet FOOTERS (driver-side metadata reads, no Spark job):
        # the row count is already materialized in each file's footer,
        # so re-scanning the stage output with a groupBy just to learn
        # it cost 2 extra jobs per commit — fixed overhead that capped
        # pipeline scaling at small corpus sizes.  Footer reads are
        # O(files) driver work; above the lineage cap we stop reading
        # footers and take stage totals from ONE Spark aggregate (a
        # million-file stage pays one job, never a million driver
        # reads — and lineage detail is truncated, as before).
        files = sorted(
            str(p)
            for p in pathlib.Path(path).rglob("*.parquet")
            if not p.name.startswith((".", "_"))
        )
        n_files = len(files)
        truncated = n_files > 512
        if n_files == 0:
            # pathlib only sees the LOCAL filesystem; on a URI workdir
            # (hdfs://, s3a://, file:) rglob finds nothing even though
            # the write succeeded.  Fall back to the storage-agnostic
            # Spark aggregate (one job, capped collect) rather than
            # silently committing rows=0 lineage.
            from pyspark.sql import functions as F

            per_file = (
                out.groupBy(F.input_file_name().alias("file"))
                .agg(F.count("*").alias("rows"))
                .orderBy("file")
                .limit(513)
                .collect()
            )
            truncated = len(per_file) > 512
            n_files = len(per_file)
            lineage = [
                {"file": r["file"].rsplit("/", 1)[-1], "rows": int(r["rows"])}
                for r in per_file[:512]
            ]
            if truncated:
                rows = int(out.agg(F.count("*")).collect()[0][0] or 0)
            else:
                rows = sum(e["rows"] for e in lineage)
        else:
            if truncated:
                from pyspark.sql import functions as F

                head = files[:512]
                totals = out.agg(F.count("*").alias("rows")).collect()[0]
                rows = int(totals["rows"] or 0)
            else:
                head = files
                rows = 0
            lineage = []
            import pyarrow.parquet as pq

            for fp in head:
                n = pq.ParquetFile(fp).metadata.num_rows
                lineage.append({"file": fp.rsplit("/", 1)[-1], "rows": n})
                if not truncated:
                    rows += n
        self._write(
            stage,
            {
                "stage": stage,
                "fingerprint": fingerprint,
                "rows": rows,
                "partitions": n_files,
                "partition_lineage": lineage,
                "partition_lineage_truncated": truncated,
                "status": "committed",
                "metrics": metrics or {},
            },
        )
        return out

    def load_or_compute(
        self,
        spark: SparkSession,
        stage: str,
        fingerprint: str,
        compute,
        partition_by: list[str] | None = None,
        metrics: dict[str, Any] | None = None,
    ) -> tuple[DataFrame, bool]:
        """Resume-or-run one stage.

        Returns ``(df, resumed)``; ``compute`` is a thunk producing the
        stage DataFrame, only invoked on a cache miss.
        """
        if self.is_committed(stage, fingerprint):
            return spark.read.parquet(self.data_path(stage)), True
        df = self.materialize(
            stage, compute(), fingerprint, partition_by=partition_by, metrics=metrics
        )
        return df, False
