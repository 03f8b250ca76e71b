"""Snapshot-versioned triple/table catalog: Iceberg's design over
plain parquet.

The north-star materialization target is an Iceberg triple table; the
sandbox has no Iceberg runtime jar (``storage.iceberg_available`` is
the guard), so this module implements the load-bearing parts of the
Iceberg table spec — immutable data segments, snapshot manifests,
an atomically-swapped current pointer, optimistic concurrency,
time travel and incremental (CDC-style) reads — on the local
filesystem.  Design follows the public Apache Iceberg spec (v2): a
commit is (1) write data files, (2) write an exclusive snapshot
manifest, (3) swap the pointer; a crash between any two steps leaves
the prior snapshot fully readable and at worst an orphan data
directory that ``orphans()`` reports.

Layout::

    table_dir/
      data/seg-<version>-<op>/...   immutable parquet segment per commit
      metadata/snap-<version>.json  {version, op, parent, segments, rows}
      metadata/CURRENT              text: latest committed version

Scale notes: a snapshot manifest lists SEGMENT DIRECTORIES, not
files — the pointer swap and manifest write are O(1) regardless of
data size; readers hand Spark the segment paths and parquet footer
pruning / partition discovery do the rest.  Commit concurrency is
optimistic exactly like Iceberg's: the snapshot file is created with
O_EXCL, a loser gets ``CommitConflictError`` and retries on top of
the winner's snapshot.

Local-filesystem paths only (same contract as ``plans.manifest`` —
the atomic primitive is ``os.replace``); a URI scheme raises at
construction.
"""

from __future__ import annotations

import json
import os
import pathlib
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


class CommitConflictError(RuntimeError):
    """Another writer committed this version first (optimistic
    concurrency, Iceberg-style): re-read current state and retry."""


@dataclass
class Snapshot:
    version: int
    op: str                     # "append" | "overwrite"
    parent: int | None
    segments: list[str]         # segment dir names under data/, in commit order
    rows: int
    properties: dict            # writer-supplied, e.g. input_fingerprint


class SnapshotCatalog:
    def __init__(self, table_dir: str | os.PathLike):
        s = str(table_dir)
        if "://" in s or s.startswith("file:"):
            raise ValueError(
                f"SnapshotCatalog needs a local filesystem path (atomic "
                f"os.replace is its commit primitive); got {s!r}"
            )
        self.root = pathlib.Path(s)
        (self.root / "data").mkdir(parents=True, exist_ok=True)
        (self.root / "metadata").mkdir(parents=True, exist_ok=True)

    # ---------------- metadata ----------------

    def _snap_path(self, version: int) -> pathlib.Path:
        return self.root / "metadata" / f"snap-{version:05d}.json"

    def current_version(self) -> int | None:
        p = self.root / "metadata" / "CURRENT"
        if not p.exists():
            return None
        return int(p.read_text().strip())

    def snapshot(self, version: int | None = None) -> Snapshot:
        if version is None:
            version = self.current_version()
            if version is None:
                raise FileNotFoundError(f"no committed snapshot in {self.root}")
        spec = json.loads(self._snap_path(version).read_text())
        return Snapshot(
            version=spec["version"], op=spec["op"], parent=spec["parent"],
            segments=list(spec["segments"]), rows=spec["rows"],
            properties=dict(spec.get("properties", {})),
        )

    def history(self) -> list[Snapshot]:
        out = []
        v = self.current_version()
        # stop at the first missing manifest: after expire_snapshots
        # the lineage truncates at the oldest KEPT ancestor (Iceberg
        # history behaves the same after snapshot expiry)
        while v is not None and self._snap_path(v).exists():
            snap = self.snapshot(v)
            out.append(snap)
            v = snap.parent
        return list(reversed(out))

    # ---------------- commit ----------------

    def commit(
        self, df: DataFrame, op: str = "append", properties: dict | None = None
    ) -> int:
        """Write ``df`` as a new immutable segment and atomically
        publish the next snapshot.  ``append`` unions with the parent
        snapshot's segments; ``overwrite`` starts a fresh segment
        list.  Returns the committed version."""
        if op not in ("append", "overwrite"):
            raise ValueError(f"op must be append|overwrite, got {op!r}")
        parent = self.current_version()
        version = (parent or 0) + 1
        seg = self._write_segment(df, version, op)
        rows_written = self._segment_rows(df.sparkSession, [seg])
        if op == "overwrite" or parent is None:
            prev_segments, prev_rows = [], 0
        else:
            prev = self.snapshot(parent)
            prev_segments, prev_rows = prev.segments, prev.rows
        spec = {
            "version": version,
            "op": op,
            "parent": parent,
            "segments": [*prev_segments, seg],
            "rows": rows_written + prev_rows,
            "properties": dict(properties or {}),
        }
        return self._publish(spec)

    def _write_segment(self, df: DataFrame, version: int, op: str) -> str:
        """Step 1 of a commit: write ``df`` as a new segment directory,
        invisible until a snapshot publishes it; returns its name.  The
        uuid suffix makes two writers racing the same version write
        DISTINCT segment dirs; the loser's becomes an orphan — never a
        collision that blocks the winner (Iceberg names data files the
        same way)."""
        seg = f"seg-{version:05d}-{op}-{uuid.uuid4().hex[:8]}"
        df.write.mode("error").parquet(str(self.root / "data" / seg))
        return seg

    def _publish(self, spec: dict) -> int:
        """Steps 2 and 3 of a commit: create the snapshot manifest with
        O_EXCL (the optimistic lock), then swap the pointer to it."""
        version = spec["version"]
        try:
            fd = os.open(self._snap_path(version), os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        except FileExistsError as exc:
            raise CommitConflictError(
                f"snapshot {version} already committed by another writer"
            ) from exc
        with os.fdopen(fd, "w") as f:
            json.dump(spec, f)
        self._set_current(version)
        return version

    def _set_current(self, version: int) -> None:
        """Atomic pointer swap: readers see the old or the new CURRENT,
        never a partial write."""
        tmp = self.root / "metadata" / ".CURRENT.tmp"
        tmp.write_text(str(version))
        os.replace(tmp, self.root / "metadata" / "CURRENT")

    def _segment_rows(self, spark: SparkSession, segments: list[str]) -> int:
        if not segments:
            return 0
        paths = [str(self.root / "data" / s) for s in segments]
        return spark.read.parquet(*paths).count()

    # ---------------- reads ----------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Time-travel read: the table exactly as of ``version``
        (default: current)."""
        snap = self.snapshot(version)
        paths = [str(self.root / "data" / s) for s in snap.segments]
        if not paths:
            raise FileNotFoundError(f"snapshot {snap.version} has no segments")
        return spark.read.parquet(*paths)

    def incremental(
        self, spark: SparkSession, from_version: int, to_version: int
    ) -> DataFrame:
        """Rows ADDED between two snapshots (CDC-style append scan):
        reads only the segments committed in the range — never a diff
        of full table states.  Raises if an ``overwrite`` snapshot
        intervenes (its delta is not expressible as added segments;
        use ``read`` at each boundary and diff explicitly)."""
        if to_version <= from_version:
            raise ValueError("to_version must be > from_version")
        new_segments: list[str] = []
        v = to_version
        while v is not None and v > from_version:
            snap = self.snapshot(v)
            if snap.op != "append":
                raise ValueError(
                    f"snapshot {v} is a {snap.op}; incremental append scan "
                    f"is undefined across it"
                )
            new_segments.append(snap.segments[-1])
            v = snap.parent
        paths = [str(self.root / "data" / s) for s in reversed(new_segments)]
        return spark.read.parquet(*paths)

    # ---------------- maintenance ----------------

    def compact(self, spark: SparkSession, target_partitions: int | None = None) -> int:
        """Rewrite the current snapshot's segments into ONE segment
        (Iceberg's ``rewrite_data_files``): the small-files debt of
        many append commits is paid once, reads before the compaction
        version still see the original segments (time travel intact),
        and the rewritten table is byte-identical row-wise.  Publishes
        an ``op='compact'`` snapshot; ``incremental`` refuses to scan
        across it, exactly like an overwrite."""
        parent = self.current_version()
        if parent is None:
            raise FileNotFoundError(f"nothing to compact in {self.root}")
        cur = self.snapshot(parent)
        df = self.read(spark, parent)
        if target_partitions:
            df = df.repartition(target_partitions)
        version = parent + 1
        seg = self._write_segment(df, version, "compact")
        spec = {
            "version": version,
            "op": "compact",
            "parent": parent,
            "segments": [seg],
            "rows": cur.rows,
            "properties": {"compacted_segments": len(cur.segments)},
        }
        return self._publish(spec)

    def rollback(self, version: int) -> None:
        """Point CURRENT back at an earlier snapshot (its manifest
        must exist).  Later snapshots remain on disk for re-rollforward
        until expired."""
        if not self._snap_path(version).exists():
            raise FileNotFoundError(f"no snapshot {version}")
        self._set_current(version)

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Retention (Iceberg ``expire_snapshots`` parity): keep the
        newest ``keep_last`` snapshots on the CURRENT lineage (always
        including CURRENT), delete every other snapshot manifest —
        including versions rolled past by ``rollback`` — then delete
        the segment dirs no kept snapshot references.

        Afterwards time travel to an expired version raises
        ``FileNotFoundError`` and ``history()`` truncates at the
        oldest kept ancestor; reads of every KEPT version are
        untouched (their segments are never deleted, however many
        expired manifests also referenced them).  At 100 TB this is
        the storage-reclamation half of table maintenance — compaction
        rewrites live data, expiry unpins the dead copies.

        Returns ``{"versions_expired", "segments_removed",
        "versions_kept"}`` counts."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        cur = self.current_version()
        if cur is None:
            return {
                "versions_expired": 0,
                "segments_removed": 0,
                "versions_kept": 0,
            }
        chain = [s.version for s in self.history()]
        keep = set(chain[-keep_last:]) | {cur}
        all_versions = sorted(
            int(p.stem.split("-")[1])
            for p in (self.root / "metadata").glob("snap-*.json")
        )
        expired = [v for v in all_versions if v not in keep]
        kept_segments: set[str] = set()
        for v in keep:
            kept_segments.update(self.snapshot(v).segments)
        removed_segments: set[str] = set()
        for v in expired:
            removed_segments.update(self.snapshot(v).segments)
            self._snap_path(v).unlink()
        removed_segments -= kept_segments
        for seg in sorted(removed_segments):
            shutil.rmtree(self.root / "data" / seg, ignore_errors=True)
        return {
            "versions_expired": len(expired),
            "segments_removed": len(removed_segments),
            "versions_kept": len(keep),
        }

    def vacuum(self) -> list[str]:
        """Delete orphan segment dirs (crashed-commit debris — see
        ``orphans``); returns the removed names.  Safe concurrently
        with readers: an orphan is by definition referenced by no
        manifest, so no read can be planning against it."""
        import shutil

        removed = self.orphans()
        for seg in removed:
            shutil.rmtree(self.root / "data" / seg, ignore_errors=True)
        return removed

    def orphans(self) -> list[str]:
        """Segment dirs referenced by NO snapshot manifest — debris of
        crashed commits (step 1 done, step 2 not).  Safe to delete."""
        referenced: set[str] = set()
        for p in (self.root / "metadata").glob("snap-*.json"):
            referenced.update(json.loads(p.read_text())["segments"])
        on_disk = {p.name for p in (self.root / "data").iterdir() if p.is_dir()}
        return sorted(on_disk - referenced)


def merge_upsert(
    catalog: "SnapshotCatalog",
    spark,
    updates: DataFrame,
    keys: list[str],
    delete_col: str | None = None,
    properties: dict | None = None,
) -> int:
    """MERGE INTO for the snapshot catalog — the lakehouse upsert:

    * matched rows are REPLACED by their update row,
    * unmatched update rows are INSERTED,
    * update rows with ``delete_col = true`` DELETE their match
      (and insert nothing),
    * everything else carries over unchanged.

    Implemented as current-state ⋖ updates left-anti (rows not
    touched) unioned with the surviving updates, committed as an
    OVERWRITE snapshot — so readers see the merge atomically, time
    travel still reaches the pre-merge state, and a replay of the
    same merge conflicts on the optimistic lock instead of applying
    twice.  One shuffle on the merge keys; at scale both sides are
    the same bucketed layout so the anti-join co-locates.

    ``updates`` must carry the table schema (plus ``delete_col`` if
    used).  Duplicate keys in ``updates`` are rejected — a MERGE
    with two updates for one key is nondeterministic in any engine
    (Delta/Iceberg raise the same way).
    """
    from pyspark.sql import functions as F

    dup = (
        updates.groupBy(*keys).count().where(F.col("count") > 1).limit(1).count()
    )
    if dup:
        raise ValueError("updates contain duplicate merge keys")
    current = catalog.read(spark)
    cols = current.columns
    upd = updates
    if delete_col is not None:
        surviving = upd.where(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).select(*cols)
    else:
        surviving = upd.select(*cols)
    untouched = current.join(upd.select(*keys), keys, "left_anti")
    merged = untouched.unionByName(surviving)
    props = {"op": "merge", **(properties or {})}
    return catalog.commit(merged, op="overwrite", properties=props)
