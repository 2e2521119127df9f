"""Snapshot catalog — the stage-boundary persistence + resume seam.

The reference hands stages off via CSV files on a shared filesystem
(splitters/KNN-Join/splitter.py:190-196 → methods/* → clustering/*); its
only resume is model-checkpoint reuse (methods/emtransformer/
entrypoint.py:83-87). Here every stage output is an atomic table snapshot:

    <workdir>/<table>/snap-<n>/part-*.parquet + _MANIFEST.json

The manifest is written LAST, so a snapshot is visible iff complete —
the Iceberg-commit semantics on plain parquet. When an Iceberg catalog is
on the classpath (not in this image; import-gated), ``SnapshotCatalog``
delegates to ``df.writeTo(...)`` instead; the pipeline code is identical.

``lineage`` is an append-only table of per-stage/per-partition rows
(stage, block_key, candidate_count, comparisons, matches, wall_ms, run_id,
snapshot) — the split_statistics.txt analog (splitter.py:198-207) that the
north rule requires as the resume ledger.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _fsync_dir(path: Path) -> None:
    """fsync a directory entry so a just-renamed child is durable across
    power loss (POSIX: rename atomicity does not imply durability until
    the containing directory is synced)."""
    fd = os.open(str(path), os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is actually loadable. NB: plain
    ``spark._jvm.org.apache.iceberg.Table`` attribute access is NOT a probe —
    py4j returns a JavaPackage stub for any dotted path without touching the
    classpath (found by tests/test_iceberg_seam.py: the old form returned
    True on a jar-less image). Class.forName forces a real load attempt."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.root = Path(workdir)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- snapshot primitives -------------------------------------------------
    def _table_dir(self, table: str) -> Path:
        return self.root / table

    def snapshots(self, table: str) -> list[Path]:
        d = self._table_dir(table)
        if not d.exists():
            return []
        out = []
        for p in sorted(d.iterdir()):
            if p.name.startswith("snap-") and (p / "_MANIFEST.json").exists():
                out.append(p)
        return out

    def exists(self, table: str) -> bool:
        return bool(self.snapshots(table))

    def commit(self, table: str, df: DataFrame, meta: dict | None = None,
               mode: str = "overwrite", partition_by: list[str] | None = None,
               n_buckets: int | None = None) -> Path:
        """Write df as the next snapshot of ``table``; manifest written last
        (atomic visibility). ``mode='append'`` marks the snapshot as a
        delta: :meth:`read` unions every append snapshot since the last
        overwrite — the Iceberg fast-append analog. Earlier snapshot files
        are never touched.

        ``partition_by`` hive-partitions the snapshot's files by the named
        columns (``snap-n/<col>=<v>/part-*.parquet``) — the Iceberg
        bucket-partitioning analog that lets :meth:`read_buckets` prune
        point-lookup reads to the named buckets instead of scanning the
        whole table. ``n_buckets`` records the bucket-hash modulus in the
        manifest so :meth:`read_buckets` can detect a modulus mismatch
        (a later run bucketing with a different B would otherwise prune
        to the WRONG directories and silently drop rows)."""
        d = self._table_dir(table)
        d.mkdir(parents=True, exist_ok=True)
        n = len([p for p in d.iterdir() if p.name.startswith("snap-")])
        tmp = d / f"_tmp-{uuid.uuid4().hex[:8]}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(tmp))
        snap = d / f"snap-{n:05d}"
        if snap.exists():
            shutil.rmtree(snap)
        os.rename(tmp, snap)
        _fsync_dir(d)  # make the data-dir rename durable, not just atomic
        manifest = {
            "table": table,
            "snapshot": snap.name,
            "committed_at": time.time(),
            "schema": df.schema.json(),
            "mode": mode,
            "partition_by": partition_by or [],
            "n_buckets": n_buckets,
            **(meta or {}),
        }
        # manifest-last AND manifest-atomic: a kill before the rename leaves
        # only an invisible dir (no manifest → snapshots() skips it); a kill
        # mid-manifest-write leaves a *.tmp file, never a partial
        # _MANIFEST.json that would make read() choke on truncated JSON
        mtmp = snap / f"_MANIFEST.json.tmp-{uuid.uuid4().hex[:8]}"
        with open(mtmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(mtmp, snap / "_MANIFEST.json")
        # fsync the snapshot dir so the manifest rename itself survives
        # power loss — without this the commit is atomic for process
        # crashes only, weaker than the Iceberg-commit semantics claimed
        _fsync_dir(snap)
        return snap

    def append(self, table: str, df: DataFrame, meta: dict | None = None,
               partition_by: list[str] | None = None,
               n_buckets: int | None = None) -> Path:
        """Append-only commit: writes ONLY ``df``'s rows as a new delta
        snapshot — per-commit cost is O(|df|), never O(table)."""
        return self.commit(table, df, meta=meta, mode="append",
                           partition_by=partition_by, n_buckets=n_buckets)

    def _active_snaps(self, table: str) -> list[Path]:
        """Snapshots visible to read(): the last overwrite plus every
        append after it (in commit order)."""
        active: list[Path] = []
        for p in self.snapshots(table):
            with open(p / "_MANIFEST.json") as f:
                mode = json.load(f).get("mode", "overwrite")
            if mode == "overwrite":
                active = [p]
            else:
                active.append(p)
        return active

    def _manifest_of(self, snap: Path) -> dict:
        with open(snap / "_MANIFEST.json") as f:
            return json.load(f)

    def _reader(self, manifests: list[dict], drop: tuple = ()):
        """``spark.read`` carrying the table schema the manifests record, so
        a read plans without Spark's schema-inference job (one job per
        schemaless parquet read). Inference stays only when a manifest
        predates schema recording or the manifests record different
        schemas. ``drop`` names columns absent from the files read (the
        partition columns of a pruned bucket-dir read)."""
        recorded = {m.get("schema") for m in manifests}
        if len(recorded) != 1 or None in recorded:
            return self.spark.read
        schema = StructType.fromJson(json.loads(recorded.pop()))
        return self.spark.read.schema(
            StructType([f for f in schema.fields if f.name not in drop])
        )

    def _read_snap_data(self, snap: Path) -> DataFrame:
        """Read one snapshot exposing ONLY its data schema: hive-partition
        columns (e.g. ``_bucket``) are physical layout, not table schema —
        dropping them keeps reads stable across a re-partitioning of the
        table and lets partitioned and legacy unpartitioned snapshots union
        cleanly."""
        m = self._manifest_of(snap)
        df = self._reader([m]).parquet(str(snap))
        for c in m.get("partition_by") or []:
            if c in df.columns:
                df = df.drop(c)
        return df

    def read(self, table: str, snapshot: str | None = None) -> DataFrame:
        """The table's active snapshots as one lazy DataFrame; planning it
        runs no Spark job."""
        if snapshot is not None:
            return self._read_snap_data(self._table_dir(table) / snapshot)
        snaps = self._active_snaps(table)
        if not snaps:
            raise FileNotFoundError(f"no committed snapshot for table {table!r}")
        manifests = [self._manifest_of(p) for p in snaps]
        if not any(m.get("partition_by") for m in manifests):
            return self._reader(manifests).parquet(*[str(p) for p in snaps])
        # Partitioned snapshots are each their own partition-discovery root;
        # Spark refuses multiple roots in one load, so union per-snapshot
        # reads (driver cost O(snapshots); each read stays pruned/lazy).
        # allowMissingColumns covers an active set mixing partitioned and
        # legacy snapshots whose data schemas differ by exactly the dropped
        # partition columns.
        dfs = [self._read_snap_data(p) for p in snaps]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def num_rows(self, table: str) -> int:
        """Rows in the table's active snapshots, summed from the parquet
        footers: a driver-side metadata read, no Spark job."""
        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(f).num_rows
            for snap in self._active_snaps(table)
            for f in snap.rglob("*.parquet")
        )

    def bucket_dirs(self, table: str, buckets: list[int],
                    bucket_col: str = "_bucket") -> list[Path]:
        """The hive-partition directories of the ACTIVE snapshots that hold
        the named buckets — only dirs that exist (a delta that wrote no row
        into a bucket has no dir for it). Driver cost is O(snapshots ×
        |buckets|) stat calls, independent of table size."""
        dirs: list[Path] = []
        for snap in self._active_snaps(table):
            for b in buckets:
                d = snap / f"{bucket_col}={int(b)}"
                if d.exists():
                    dirs.append(d)
        return dirs

    def read_buckets(self, table: str, buckets: list[int],
                     bucket_col: str = "_bucket",
                     n_buckets: int | None = None) -> DataFrame:
        """Partition-pruned point read: scan ONLY the files of the named
        buckets across the active snapshots. This is the Iceberg
        `bucket(B, id)` partition-pruning analog for the plain-parquet
        catalog: per-lookup I/O scales with the buckets touched, never with
        the table. The bucket column itself is a directory name, so it is
        NOT part of the returned schema.

        Correctness over pruning, per snapshot:
        - bucketed by ``bucket_col`` with a MATCHING recorded modulus (or
          the caller passed no ``n_buckets``): prune to the named bucket
          dirs;
        - bucketed but with a DIFFERENT recorded modulus: raise ValueError —
          pruning with the wrong modulus would silently drop rows;
        - bucketed with NO recorded modulus (legacy manifest), or not
          bucketed at all (corpus committed by pre-bucketing code): fall
          back to FULL-SCANNING that snapshot — a superset of the requested
          buckets, safe for the lookup joins this feeds, never a silent
          skip.

        Raises FileNotFoundError when the table has no committed snapshot;
        returns an empty scan (caller handles) when the table exists but
        none of the buckets do."""
        snaps = self._active_snaps(table)
        if not snaps:
            raise FileNotFoundError(f"no committed snapshot for table {table!r}")
        pruned_dirs: list[Path] = []
        pruned_manifests: list[dict] = []
        full_scans: list[DataFrame] = []
        for snap in snaps:
            m = self._manifest_of(snap)
            if m.get("partition_by") == [bucket_col]:
                recorded = m.get("n_buckets")
                if recorded is not None and n_buckets is not None and int(recorded) != int(n_buckets):
                    raise ValueError(
                        f"bucket-count mismatch for table {table!r} snapshot "
                        f"{snap.name}: committed with n_buckets={recorded}, "
                        f"read requested n_buckets={n_buckets} — pruning would "
                        f"drop rows; re-bucket the snapshot or read() fully"
                    )
                if recorded is None and n_buckets is not None:
                    # legacy bucketed snapshot, modulus unknown: can't prove
                    # the dirs line up with the caller's hash — full-scan it
                    full_scans.append(self._read_snap_data(snap))
                    continue
                pruned_dirs += [
                    d for b in buckets
                    if (d := snap / f"{bucket_col}={int(b)}").exists()
                ]
                pruned_manifests.append(m)
            else:
                full_scans.append(self._read_snap_data(snap))
        parts: list[DataFrame] = []
        if pruned_dirs:
            # a bucket dir read directly discovers no partition column
            reader = self._reader(pruned_manifests, drop=(bucket_col,))
            parts.append(reader.parquet(*[str(d) for d in pruned_dirs]))
        parts += full_scans
        if not parts:
            # table exists but no requested bucket has data: empty frame
            # with the table's data schema (partition col excluded)
            return self.read(table).limit(0)
        out = parts[0]
        for d in parts[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def manifest(self, table: str) -> dict:
        snaps = self.snapshots(table)
        with open(snaps[-1] / "_MANIFEST.json") as f:
            return json.load(f)

    # -- lineage -------------------------------------------------------------
    def append_lineage(self, rows: list[dict]) -> None:
        if not rows:
            return
        import pandas as pd

        d = self.root / "lineage"
        d.mkdir(parents=True, exist_ok=True)
        pd.DataFrame(rows).to_parquet(d / f"part-{uuid.uuid4().hex}.parquet")

    def lineage(self) -> DataFrame:
        d = self.root / "lineage"
        if not d.exists() or not any(d.iterdir()):
            raise FileNotFoundError("no lineage rows")
        return self.spark.read.parquet(str(d))
