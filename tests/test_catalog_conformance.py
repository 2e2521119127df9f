"""Crash-atomicity conformance for SnapshotCatalog (SURVEY S4).

The catalog promises Iceberg-commit semantics on plain parquet: a
snapshot is visible iff its _MANIFEST.json exists, the manifest is
written LAST and atomically, and a killed commit can never corrupt or
hide previously-committed data. These tests simulate a kill at each
point of the commit protocol by reproducing the exact on-disk debris
that kill would leave, then assert reads and subsequent commits behave
as if the failed commit never happened.
"""

from __future__ import annotations

import json

import pytest


@pytest.fixture()
def catalog(spark, tmp_path):
    from ertransfer_spark.sources.catalog import SnapshotCatalog

    return SnapshotCatalog(spark, str(tmp_path / "cat"))


def _df(spark, tag: str, n: int = 5):
    return spark.range(n).selectExpr("id", f"'{tag}' as tag")


def _read_tags(catalog, table):
    return sorted({r["tag"] for r in catalog.read(table).collect()})


def test_kill_before_rename_leaves_table_untouched(spark, catalog):
    """Kill during the parquet write: only a _tmp-* dir exists. Reads see
    the last committed snapshot; the next commit numbers correctly."""
    catalog.commit("t", _df(spark, "v1"))
    # debris a kill mid-write leaves: a tmp dir with partial part files
    tdir = catalog._table_dir("t")
    debris = tdir / "_tmp-deadbeef"
    debris.mkdir()
    (debris / "part-00000.parquet").write_bytes(b"partial garbage")

    assert _read_tags(catalog, "t") == ["v1"]
    catalog.commit("t", _df(spark, "v2"))
    assert _read_tags(catalog, "t") == ["v2"]


def test_kill_between_rename_and_manifest_is_invisible(spark, catalog):
    """Kill after os.rename(tmp, snap) but before the manifest lands: the
    snap dir exists WITHOUT _MANIFEST.json and must be invisible to
    read()/exists(); the next commit must not reuse its number."""
    catalog.commit("t", _df(spark, "v1"))
    tdir = catalog._table_dir("t")
    orphan = tdir / "snap-00001"
    orphan.mkdir()
    (orphan / "part-00000.parquet").write_bytes(b"data without manifest")

    assert _read_tags(catalog, "t") == ["v1"]
    assert catalog.exists("t")
    assert [p.name for p in catalog.snapshots("t")] == ["snap-00000"]

    snap = catalog.commit("t", _df(spark, "v2"))
    assert snap.name == "snap-00002"  # orphan number not reused
    assert _read_tags(catalog, "t") == ["v2"]


def test_kill_mid_manifest_write_never_yields_partial_manifest(spark, catalog):
    """The manifest itself is written to a tmp file and renamed, so a kill
    mid-manifest-write leaves only *.tmp-* debris — never a truncated
    _MANIFEST.json that would make read() fail on invalid JSON."""
    catalog.commit("t", _df(spark, "v1"))
    tdir = catalog._table_dir("t")
    # debris of a kill mid-manifest-write under the atomic protocol
    orphan = tdir / "snap-00001"
    orphan.mkdir()
    (orphan / "part-00000.parquet").write_bytes(b"x")
    (orphan / "_MANIFEST.json.tmp-abc").write_text('{"table": "t", "snapsh')

    assert _read_tags(catalog, "t") == ["v1"]
    assert [p.name for p in catalog.snapshots("t")] == ["snap-00000"]


def test_manifest_written_last_and_atomic(spark, catalog, monkeypatch):
    """Protocol order check: when the commit dies at the manifest step, no
    partial _MANIFEST.json exists anywhere (the write goes through a tmp
    name + rename)."""
    import ertransfer_spark.sources.catalog as cat_mod

    real_rename = cat_mod.os.rename
    calls = []

    def failing_rename(src, dst):
        calls.append((str(src), str(dst)))
        if "_MANIFEST" in str(dst):
            raise OSError("simulated kill at manifest publish")
        return real_rename(src, dst)

    monkeypatch.setattr(cat_mod.os, "rename", failing_rename)
    with pytest.raises(OSError, match="simulated kill"):
        catalog.commit("t", _df(spark, "v1"))
    monkeypatch.undo()

    # the data rename happened first, then the manifest publish was attempted
    assert any("snap-00000" in dst and "_MANIFEST" not in dst for _, dst in calls)
    assert any("_MANIFEST" in dst for _, dst in calls)
    # no visible snapshot, no partial manifest file
    assert not catalog.exists("t")
    snapdir = catalog._table_dir("t") / "snap-00000"
    assert snapdir.exists()
    assert not (snapdir / "_MANIFEST.json").exists()

    # recovery: a fresh commit works and is the one reads see
    catalog.commit("t", _df(spark, "v2"))
    assert _read_tags(catalog, "t") == ["v2"]


def test_append_chain_survives_crashed_append(spark, catalog):
    """Overwrite + appends union in commit order; a crashed append (no
    manifest) drops out of the chain without hiding earlier deltas."""
    catalog.commit("t", _df(spark, "base"))
    catalog.append("t", _df(spark, "d1"))
    tdir = catalog._table_dir("t")
    orphan = tdir / "snap-00002"
    orphan.mkdir()
    (orphan / "part-00000.parquet").write_bytes(b"crashed append")
    catalog.append("t", _df(spark, "d2"))

    assert _read_tags(catalog, "t") == ["base", "d1", "d2"]
    # a new overwrite resets the active chain
    catalog.commit("t", _df(spark, "v2"))
    assert _read_tags(catalog, "t") == ["v2"]


def test_manifest_metadata_roundtrip(spark, catalog):
    catalog.commit("t", _df(spark, "v1"), meta={"stage": "blocking"})
    m = catalog.manifest("t")
    assert m["table"] == "t" and m["stage"] == "blocking"
    assert m["mode"] == "overwrite"
    # manifest is valid JSON on disk (atomic publish)
    snaps = catalog.snapshots("t")
    with open(snaps[-1] / "_MANIFEST.json") as f:
        assert json.load(f)["snapshot"] == "snap-00000"


def _bdf(spark, tag: str, n: int = 8, n_buckets: int = 4):
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .selectExpr("cast(id as string) as conv_id", f"'{tag}' as tag")
        .withColumn("_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)))
    )


def test_read_mixes_partitioned_and_legacy_snapshots(spark, catalog):
    """The legacy-corpus upgrade scenario: an unpartitioned base snapshot
    plus bucketed append deltas must read as ONE table with the DATA schema
    (no _bucket column leaking to consumers)."""
    catalog.commit("t", _df(spark, "legacy"))
    catalog.append("t", _bdf(spark, "delta"), partition_by=["_bucket"], n_buckets=4)
    out = catalog.read("t")
    assert "_bucket" not in out.columns
    assert _read_tags(catalog, "t") == ["delta", "legacy"]


def test_read_buckets_full_scans_unbucketed_snapshots(spark, catalog):
    """A point read over a table whose active set contains an UNBUCKETED
    snapshot must still see that snapshot's rows (full-scan fallback) —
    silently skipping it would drop cross-batch duplicate candidates."""
    catalog.commit("t", _df(spark, "legacy").selectExpr("cast(id as string) as conv_id", "tag"))
    catalog.append("t", _bdf(spark, "delta"), partition_by=["_bucket"], n_buckets=4)
    got = catalog.read_buckets("t", [0], n_buckets=4)
    assert "_bucket" not in got.columns
    tags = {r["tag"] for r in got.collect()}
    assert "legacy" in tags  # every legacy row, regardless of bucket


def test_read_buckets_raises_on_modulus_mismatch(spark, catalog):
    """Pruning with the wrong bucket modulus would silently drop rows —
    the mismatch must be an error, never a wrong answer."""
    catalog.commit("t", _bdf(spark, "v1", n_buckets=4), partition_by=["_bucket"], n_buckets=4)
    with pytest.raises(ValueError, match="bucket-count mismatch"):
        catalog.read_buckets("t", [0], n_buckets=16)
    # matching modulus (and modulus-agnostic reads) still prune fine
    assert catalog.read_buckets("t", [0, 1, 2, 3], n_buckets=4).count() == 8
    assert catalog.read_buckets("t", [0, 1, 2, 3]).count() == 8


def test_read_buckets_full_scans_unknown_modulus(spark, catalog):
    """A bucketed snapshot whose manifest predates n_buckets recording
    (simulated by scrubbing the field) can't be proven prunable — the
    caller's point read must fall back to scanning it, not guess."""
    snap = catalog.commit("t", _bdf(spark, "v1", n_buckets=4), partition_by=["_bucket"], n_buckets=4)
    mpath = snap / "_MANIFEST.json"
    m = json.load(open(mpath))
    m.pop("n_buckets")
    json.dump(m, open(mpath, "w"))
    got = catalog.read_buckets("t", [0], n_buckets=16)
    assert got.count() == 8  # full table — superset, never a silent skip


def test_read_runs_no_spark_job(spark, catalog, count_jobs):
    """Reads carry the schema the manifest records, so planning a read —
    whole table, one snapshot, an append chain, a partitioned table, a
    bucket-pruned point read — runs no schema-inference job."""
    catalog.commit("t", _df(spark, "v1"))
    catalog.append("t", _df(spark, "v2"))
    catalog.commit("b", _bdf(spark, "v1"), partition_by=["_bucket"], n_buckets=4)
    with count_jobs() as jobs:
        whole = catalog.read("t")
        one = catalog.read("t", "snap-00000")
        parts = catalog.read("b")
        point = catalog.read_buckets("b", [0, 1, 2, 3], n_buckets=4)
    assert jobs() == 0
    assert sorted(r["tag"] for r in whole.collect()) == ["v1"] * 5 + ["v2"] * 5
    assert one.count() == 5
    assert parts.columns == point.columns == ["conv_id", "tag"]
    assert point.count() == parts.count() == 8
    assert catalog.num_rows("t") == 10 and catalog.num_rows("b") == 8
