"""End-to-end pipeline parity (FIXTURES.md §6.5) + snapshot resume."""

from __future__ import annotations

import pandas as pd
import pytest

from ertransfer_spark.oracle import pandas_oracle as oracle
from ertransfer_spark.plans.pipeline import ERPipeline, PipelineConfig


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path / "er")


def test_pipeline_f1_vs_golden(spark, spark_corpora, workdir):
    ta, tb, matches = spark_corpora
    pipe = ERPipeline(spark, workdir, PipelineConfig(k=5))
    out = pipe.run(ta, tb, matches)
    assert out["metrics"]["f1"] >= 0.99

    # cluster assignment agrees with union-find over the accepted pairs
    pairs_pd = out["matched_pairs"].select("a_id", "b_id").toPandas()
    want = oracle.connected_components(pairs_pd)
    got = out["clusters"].toPandas()
    assert dict(zip(got["node"], got["cluster_id"])) == want

    # lineage rows exist for every stage
    lin = pipe.catalog.lineage().toPandas()
    for stage in ["records_a", "records_b", "candidates", "labeled", "predictions", "matched_pairs", "clusters"]:
        assert stage in set(lin["stage"]), stage


def test_pipeline_resume_skips_committed_stages(spark, spark_corpora, workdir):
    ta, tb, matches = spark_corpora
    pipe = ERPipeline(spark, workdir, PipelineConfig(k=5))
    out1 = pipe.run(ta, tb, matches)

    # second run with resume must not recompute: candidates snapshot count
    cat = pipe.catalog
    snaps_before = {t: len(cat.snapshots(t)) for t in ["candidates", "predictions", "matched_pairs"]}
    pipe2 = ERPipeline(spark, workdir, PipelineConfig(k=5))
    out2 = pipe2.run(ta, tb, matches)
    snaps_after = {t: len(cat.snapshots(t)) for t in snaps_before}
    assert snaps_before == snaps_after  # nothing rewritten
    p1 = out1["matched_pairs"].select("a_id", "b_id").toPandas().sort_values(["a_id", "b_id"]).reset_index(drop=True)
    p2 = out2["matched_pairs"].select("a_id", "b_id").toPandas().sort_values(["a_id", "b_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(p1, p2)


def test_snapshot_catalog_atomicity(spark, tmp_path):
    from ertransfer_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    df = spark.range(10).withColumnRenamed("id", "x")
    cat.commit("t", df)
    assert cat.exists("t")
    assert cat.read("t").count() == 10
    # a second commit becomes the new snapshot; the old stays readable
    cat.commit("t", spark.range(5).withColumnRenamed("id", "x"))
    assert cat.read("t").count() == 5
    assert cat.read("t", "snap-00000").count() == 10
    m = cat.manifest("t")
    assert m["snapshot"] == "snap-00001"


def test_snapshot_catalog_kill_conformance(spark, tmp_path):
    """Manifest-last atomicity under kill: a snapshot directory whose
    manifest never landed (killed mid-commit) and a leftover _tmp staging
    dir are both invisible to exists()/read(); the next commit claims a
    fresh snapshot id and the table stays consistent."""
    import shutil

    from ertransfer_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    df = spark.range(10).withColumnRenamed("id", "x")
    cat.commit("t", df)

    tdir = tmp_path / "cat" / "t"
    # simulate a kill AFTER the parquet rename but BEFORE the manifest write
    shutil.copytree(tdir / "snap-00000", tdir / "snap-00001")
    (tdir / "snap-00001" / "_MANIFEST.json").unlink()
    # and a kill DURING the parquet write (staging dir left behind)
    shutil.copytree(tdir / "snap-00000", tdir / "_tmp-deadbeef")

    assert [p.name for p in cat.snapshots("t")] == ["snap-00000"]
    assert cat.read("t").count() == 10
    assert cat.manifest("t")["snapshot"] == "snap-00000"

    # recovery: a rerun commit lands cleanly as a NEW visible snapshot
    cat.commit("t", spark.range(3).withColumnRenamed("id", "x"))
    assert cat.read("t").count() == 3


def test_snapshot_catalog_append_mode(spark, tmp_path):
    """append() commits deltas: read() unions every append since the last
    overwrite; an overwrite resets the visible set."""
    from ertransfer_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    mk = lambda n, v: spark.range(n).selectExpr(f"id + {v} as x")
    cat.commit("t", mk(2, 0))
    cat.append("t", mk(3, 100))
    cat.append("t", mk(1, 200))
    assert cat.read("t").count() == 6
    assert cat.read("t", "snap-00001").count() == 3  # a delta alone
    cat.commit("t", mk(4, 0))  # overwrite resets
    assert cat.read("t").count() == 4


def test_unsupervised_pipeline_no_labels(spark, spark_corpora, tmp_path):
    """ZeroER regime: NO golden matches given to the pipeline — the GMM
    matcher + fixed threshold must still recover the duplicate pairs
    (evaluated against the golden set only afterwards, externally)."""
    from ertransfer_spark.operators.clustering import pairwise_metrics

    ta, tb, matches = spark_corpora
    pipe = ERPipeline(spark, str(tmp_path / "unsup"), PipelineConfig(k=5))
    out = pipe.run(ta, tb, golden_matches=None, resume=False)
    m = pairwise_metrics(out["matched_pairs"], matches)
    assert m["f1"] >= 0.9, m


def test_pipeline_tfidf_feature(spark, spark_corpora, workdir):
    """PipelineConfig(tfidf=True) threads the corpus-IDF token-cosine
    feature through train AND score (feature_cols stays consistent) and
    holds the F1 bar; predictions carry the standard contract columns."""
    ta, tb, matches = spark_corpora
    pipe = ERPipeline(spark, workdir, PipelineConfig(k=5, tfidf=True))
    out = pipe.run(ta, tb, matches)
    assert out["metrics"]["f1"] >= 0.99
    assert {"a_id", "b_id", "prob_class1"} <= set(out["predictions"].columns)


def test_pipeline_local_train_cap_keeps_positives(spark, spark_corpora, workdir):
    """With train_sample_cap far below the candidate count, the local-train
    hash sample must (a) keep EVERY positive (label-scarce corpora would
    otherwise lose the boundary) and (b) still produce a usable matcher —
    F1 stays at the uncapped bar on the synth corpus."""
    ta, tb, matches = spark_corpora
    pipe = ERPipeline(
        spark, workdir, PipelineConfig(k=5, train_sample_cap=50)
    )
    out = pipe.run(ta, tb, matches)
    assert out["metrics"]["f1"] >= 0.99


def test_lineage_counts_are_committed_rows(spark, spark_corpora, workdir):
    """Each stage's lineage ``candidate_count`` is the number of rows its
    snapshot holds (the ``candidates`` stage logs per-block rows instead),
    and ``labeled`` ``matches`` is sum(label) over its snapshot."""
    from pyspark.sql import functions as F

    ta, tb, matches = spark_corpora
    pipe = ERPipeline(spark, workdir, PipelineConfig(k=5))
    pipe.run(ta, tb, matches)
    lin = pipe.catalog.lineage().toPandas()
    for stage in ["records_a", "records_b", "labeled", "predictions", "matched_pairs", "clusters"]:
        rows = lin[lin["stage"] == stage]
        assert len(rows) == 1, stage
        assert int(rows["candidate_count"].iloc[0]) == pipe.catalog.read(stage).count(), stage
    labeled = pipe.catalog.read("labeled")
    n_pos = labeled.agg(F.sum("label")).collect()[0][0]
    assert int(lin[lin["stage"] == "labeled"]["matches"].iloc[0]) == n_pos > 0
    assert (lin[lin["stage"] == "candidates"]["block_key"] != "").all()


PIPELINE_JOB_CEILING = 53


def test_pipeline_job_count_ceiling(spark, spark_corpora, workdir, count_jobs):
    """Guard against driver round-trip regressions: a full run's Spark job
    count on the 60-conversation fixture may not grow past the measured
    ceiling. The count was 99 before each stage's plan ran only once
    (pre-commit lineage counts, schema-inferring catalog reads, a second
    featurization, fingerprint-tested connected components, three-count
    pairwise metrics) and 53 after. A new count(), a schemaless read or a
    recomputed stage plan each add jobs; lower the ceiling when a change
    removes some."""
    ta, tb, matches = spark_corpora
    with count_jobs() as jobs:
        out = ERPipeline(spark, workdir, PipelineConfig(k=5)).run(ta, tb, matches)
    assert out["metrics"]["f1"] >= 0.99
    assert jobs() <= PIPELINE_JOB_CEILING, jobs()
