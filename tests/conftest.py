from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from ertransfer_spark.session import get_spark

    s = get_spark("ertransfer-tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpora():
    """Small deterministic A/B transcript corpora + golden matches."""
    from ertransfer_spark.synth import SynthConfig, generate

    return generate(SynthConfig(n_conversations=60, seed=7))


@pytest.fixture(scope="session")
def spark_corpora(spark, corpora):
    from ertransfer_spark.synth import to_spark

    ta, tb, m = corpora
    return to_spark(spark, ta), to_spark(spark, tb), spark.createDataFrame(m)


@pytest.fixture()
def count_jobs(spark):
    """``with count_jobs() as jobs: ...`` — runs the block under a fresh
    Spark job group; ``jobs()`` then returns how many jobs it started."""
    import contextlib
    import uuid

    sc = spark.sparkContext

    @contextlib.contextmanager
    def _count():
        group = f"count-jobs-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    return _count
