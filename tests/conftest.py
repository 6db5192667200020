from __future__ import annotations

import pytest


@pytest.fixture(autouse=True)
def _force_approximate_path():
    """Pin the small-index exact bypass OFF for the suite: every test
    corpus is far below the engine's 15k approximate_threshold
    (KNNSettings.java:70,104), and the probed-IVF machinery is exactly
    what most tests exercise — the same move the reference's own
    small-corpus tests make by lowering the index setting. Tests of
    the bypass itself pass an explicit ``approximate_threshold``."""
    from opensearch_jvector_spark.operators import similarity

    old = similarity.APPROXIMATE_THRESHOLD
    similarity.APPROXIMATE_THRESHOLD = 0
    yield
    similarity.APPROXIMATE_THRESHOLD = old


@pytest.fixture(scope="session")
def spark():
    from opensearch_jvector_spark.session import get_spark

    s = get_spark("tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(group, fn)`` runs fn() under a Spark job group and
    returns (fn's result, the ids of the jobs launched in the group)."""

    def run(group: str, fn):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            out = fn()
            return out, sc.statusTracker().getJobIdsForGroup(group)
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)

    return run
