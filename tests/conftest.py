from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from bsc_project_spark.pipeline.session import get_spark

    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s
    # a streaming query still running would deadlock/stall the JVM shutdown
    for q in s.streams.active:
        q.stop()
    s.stop()


@pytest.fixture(scope="session")
def corpus():
    from bsc_project_spark.fixtures.corpus import build_corpus

    return build_corpus(n_docs=4)


@pytest.fixture(scope="session")
def skew_corpus():
    from bsc_project_spark.fixtures.corpus import build_corpus

    # every 2nd doc is a heavy doc carrying 16 media spans
    return build_corpus(n_docs=4, skew_every=2, skew_spans=16)


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` in a job group of its own and
    returns the number of Spark jobs it ran.  A one-task marker
    job run last in the same group shows the status tracker has seen
    every earlier job of the group."""
    import time
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"counted-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "jobs counted by a test")
        try:
            fn()
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        deadline = time.monotonic() + 30
        while True:
            jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
            marker = jobs and sc.statusTracker().getJobInfo(jobs[-1])
            if (marker and marker.status == "SUCCEEDED") or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        return len(jobs) - 1

    return run
