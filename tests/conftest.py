import uuid
from contextlib import contextmanager
from types import SimpleNamespace

import pytest

from dedup_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="dedup_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """Counts the Spark jobs a block submits from the calling thread:

        with spark_jobs() as jobs:
            ...
        assert jobs.n <= budget

    The block runs under a fresh job group; ``jobs.n`` is the number of
    jobs the status tracker lists for it once the listener bus drained
    (job-start events are delivered asynchronously)."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description")

    @contextmanager
    def count():
        group = f"spark_jobs-{uuid.uuid4().hex}"
        prev = [sc.getLocalProperty(k) for k in keys]
        jobs = SimpleNamespace(n=None)
        sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            for k, v in zip(keys, prev):
                sc.setLocalProperty(k, v)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.n = len(sc.statusTracker().getJobIdsForGroup(group))

    return count
