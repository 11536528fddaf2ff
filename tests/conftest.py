from contextlib import contextmanager

import pytest

from fundamental_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    return get_spark(
        "fundamental-spark-tests", master="local[4]", shuffle_partitions=8
    )


@contextmanager
def spark_jobs(spark):
    """Collect the ids of the Spark jobs submitted inside the block:
    ``with spark_jobs(spark) as jobs: ...`` then ``assert not jobs``.
    The status tracker is fed by the listener bus, so the bus is drained
    before each snapshot of the job ids."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    jobs: list[int] = []
    yield jobs
    bus.waitUntilEmpty()
    jobs.extend(sorted(set(tracker.getJobIdsForGroup(None)) - before))
