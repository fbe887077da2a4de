import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbdiff_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # Core count overridable for A/B runs; the default is sized to the
    # suite, not to any assertion — no test depends on the master width
    # (JDBC partition-count tests pin numPartitions in the read options).
    master = os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[4]")
    s = get_spark(
        app_name="dbdiff_spark_tests",
        master=master,
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def job_counter(spark):
    """``with job_counter() as ids:`` — when the block ends, ``ids``
    lists the Spark jobs started inside it: those in a job group set on
    this thread for the block, plus any started with no group (threads
    such as ``io.run_jobs`` workers do not inherit a job group)."""
    import contextlib
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def settle():
        # job records reach the status store through the asynchronous
        # listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()

    @contextlib.contextmanager
    def count():
        settle()
        ungrouped = set(tracker.getJobIdsForGroup(None))
        group = f"job-count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted block")
        ids: list[int] = []
        try:
            yield ids
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            settle()
            ids.extend(sorted(
                set(tracker.getJobIdsForGroup(group))
                | (set(tracker.getJobIdsForGroup(None)) - ungrouped)
            ))

    return count
