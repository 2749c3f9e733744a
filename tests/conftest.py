import itertools
from contextlib import contextmanager

import pytest

from ducklake_kafka_connect_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="ducklake-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


class JobCount:
    """Spark jobs launched inside a ``spark_jobs`` block (set on exit)."""

    n: int = -1


_GROUPS = itertools.count()


@pytest.fixture()
def spark_jobs(spark):
    """``with spark_jobs() as jobs: ...`` then ``jobs.n`` is the number of
    Spark jobs the block launched. The block runs under its own job
    group, counted with ``statusTracker``; the caller's group is
    restored afterwards."""
    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description")

    @contextmanager
    def count():
        group = f"test-jobcount-{next(_GROUPS)}"
        saved = [sc.getLocalProperty(p) for p in props]
        sc.setJobGroup(group, group)
        jobs = JobCount()
        try:
            yield jobs
        finally:
            jobs.n = len(sc.statusTracker().getJobIdsForGroup(group))
            for p, v in zip(props, saved):
                sc.setLocalProperty(p, v)

    return count
