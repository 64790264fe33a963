import itertools

import pytest

from sedona_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sedona_spark_tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


_groups = itertools.count()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a job group of its own and
    returns ``(fn(), number of Spark jobs it ran)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs-{next(_groups)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job-start events reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
