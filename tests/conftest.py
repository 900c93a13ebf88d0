from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from octospark.session import get_spark

    s = get_spark(app_name="octospark-tests", master="local[4]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def pages(spark, sf_dir):
    from octospark.sources import build_pages

    df = build_pages(spark, sf_dir).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn, *args, **kwargs) -> (result, jobs)``: the number
    of Spark jobs ``fn(*args, **kwargs)`` ran, read from the status
    tracker under a job group of its own. With AQE each shuffle stage
    is a job of its own, so one aggregate collected is two jobs."""
    import itertools

    sc = spark.sparkContext
    calls = itertools.count()

    def count(fn, *args, **kwargs):
        group = f"count-jobs-{next(calls)}"
        sc.setJobGroup(group, group)
        try:
            result = fn(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the tracker is fed by the listener bus; drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    return count
