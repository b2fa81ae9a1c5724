from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small + fast for unit tests

from starlight_for_kafka_spark import get_session, load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_session(app="starlight-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def events(spark):
    return load_table(spark, SF_DIR, "events").cache()


@pytest.fixture(scope="session")
def documents(spark):
    return load_table(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="session")
def embeddings(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="session")
def log(events):
    from starlight_for_kafka_spark.sources import LogTable

    lt = LogTable.from_events(events)
    lt.df = lt.df.cache()
    return lt


@pytest.fixture
def jobs_run_by(spark):
    """``jobs_run_by(fn, group)``: the number of Spark jobs ``fn()``
    launches, counted through a job group; the caller's job-group
    properties are restored afterwards."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

    def count(fn, group):
        saved = {k: sc.getLocalProperty(k) for k in keys}
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            for k, v in saved.items():
                sc.setLocalProperty(k, v)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
