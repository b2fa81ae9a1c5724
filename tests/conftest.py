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


@pytest.fixture
def codegen_compiles_by(spark):
    """``codegen_compiles_by(fn)``: the number of classes Spark's code
    generator compiles while ``fn()`` runs (the JVM-wide
    ``CodegenMetrics`` compile-time histogram count), so a test run
    alone on its session reads exactly its own compiles."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def count(fn):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        fn()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    return count


@pytest.fixture
def py4j_calls_by():
    """``py4j_calls_by(fn)``: the number of Py4J commands (driver ->
    JVM round trips) ``fn()`` sends. Releases of garbage-collected
    Python proxies are not counted: py4j's finalizer thread sends them
    whenever Python's collector happens to run."""
    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

    def count(fn):
        real = ClientServerConnection.send_command
        calls = [0]

        def send(self, command):
            calls[0] += not command.startswith(release)
            return real(self, command)

        ClientServerConnection.send_command = send
        try:
            fn()
        finally:
            ClientServerConnection.send_command = real
        return calls[0]

    return count
