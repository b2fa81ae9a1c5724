"""The engine session keeps a request's driver work off the request path:
a generated-code cache that holds more plans than one pass of requests
compiles, and no per-call Python call-site capture (``get_session``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from starlight_for_kafka_spark.operators import transactions


def _read_committed(log, partition, lo):
    return transactions.read_committed(transactions.derive_txn_log(log.df)).filter(
        (F.col("partition") == partition) & (F.col("offset") >= lo)
    )


def test_repeated_request_compiles_nothing_after_other_plans(
    spark, log, codegen_compiles_by
):
    """A request-shaped query run again with the same literals reuses its
    generated classes, even after more distinct classes than Spark's
    default cache holds (100) were compiled in between: with the default
    cache the repeat recompiles its whole plan."""
    assert codegen_compiles_by(lambda: _read_committed(log, 3, 5).toArrow()) > 0

    def fillers():
        # distinct literals give distinct generated source; toRdd plans
        # and compiles without running a job
        for i in range(130):
            spark.range(4).selectExpr(f"id * {i} + {7 * i + 1} AS v")._jdf.queryExecution().toRdd()

    assert codegen_compiles_by(fillers) > 100
    assert codegen_compiles_by(lambda: _read_committed(log, 3, 5).toArrow()) == 0


def test_fetch_round_trips_within_budget(log, py4j_calls_by):
    """Building and fetching a bounded fetch stays within its Py4J
    round-trip budget: Column methods and ``functions.*`` calls do not
    each record their Python call site in the JVM (about 6 extra round
    trips per call). With call-site capture on, this fetch makes about
    120 round trips."""
    from pyspark.errors.utils import is_debugging_enabled

    calls = py4j_calls_by(lambda: log.fetch(3, 10, max_records=100).toArrow())
    assert calls <= 72, calls
    assert is_debugging_enabled() is False
