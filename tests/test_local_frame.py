"""plans.local_frame: driver-built frames as Arrow LocalRelations.

The helper must be a drop-in for ``spark.createDataFrame(rows, schema)``
(same schema, nullability included, and the same rows) for every schema
shape the package builds, with the Arrow conf on or off; and no module in
the package may go back to handing ``createDataFrame`` a Python list.
"""

from __future__ import annotations

import ast
import datetime
import pathlib

import pytest

from starlight_for_kafka_spark.plans import local_frame
from starlight_for_kafka_spark.sources.logtable import KAFKA_RECORD_SCHEMA

_UTC = datetime.timezone.utc

CASES = [
    # commitlog / transactions watermark frames
    ("partition int, high_watermark long", [(0, 5), (3, 7)]),
    ("partition int, high_watermark long", []),
    # fetch_multi request list
    ("ridx int, partition int, start_offset long", [(0, 2, 10), (1, 0, 0)]),
    # metrics bucket grid with the +Inf bound
    ("le double", [(0.5,), (1.0,), (float("inf"),)]),
    # similarity query vector and probe cells
    ("v array<float>", [([0.5, 1.25, -2.0],)]),
    ("qid bigint, __cells array<int>", [(1, [4, 2]), (2, [])]),
    # registry rows, including an all-null row
    (
        "subject string, version int, id int, type string, definition string",
        [("s", 1, 1, "AVRO", '{"type": "string"}'), (None, None, None, None, None)],
    ),
    ("engine string, parallelism int, is_controller boolean", [("spark", 4, True)]),
    # nested headers (a non-nullable struct field) and timestamps
    (KAFKA_RECORD_SCHEMA, []),
    (
        KAFKA_RECORD_SCHEMA,
        [
            (
                b"k",
                b"v",
                [("event_type", b"click"), ("trace", None)],
                datetime.datetime(2024, 1, 2, 3, 4, 5, 678000, tzinfo=_UTC),
                3,
                9,
            ),
            (None, None, [], None, 0, 0),
        ],
    ),
]


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_local_frame_equals_list_path(spark, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        for schema, rows in CASES:
            got = local_frame(spark, rows, schema)
            want = spark.createDataFrame(rows, schema)
            assert got.schema == want.schema, schema
            assert got.collect() == want.collect(), schema
            plan = got._jdf.queryExecution().analyzed().toString()
            assert "LocalRelation" in plan, plan
    finally:
        spark.conf.set(key, prev)


def test_local_frame_collect_runs_no_job(spark, jobs_run_by):
    """Collecting a local frame runs no Spark job at all (the list path
    runs one, with a Python worker per task)."""
    rows, schema = [(p, p * 10) for p in range(8)], "p int, n long"
    assert jobs_run_by(lambda: local_frame(spark, rows, schema).collect(), "lf") == 0
    assert jobs_run_by(lambda: spark.createDataFrame(rows, schema).collect(), "list") >= 1


_PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "starlight_for_kafka_spark"
_HELPER = _PACKAGE / "plans" / "local.py"


def _create_dataframe_lines(source: str) -> list[int]:
    """Lines of every ``<x>.createDataFrame(...)`` call in ``source``.
    Outside the helper there is no call at all: the list, list
    comprehension and ``rows or []`` shapes take the pickled-RDD path,
    and a bare name (``merges``, ``HANDLED_APIS``) is a Python list too."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def test_no_create_dataframe_outside_helper():
    offenders = [
        f"{path.relative_to(_PACKAGE)}:{line}"
        for path in sorted(_PACKAGE.rglob("*.py"))
        if path != _HELPER
        for line in _create_dataframe_lines(path.read_text())
    ]
    assert not offenders, (
        "build driver-side frames with plans.local_frame, not "
        f"createDataFrame over Python rows: {offenders}"
    )


def test_guard_flags_the_list_path():
    """The scan above must recognise each forbidden shape."""
    for src in (
        "spark.createDataFrame([(1,)], 'a int')",
        "spark.createDataFrame([(p,) for p in ps], 'a int')",
        "spark.createDataFrame(rows or [], SCHEMA)",
        "df.sparkSession.createDataFrame(data=merges, schema='a int')",
    ):
        assert _create_dataframe_lines(src) == [1], src
    assert _create_dataframe_lines("local_frame(spark, [(1,)], 'a int')") == []
