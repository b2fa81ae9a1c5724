"""The engine session (``get_session``) bounds every Arrow batch a Python
kernel receives by bytes, so no operator writes a session conf, and keeps
a request's driver work off the request path: a generated-code cache that
holds more plans than one pass of requests compiles, and no per-call
Python call-site capture."""

from __future__ import annotations

import ast
import pathlib

import pandas as pd
from pyspark.sql import functions as F

from starlight_for_kafka_spark import operators
from starlight_for_kafka_spark.operators import multimodal as mm
from starlight_for_kafka_spark.operators import transactions
from starlight_for_kafka_spark.plans import kernel
from starlight_for_kafka_spark.session import ARROW_BATCH_BYTES

_ARROW = "spark.sql.execution.arrow."


def test_kernel_input_batches_are_cut_by_bytes(spark):
    """600 rows of 44 KB payload in one partition (27 MB, far below the
    10 000-row default) reach a Python kernel in several batches, none
    larger than the byte bound plus one row."""
    row = 45056

    def sizes(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {"rows": [len(pdf)], "bytes": [int(pdf["payload"].map(len).sum())]}
            )

    frame = spark.range(0, 600, 1, 1).select(
        F.expr(f"unhex(repeat('ab', {row}))").alias("payload")
    )
    got = frame.mapInPandas(kernel(sizes), "rows long, bytes long").collect()
    assert sum(r.rows for r in got) == 600
    assert len(got) > 1, got
    assert max(r.bytes for r in got) <= ARROW_BATCH_BYTES + row, got


def test_synthesized_payload_batches_stay_within_the_bound(spark, monkeypatch):
    """``synthesize_media`` turns bare ids, which no byte bound splits,
    into payloads; its kernel cuts its own output at the same bound.
    400 audio ids (40-100 KB WAV each, 28 MB) come back in several
    frames, none larger than the bound plus one payload."""
    shipped = []
    monkeypatch.setattr(
        mm, "kernel", lambda fn, *mods: shipped.append(fn) or kernel(fn, *mods)
    )
    mm.synthesize_media(spark.range(1).withColumnRenamed("id", "doc_id"))
    ids = pd.DataFrame({"media_id": range(1, 3 * 400, 3)})  # id % 3 == 1: audio
    out = list(shipped[0](iter([ids])))
    assert sum(map(len, out)) == 400
    assert len(out) > 1
    # each frame reaches the bound only with its last payload
    assert max(int(f["payload"].iloc[:-1].map(len).sum()) for f in out) < ARROW_BATCH_BYTES


def test_payload_operators_leave_arrow_confs_as_they_were(spark):
    """Building and running each of the eight payload operators changes
    no ``spark.sql.execution.arrow.*`` conf. A child session starts from
    the confs the session was created with, so a conf an earlier test
    left behind cannot hide a write here."""
    session = spark.newSession()

    def arrow_confs():
        return {k: v for k, v in session.conf.getAll.items() if k.startswith(_ARROW)}

    before = arrow_confs()
    assert before[_ARROW + "maxBytesPerBatch"] == str(ARROW_BATCH_BYTES)
    media = mm.synthesize_media(session.range(12).withColumnRenamed("id", "doc_id"))
    for out in (
        media,
        mm.extract_features(media),
        mm.resize_images(media, 6, 4),
        mm.frame_features(media),
        mm.chunk_features(media),
        mm.patchify_images(media),
        mm.audio_periodicity(media),
        mm.video_motion_profile(media),
    ):
        assert out.collect()
    assert arrow_confs() == before


def _conf_writes(source: str) -> list[int]:
    """Lines of ``<x>.conf.set`` / ``conf.unset`` calls in ``source``."""

    def is_conf(node):
        return (isinstance(node, ast.Name) and node.id == "conf") or (
            isinstance(node, ast.Attribute) and node.attr == "conf"
        )

    return sorted(
        n.lineno
        for n in ast.walk(ast.parse(source))
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("set", "unset")
        and is_conf(n.func.value)
    )


def test_operators_write_no_session_conf():
    """A session conf an operator writes outlives its query and changes
    every later query of the session; the session factory owns them."""
    package = pathlib.Path(operators.__file__).parent
    offenders = [
        f"{path.name}:{line}"
        for path in sorted(package.rglob("*.py"))
        for line in _conf_writes(path.read_text())
    ]
    assert not offenders
    snippet = "spark.conf.set('k', '1')\nconf = df.sparkSession.conf\nconf.unset('k')\n"
    assert _conf_writes(snippet) == [1, 3]


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
