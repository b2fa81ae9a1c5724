"""plans.kernel: the seam every Python kernel in the package goes through.

The wrapper must keep what pyspark reads off a kernel (arity, annotations,
the eval type they give), drop the worker's archive importers so the next
task's ``importlib.invalidate_caches()`` has nothing to re-read, and be
the only way a function reaches ``mapInPandas`` / ``mapInArrow`` /
``applyInPandas`` / ``applyInArrow`` / ``applyInPandasWithState`` in the
package.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import pathlib
import pickle
import sys
import typing
import warnings
import zipfile
import zipimport

import pandas as pd
import pyarrow as pa
import pytest
from pyspark import cloudpickle

from starlight_for_kafka_spark.plans import kernel, local_frame
from starlight_for_kafka_spark.plans.kernels import drop_zip_importers


def _zip_entries() -> int:
    return sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())


def test_drop_keeps_zip_imports_working(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("seam_zip_one.py", "VALUE = 1\n")
        z.writestr("seam_zip_two.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    importlib.invalidate_caches()
    try:
        assert importlib.import_module("seam_zip_one").VALUE == 1
        assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
        drop_zip_importers()
        assert _zip_entries() == 0
        importlib.invalidate_caches()
        assert importlib.import_module("seam_zip_two").VALUE == 2
        drop_zip_importers()
        assert _zip_entries() == 0
    finally:
        for name in ("seam_zip_one", "seam_zip_two"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def _one(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf


def _two(key: typing.Tuple, pdfs: typing.Iterator[pd.DataFrame]) -> typing.Iterator[
    pd.DataFrame
]:
    yield from pdfs


def _three(key, pdfs, state):
    yield from pdfs


@pytest.mark.parametrize(
    "fn, eval_type",
    [(_one, "SQL_GROUPED_MAP_PANDAS_UDF"), (_two, "SQL_GROUPED_MAP_PANDAS_ITER_UDF"),
     (_three, None)],
)
def test_wrapper_keeps_what_pyspark_reads(fn, eval_type):
    from pyspark.sql.pandas.typehints import infer_group_pandas_eval_type_from_func
    from pyspark.util import PythonEvalType

    wrapped = kernel(fn)
    assert inspect.getfullargspec(wrapped) == inspect.getfullargspec(fn)
    assert inspect.signature(wrapped) == inspect.signature(fn)
    assert typing.get_type_hints(wrapped) == typing.get_type_hints(fn)
    if eval_type is not None:
        assert infer_group_pandas_eval_type_from_func(wrapped) == getattr(
            PythonEvalType, eval_type
        )
    # what the worker reads after the closure crosses the wire
    shipped = pickle.loads(cloudpickle.dumps(wrapped))
    assert inspect.getfullargspec(shipped).args == inspect.getfullargspec(fn).args
    frame = pd.DataFrame({"a": [1]})
    if fn is _one:
        out = [shipped(frame)]
    else:
        out = shipped(*[(), iter([frame]), None][: len(inspect.getfullargspec(fn).args)])
    assert [f.equals(frame) for f in out] == [True]


def _table(table):
    return table


def _batches(batches: typing.Iterator[pa.RecordBatch]) -> typing.Iterator[pa.RecordBatch]:
    yield from batches


@pytest.mark.parametrize(
    "fn, eval_type",
    [(_table, "SQL_GROUPED_MAP_ARROW_UDF"), (_batches, "SQL_GROUPED_MAP_ARROW_ITER_UDF")],
)
def test_wrapper_keeps_the_arrow_eval_type(fn, eval_type):
    """applyInArrow reads the same signature: an unannotated kernel stays
    the table form (pyspark's default when it infers nothing), an
    annotated iterator kernel the iterator form, and no warning."""
    from pyspark.sql.pandas.typehints import infer_group_arrow_eval_type_from_func
    from pyspark.util import PythonEvalType

    wrapped = kernel(fn)
    assert inspect.getfullargspec(wrapped) == inspect.getfullargspec(fn)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        inferred = infer_group_arrow_eval_type_from_func(wrapped)
    assert (inferred or PythonEvalType.SQL_GROUPED_MAP_ARROW_UDF) == getattr(
        PythonEvalType, eval_type
    )


def test_kernel_drops_zip_importers_in_the_worker(spark):
    def count(batches):
        import os
        import sys
        import zipimport

        import pandas as pd

        n = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "zips": [n]})

    frame = spark.range(1).coalesce(1)
    runs = [
        frame.mapInPandas(kernel(count), "pid long, zips long").collect()[0]
        for _ in range(2)
    ]
    assert runs[-1].zips == 0, runs


# ---------------------------------------------------------------------------
# every grouped operator builds without an eval-type warning
# ---------------------------------------------------------------------------


def _grouped_builders():
    from starlight_for_kafka_spark.operators import groups
    from starlight_for_kafka_spark.sources import wire
    from starlight_for_kafka_spark.sources.logtable import KAFKA_RECORD_SCHEMA
    from starlight_for_kafka_spark.streaming import stream_ops as so

    membership = "group string, member string, action string, ts timestamp, event_id long"
    txn = "transactional_id string, ts timestamp, event_id long, action string"
    return {
        ("sources/wire.py", "encode_wire_batches"): (
            wire.encode_wire_batches, KAFKA_RECORD_SCHEMA),
        ("operators/groups.py", "encode_group_metadata_records"): (
            groups.encode_group_metadata_records, "group string, member_id string"),
        ("streaming/stream_ops.py", "group_coordinator_stream"): (
            so.group_coordinator_stream, membership),
        ("streaming/stream_ops.py", "group_coordinator_rebalance_stream"): (
            so.group_coordinator_rebalance_stream, membership),
        ("streaming/stream_ops.py", "ema_stream"): (
            so.ema_stream, "key string, ts timestamp, value double"),
        ("streaming/stream_ops.py", "txn_coordinator_stream"): (
            so.txn_coordinator_stream, txn),
        ("streaming/stream_ops.py", "txn_coordinator_timeout_stream"): (
            so.txn_coordinator_timeout_stream, txn),
        ("streaming/stream_ops.py", "offsets_wire_recovery_stream"): (
            so.offsets_wire_recovery_stream, "key binary, value binary, append_ts long"),
    }


def test_grouped_operators_build_without_warnings(spark):
    builders = _grouped_builders()
    assert set(builders) == set(_grouped_call_sites()), (
        "add the new applyInPandas/applyInArrow/applyInPandasWithState operator here"
    )
    for (path, name), (build, schema) in builders.items():
        frame = local_frame(spark, [], schema)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            build(frame)


# ---------------------------------------------------------------------------
# AST guard: no Python kernel reaches Spark around the seam
# ---------------------------------------------------------------------------

_PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "starlight_for_kafka_spark"
_GROUPED = {"applyInPandas", "applyInArrow", "applyInPandasWithState"}
_PYTHON_KERNEL_CALLS = {"mapInPandas", "mapInArrow"} | _GROUPED


def _kernel_calls(source: str):
    """(enclosing function, method, line, passes ``kernel(...)``) for every
    Python-kernel call in ``source``; the function must be the first
    argument, written as a ``kernel(...)`` call."""
    out = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) and scope is None:
                inner = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in _PYTHON_KERNEL_CALLS
            ):
                fn = child.args[0] if child.args else None
                seam = (
                    isinstance(fn, ast.Call)
                    and isinstance(fn.func, ast.Name)
                    and fn.func.id == "kernel"
                )
                out.append((inner, child.func.attr, child.lineno, seam))
            visit(child, inner)

    visit(ast.parse(source), None)
    return out


def _package_kernel_calls():
    return [
        (str(path.relative_to(_PACKAGE)), *call)
        for path in sorted(_PACKAGE.rglob("*.py"))
        for call in _kernel_calls(path.read_text())
    ]


def _grouped_call_sites():
    return {(p, fn) for p, fn, method, _, _ in _package_kernel_calls() if method in _GROUPED}


def test_every_python_kernel_goes_through_the_seam():
    calls = _package_kernel_calls()
    assert len(calls) >= 26
    offenders = [f"{p}:{line} {method}" for p, _, method, line, seam in calls if not seam]
    assert not offenders, f"wrap Python kernels with plans.kernel: {offenders}"


def test_guard_flags_a_bare_kernel():
    for src in (
        "df.mapInPandas(op, schema)",
        "df.mapInArrow(op, schema)",
        "df.groupBy('k').applyInArrow(fold, schema)",
        "df.groupBy('k').applyInPandas(fold, schema)",
        "g.applyInPandasWithState(update, out, st, 'update', 'NoTimeout')",
        "df.mapInPandas(func=kernel(op), schema=s)",
    ):
        assert [c[3] for c in _kernel_calls(src)] == [False], src
    assert [c[3] for c in _kernel_calls("df.mapInPandas(kernel(op, kr), s)")] == [True]
