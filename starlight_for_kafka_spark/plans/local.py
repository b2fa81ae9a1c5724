"""Driver-side control-plane frames as Arrow ``LocalRelation`` s.

``spark.createDataFrame(list_of_tuples, schema)`` ships the rows as a
pickled Python RDD: every job that reads the frame launches Python-worker
tasks to do microseconds of work. Such a task used to start by re-reading
``pyspark.zip`` once per cached zipimporter entry (pyspark's
``setup_spark_files`` calls ``importlib.invalidate_caches()``: 0.11-0.17 s
per task on a 4-vCPU host); since :func:`plans.kernel` drops those entries
inside the worker, a reused worker pays that rebuild once per process, not
per task. The task itself (worker round-trip, closure and rows pickled)
remains. The same rows handed over as a ``pyarrow.Table`` become a
``LocalRelation`` in the JVM: no RDD and no Python task at all; collecting
it runs no job, and broadcasting it is a JVM-only scan. This holds
whatever ``spark.sql.execution.arrow.pyspark.enabled`` is set to.

Every small driver-built frame in this package (watermark maps, request
lists, bucket grids, lookup tables, registry rows) goes through
:func:`local_frame`; ``tests/test_local_frame.py`` keeps the list path from
coming back.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: StructType | str,
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as an Arrow-backed
    ``LocalRelation``: same schema (nullability included) and rows, no
    Python-worker RDD. ``rows`` are positional tuples (``Row`` s work);
    ``schema`` is a ``StructType`` or a DDL string."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)
