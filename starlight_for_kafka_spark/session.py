"""SparkSession factory + testdata loaders.

The driver's synthetic parquet stores timestamps as TIMESTAMP(NANOS), which
Spark's vectorized parquet reader rejects. We read them as raw nanos longs
(``spark.sql.legacy.parquet.nanosAsLong``) and convert with integer division
(``DIV 1000`` — exact; a double divide would lose ~256 ns of precision at
2024-epoch nanos and could flip a microsecond boundary vs DuckDB).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Byte bound on every Arrow batch the engine session ships to a Python
# kernel (``spark.sql.execution.arrow.maxBytesPerBatch``); see get_session.
ARROW_BATCH_BYTES = 8 << 20

# Timestamp-typed (nanos at rest) columns per testdata table.
_NANO_TS_COLS: dict[str, list[str]] = {
    "events": ["ts"],
    "lineitem": ["l_shipdate"],
    "orders": ["o_orderdate"],
}

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def get_session(
    app: str = "starlight_for_kafka_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build the engine session with scale-oriented defaults.

    AQE on (runtime coalesce + skew-join splitting), UTC timezone (oracle
    parity), Arrow enabled (fast Pandas-UDF path). On a real cluster the
    master/shuffle settings come from spark-submit; these defaults target
    local[N] testing.

    Three static settings. The first bounds the memory of the Python
    kernels:

    - ``spark.sql.execution.arrow.maxBytesPerBatch=8 MiB``
      (``ARROW_BATCH_BYTES``): Spark cuts the Arrow batches it sends to a
      ``mapInPandas`` kernel at 10 000 rows by default, whatever their
      size. With multi-KB media payloads a
      10 000-row batch is hundreds of MB of direct memory per core: 166k
      synthetic clips on local[32] failed allocating a ~280 MB Arrow
      buffer against the 8 GB direct-memory limit. With the byte bound a
      batch closes once it reaches 8 MiB, so it holds at most 8 MiB plus
      one row, and only batches that really are large are split (a
      ``perfbench`` ``wire_convert`` pass ships 7.68 MB in all, none of
      it split). Operators write no session conf for this; a plain
      ``SparkSession.builder`` session that runs the media operators over
      large payloads must set the bound itself.

    The other two keep a request's driver work off the per-request
    path (a log request is a small query, so planning is much of its
    wall time):

    - ``spark.sql.codegen.cache.maxEntries=1000``: Spark's generated-code
      cache holds 100 classes by default, and one pass of the broker's
      request mix (``perfbench`` ``log_serve``) needs about 150 distinct
      classes, so the LRU evicted every plan before its next use and each
      request recompiled its whole plan (~10 ms per class on a 4-vCPU
      host): 137 compiles per steady-state pass, 23 with this cache. A
      repeated read-committed request compiles 4 classes instead of 47,
      and a repeat with the same literals compiles none; what still
      compiles comes from per-request literals (partition and offset
      values are inlined into the generated source).
    - ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark wraps
      every ``Column`` method and ``functions.*`` call to record its
      Python call site in the JVM, about 6 extra Py4J round trips per call
      plus a walk of the Python stack. Without it a read-committed request
      (build plus ``toArrow``) makes 313 round trips instead of 873, and
      a tail fetch 41 instead of 121 (``tools/request_probe.py``). What is
      lost is the Python file:line "DataFrame context" in runtime error
      messages (the JVM stack and the failing expression are still
      reported); a caller who wants it builds its own session.

    A plain ``SparkSession.builder`` session keeps Spark's defaults.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32
    # Heap default MEASURED and kept at 8g (round-10 session 2): a
    # 24-28g heap (0.75 GB per local slot, the guide-§5 sizing) looked
    # like a large win in one A/B but did not survive a 5x-paired
    # alternating protocol with per-invocation steal calibration — on
    # the quietest pairs 8g was equal-or-better on every
    # checkpoint-heavy row and the full 3-pass suite read 1.22x WORSE
    # at 24g; the original "win" was hypervisor-steal contamination.
    driver_mem = os.environ.get("SPARK_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # static: see the docstring for the numbers behind all three
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_BATCH_BYTES))
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # testdata timestamps are parquet timestamp[us] with
        # isAdjustedToUTC=false; read them as TIMESTAMP (session TZ is UTC)
        # rather than TIMESTAMP_NTZ so unix_micros()/window() accept them and
        # values match DuckDB's naive epoch_us exactly.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # UI off for tests/bench (startup cost); bench_scale.py turns it on
        # via SPARK_GRAFT_UI to read per-stage shuffle metrics from the
        # REST status API
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", driver_mem)
    )
    return builder.getOrCreate()


def _fix_ts(df: DataFrame, cols: list[str]) -> DataFrame:
    """Normalize a testdata timestamp column to plain TIMESTAMP.

    Handles both generations of the driver's parquet: TIMESTAMP(NANOS) read
    as a raw long (``nanosAsLong``), and timestamp[us] with
    isAdjustedToUTC=false read as TIMESTAMP_NTZ. In a UTC session the NTZ →
    TIMESTAMP cast is value-preserving and matches DuckDB's naive epoch_us.
    """
    for c in cols:
        field = df.schema[c]
        if isinstance(field.dataType, T.LongType):
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing timestamp columns (see _fix_ts).

    Sets ``nanosAsLong`` on the session defensively: the driver hands us an
    arbitrary SparkSession, and without it any read of nanos-timestamp
    testdata throws PARQUET_TYPE_ILLEGAL (runtime-settable conf)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NTZ→TIMESTAMP cast below is only value-preserving in a UTC session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return _fix_ts(df, _NANO_TS_COLS.get(name, []))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (SQL entry point)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def enable_runtime_filters(spark: SparkSession, for_local_test: bool = False) -> None:
    """Turn on runtime bloom-filter join pruning: when a selective dimension
    filter feeds a shuffle join, Spark builds a bloom filter from the dim
    keys and injects it into the fact scan — at 100 TB this prunes the
    probe side before the shuffle, the same effect as the reference's
    cursor-level offset pruning but for key joins.

    With defaults the filter only applies when the probe scan exceeds 10 GB
    (`applicationSideScanSizeThreshold`) and the join is not broadcast —
    exactly the big-cluster shape. ``for_local_test`` drops the thresholds
    so plan tests can pin the injection at toy scale.
    """
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    if for_local_test:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
