"""Topic and config DDL on the Spark catalog.

Reference: CREATE_TOPICS / DELETE_TOPICS / CREATE_PARTITIONS via Pulsar
admin (KafkaRequestHandler.java:2188, 2791, 2910; AdminManager.java:90,
261, 312) and DESCRIBE_CONFIGS / ALTER_CONFIGS
(KafkaRequestHandler.java:2300, 2272; AdminManager.describeConfigsAsync:175).

Spark-first: a topic IS a catalog table with the Kafka record schema;
topic configs ARE table properties. The DDL surface maps 1:1 onto Spark
SQL DDL, so topics created here are visible to every SQL query and any
catalog implementation (in-memory for tests, Hive/Glue/Unity in
production) without engine code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from starlight_for_kafka_spark.plans.local import local_frame
from starlight_for_kafka_spark.sources.logtable import KAFKA_RECORD_SCHEMA

_DDL_COLUMNS = ", ".join(
    f"`{f.name}` {f.dataType.simpleString()}" for f in KAFKA_RECORD_SCHEMA.fields
)


def _q(name: str) -> str:
    return "`" + name.replace("`", "") + "`"


def create_topic(
    spark: SparkSession,
    name: str,
    num_partitions: int = 1,
    configs: dict[str, str] | None = None,
    location: str | None = None,
) -> None:
    """CREATE_TOPICS: a parquet table with the log schema, partitioned by
    the Kafka partition column; num.partitions and configs live as table
    properties (the broker's topic-level config map)."""
    props = {"kafka.num.partitions": str(num_partitions), **(configs or {})}
    props_sql = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
    loc_sql = f" LOCATION '{location}'" if location else ""
    spark.sql(
        f"CREATE TABLE {_q(name)} ({_DDL_COLUMNS}) USING parquet "
        f"PARTITIONED BY (partition){loc_sql} TBLPROPERTIES ({props_sql})"
    )


def delete_topic(spark: SparkSession, name: str) -> None:
    """DELETE_TOPICS."""
    spark.sql(f"DROP TABLE IF EXISTS {_q(name)}")


def list_topics(spark: SparkSession) -> list[str]:
    """METADATA topic listing."""
    return [t.name for t in spark.catalog.listTables()]


def describe_configs(spark: SparkSession, name: str) -> dict[str, str]:
    """DESCRIBE_CONFIGS: table properties back as the config map."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {_q(name)}").collect()
    return {r.key: r.value for r in rows}


def alter_configs(spark: SparkSession, name: str, configs: dict[str, str]) -> None:
    """ALTER_CONFIGS (incremental set — the v1 semantics the reference
    implements)."""
    props_sql = ", ".join(f"'{k}'='{v}'" for k, v in configs.items())
    spark.sql(f"ALTER TABLE {_q(name)} SET TBLPROPERTIES ({props_sql})")


def create_partitions(spark: SparkSession, name: str, new_count: int) -> None:
    """CREATE_PARTITIONS: partition count is metadata here (the routing
    function's modulus); raising it never rewrites data, matching the
    reference where partitions are Pulsar metadata (AdminManager.java:312).
    Decreasing is rejected exactly as Kafka rejects it."""
    current = int(describe_configs(spark, name).get("kafka.num.partitions", "1"))
    if new_count <= current:
        raise ValueError(
            f"topic {name}: partition count can only grow ({current} -> {new_count})"
        )
    alter_configs(spark, name, {"kafka.num.partitions": str(new_count)})


def append_records(spark: SparkSession, name: str, records: DataFrame) -> None:
    """PRODUCE into a catalog topic (records must carry log-schema columns;
    dense offsets are assigned by LogTable.append before this write).

    insertInto is POSITION-based and a partitioned table stores the
    partition column last — project it last or offsets silently land in
    the partition column."""
    cols = [f.name for f in KAFKA_RECORD_SCHEMA.fields if f.name != "partition"]
    records.select(*cols, "partition").write.mode("append").insertInto(name)


def read_topic(spark: SparkSession, name: str) -> DataFrame:
    """FETCH source: the table as a DataFrame (partition-pruned scans on
    the partition column come free from the catalog)."""
    return spark.table(name)


def describe_cluster(spark: SparkSession) -> DataFrame:
    """DESCRIBE_CLUSTER (KafkaRequestHandler.java:2415-2438): broker list +
    controller. A single Spark engine has one "broker" — the driver — with
    its parallelism standing in for the broker count's capacity figure."""
    sc = spark.sparkContext
    return local_frame(
        spark,
        [
            (
                "spark",
                sc.master,
                sc.applicationId,
                spark.version,
                sc.defaultParallelism,
                True,
            )
        ],
        "engine string, master string, cluster_id string, version string, "
        "parallelism int, is_controller boolean",
    )


def read_topics(spark: SparkSession, names: list[str]) -> DataFrame:
    """Multi-topic FETCH — ``consumer.subscribe([topics...])``: one
    DataFrame over several topic tables with a ``topic`` discriminator
    column, exactly the (topic, partition, offset)-keyed shape a Kafka
    consumer polls. Spark-first this is a union of independent scans —
    each topic's files stay separately partition-pruned and predicates on
    ``topic`` prune entire subtrees at plan time (a filter
    ``topic = 'x'`` collapses the union to one scan), so subscribing to
    100 topics and reading one costs one.
    """
    out = None
    for name in names:
        t = read_topic(spark, name).withColumn("topic", F.lit(name))
        out = t if out is None else out.unionByName(t)
    if out is None:
        raise ValueError("read_topics needs at least one topic")
    return out


def subscribe_pattern(spark: SparkSession, pattern: str) -> DataFrame:
    """``consumer.subscribe(Pattern)`` — regex topic subscription
    (KafkaConsumer's pattern mode; the reference resolves it in METADATA
    topic discovery, KafkaRequestHandler.java:757-811): match the pattern
    against the catalog listing, then read the matching set. Topic
    discovery is a control-plane catalog call; the data plane is
    :func:`read_topics`' pruned union.
    """
    import re

    rx = re.compile(pattern)
    names = [t for t in list_topics(spark) if rx.fullmatch(t)]
    if not names:
        raise ValueError(f"no topics match pattern {pattern!r}")
    return read_topics(spark, sorted(names))


# The reference's request dispatch table (KafkaCommandDecoder.java:282-385):
# every Kafka API key it serves, by wire id. Keys absent here fall to the
# decoder's `default: handleError` arm. The two SASL keys are dispatched to
# the security layer (transport, declared out of scope) but ARE part of the
# served set a client discovers.
HANDLED_APIS: list[tuple[int, str]] = [
    (0, "PRODUCE"),
    (1, "FETCH"),
    (2, "LIST_OFFSETS"),
    (3, "METADATA"),
    (8, "OFFSET_COMMIT"),
    (9, "OFFSET_FETCH"),
    (10, "FIND_COORDINATOR"),
    (11, "JOIN_GROUP"),
    (12, "HEARTBEAT"),
    (13, "LEAVE_GROUP"),
    (14, "SYNC_GROUP"),
    (15, "DESCRIBE_GROUPS"),
    (16, "LIST_GROUPS"),
    (17, "SASL_HANDSHAKE"),
    (18, "API_VERSIONS"),
    (19, "CREATE_TOPICS"),
    (20, "DELETE_TOPICS"),
    (21, "DELETE_RECORDS"),
    (22, "INIT_PRODUCER_ID"),
    (24, "ADD_PARTITIONS_TO_TXN"),
    (25, "ADD_OFFSETS_TO_TXN"),
    (26, "END_TXN"),
    (27, "WRITE_TXN_MARKERS"),
    (28, "TXN_OFFSET_COMMIT"),
    (32, "DESCRIBE_CONFIGS"),
    (33, "ALTER_CONFIGS"),
    (36, "SASL_AUTHENTICATE"),
    (37, "CREATE_PARTITIONS"),
    (42, "DELETE_GROUPS"),
    (60, "DESCRIBE_CLUSTER"),
    (61, "DESCRIBE_PRODUCERS"),
    (65, "DESCRIBE_TRANSACTIONS"),
    (66, "LIST_TRANSACTIONS"),
]

# API_VERSIONS' own supported request-version range: the explicit gate at
# KafkaRequestHandler.handleApiVersionsRequest (:495-506) answers
# UNSUPPORTED_VERSION (table still attached) when the REQUEST's version is
# outside ApiKeys.API_VERSIONS.isVersionSupported — 0..3 in the Kafka 3.4
# client line the reference builds against.
API_VERSIONS_RANGE = (0, 3)


def api_versions(requests: DataFrame) -> DataFrame:
    """API_VERSIONS / dispatch gating semantics over a DataFrame of client
    requests (``correlation_id``, ``api_key``, ``api_version``): which
    requests the broker would serve, and with what error.

    Mirrors the reference exactly (KafkaCommandDecoder.java:282-385 +
    KafkaRequestHandler.java:495-527): a key outside the dispatch table
    falls to ``handleError`` → UNSUPPORTED_VERSION; an API_VERSIONS
    request whose OWN version is outside 0..3 gets UNSUPPORTED_VERSION
    with the version table still attached; everything else dispatches.
    The advertised per-key version RANGES come from the embedded Kafka
    client library (``ApiKeys.values()``), not from reference code — the
    reference's own semantic contributions, mirrored here, are the served
    set and the LIST_OFFSETS min-version-0 override (librdkafka compat,
    :517); see :data:`HANDLED_APIS`.

    Scale shape: the 33-row spec table broadcast-joins the request
    stream; pure map otherwise.

    Emits (correlation_id, api_key, api_name, handled, error_code).
    """
    spark = requests.sparkSession
    spec = local_frame(spark, HANDLED_APIS, "api_key int, api_name string")
    lo, hi = API_VERSIONS_RANGE
    out = requests.join(F.broadcast(spec), "api_key", "left")
    return out.select(
        "correlation_id",
        "api_key",
        "api_name",
        F.col("api_name").isNotNull().alias("handled"),
        F.when(F.col("api_name").isNull(), F.lit("UNSUPPORTED_VERSION"))
        .when(
            (F.col("api_key") == 18)
            & ((F.col("api_version") < lo) | (F.col("api_version") > hi)),
            F.lit("UNSUPPORTED_VERSION"),
        )
        .otherwise(F.lit("NONE"))
        .alias("error_code"),
    )
