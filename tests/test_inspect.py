"""plans.inspect.plan_shape: node counts of a formatted plan, each node
once."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from starlight_for_kafka_spark.plans.inspect import (
    broadcast_join_count,
    exchange_count,
    plan_shape,
    plan_string,
)


def test_plan_shape_counts_each_node_once(spark):
    """A formatted plan names every node twice (tree row and detail
    header); plan_shape counts each once, agrees with exchange_count and
    broadcast_join_count before and after execution, and counts the
    BroadcastExchange apart from the shuffle exchanges."""
    facts = spark.range(200).withColumn("k", F.col("id") % 10)
    dims = spark.range(10).withColumnRenamed("id", "k")
    df = (
        facts.groupBy("k").agg(F.count("*").alias("n"))
        .join(F.broadcast(dims), "k")
        .withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("n")))
        .orderBy("n")
    )
    for run in (False, True):
        if run:
            df.collect()
        shape = plan_shape(plan_string(df))
        assert shape["exchanges"] == exchange_count(df) == 2
        assert shape["broadcast_hash_joins"] == broadcast_join_count(df) == 1
        assert shape["broadcast_exchanges"] == 1
        assert shape["window_nodes"] == 1 and shape["aqe"]
        assert shape["sort_merge_joins"] == 0
