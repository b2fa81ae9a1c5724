"""Physical-plan inspection utilities (see inspect.py)."""

from starlight_for_kafka_spark.plans.kernels import kernel  # noqa: F401
from starlight_for_kafka_spark.plans.local import local_frame  # noqa: F401
from starlight_for_kafka_spark.plans.spread import (  # noqa: F401
    spread_if_narrow,
)
from starlight_for_kafka_spark.plans.inspect import (  # noqa: F401
    broadcast_join_count,
    codegen_stage_count,
    exchange_count,
    has_broadcast_join,
    partition_filters,
    plan_string,
    pushed_filters,
    scan_read_columns,
    without_aqe,
)
