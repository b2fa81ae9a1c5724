"""Broker metrics as queries over the log.

The reference's performance surface is its Prometheus stats layer
(kafka-impl/.../RequestStats.java, 271 LoC) and the Grafana dashboard
(grafana/dashboard.json): kop_server_BYTES_IN / BYTES_OUT and
MESSAGE_IN / MESSAGE_OUT rates per topic-partition. There, counters are
bumped on the produce/fetch hot path; here the log IS the data, so the
same numbers fall out of one windowed aggregation — and can be computed
retroactively for any time range, which broker-side counters cannot.

Scale: one shuffle on (bucket, partition) with map-side partial
aggregation; bucket cardinality is small (hours × partitions), so the
reduce side is trivially tiny at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from starlight_for_kafka_spark.plans.local import local_frame


def throughput_metrics(log: DataFrame, bucket: str = "hour") -> DataFrame:
    """BYTES_IN / MESSAGE_IN per (time bucket, partition) — the reference's
    rate counters (RequestStats.java; dashboard exprs
    ``rate(kop_server_BYTES_IN...)``) recomputed from the log itself.

    ``bytes_in`` counts key+value payload octets, matching what the broker
    meters on produce; ``avg_record_bytes`` is the derived per-record cost
    the dashboard plots as BYTES_IN/MESSAGE_IN.
    """
    from starlight_for_kafka_spark.sources.logtable import record_size

    size = record_size()
    return (
        log.groupBy(
            F.date_trunc(bucket, "timestamp").alias("bucket"),
            "partition",
        )
        .agg(
            F.count("*").alias("messages_in"),
            F.sum(size.cast("long")).alias("bytes_in"),
        )
        .withColumn(
            "avg_record_bytes",
            (F.col("bytes_in") / F.col("messages_in")).cast("double"),
        )
    )


def _bounds(buckets: list[float]) -> list[float]:
    """Normalized bucket bounds: deduplicated and sorted (a duplicate
    bound would mint duplicate grid rows whose counts double under the
    cumulative sum), non-empty enforced."""
    bs = sorted({float(b) for b in buckets})
    if not bs:
        raise ValueError("at least one bucket bound is required")
    return bs


def bucket_le(value_col: str, buckets: list[float]):
    """Prometheus le-bucket assignment (smallest configured bound >= v,
    else +Inf) — ONE definition shared by the batch histogram and the
    streaming twin so their bucket grids can never diverge. NULL values
    fall through to +Inf; callers that treat NULL as not-an-observation
    (prom_histogram does) must filter first."""
    bs = _bounds(buckets)
    v = F.col(value_col).cast("double")
    le = F.when(v <= bs[0], F.lit(bs[0]))
    for b in bs[1:]:
        le = le.when(v <= b, F.lit(b))
    return le.otherwise(F.lit(float("inf")))


def prom_histogram(
    df: DataFrame,
    value_col: str,
    buckets: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Prometheus-model cumulative histogram: one row per (group, le)
    with the CUMULATIVE observation count — exactly the export shape the
    reference's stats layer feeds Grafana (RequestStats.java latency
    stats -> kop_server_..._REQUEST_LATENCY buckets; the dashboard reads
    them with histogram_quantile()). A ``le = +Inf`` row closes every
    series, and every configured bucket appears even when empty (the
    densified grid is what makes histograms MERGEABLE: shard/window
    histograms sum bucket-wise, then quantiles interpolate once).

    Scale: one map-side bucket assignment (a when-chain, codegen'd), one
    partial-combining (group, le) aggregation, then a cumulative sum over
    the TINY densified grid (groups x |buckets|+1 rows — the window input
    is post-aggregation, so no data-sized window partition exists).

    NULL observations and NULL group keys are dropped (a NULL observed
    nothing, and a NULL group would silently miss the null-unsafe grid
    join) — the same not-an-element rule the sketch operators pin.
    """
    group_cols = group_cols or []
    bs = _bounds(buckets)
    le = bucket_le(value_col, bs)

    clean = df.filter(F.col(value_col).isNotNull())
    for g in group_cols:
        clean = clean.filter(F.col(g).isNotNull())
    df = clean
    counts = df.groupBy(*group_cols, le.alias("le")).agg(
        F.count("*").alias("__n")
    )
    # group enumeration from the tiny COUNTS aggregate, not the raw
    # observations — the distinct over post-aggregation rows (groups x
    # buckets) is equivalent by construction and skips a second full
    # data-sized scan (same shape cumulative_from_sparse uses)
    grid = (
        (
            counts.select(*group_cols).distinct()
            if group_cols
            else df.limit(1).select()
        )
        .crossJoin(
            local_frame(
                df.sparkSession, [(b,) for b in bs + [float("inf")]], "le double"
            )
        )
    )
    dense = grid.join(counts, [*group_cols, "le"], "left").select(
        *group_cols, "le", F.coalesce("__n", F.lit(0).cast("long")).alias("__n")
    )
    parts = [F.col(c) for c in group_cols] or [F.lit(0)]
    w = (
        Window.partitionBy(*parts).orderBy("le")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.select(*group_cols, "le", F.sum("__n").over(w).alias("cum"))


def cumulative_from_sparse(
    counts: DataFrame,
    buckets: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Densify a SPARSE per-bucket count table — (group..., le, n) rows
    with empty buckets absent, the shape streaming sketch maintenance
    and shard merges emit — into the full cumulative grid
    :func:`histogram_quantile` requires. Feeding sparse counts to the
    quantile directly is WRONG: its lag(le) interpolation would take the
    previous PRESENT bucket as the lower bound (stretching across empty
    buckets), and an all-+Inf group would lose its finite-bound clamp.

    Same grid/cumsum shape as prom_histogram's tail: tiny, post-
    aggregation, mergeable input (sum sparse counts bucket-wise across
    shards/windows first, then densify once).
    """
    group_cols = group_cols or []
    bs = _bounds(buckets)
    grid = (
        (
            counts.select(*group_cols).distinct()
            if group_cols
            else counts.limit(1).select()
        ).crossJoin(
            local_frame(
                counts.sparkSession,
                [(b,) for b in bs + [float("inf")]],
                "le double",
            )
        )
    )
    dense = grid.join(counts, [*group_cols, "le"], "left").select(
        *group_cols, "le", F.coalesce("n", F.lit(0).cast("long")).alias("__n")
    )
    parts = [F.col(c) for c in group_cols] or [F.lit(0)]
    w = (
        Window.partitionBy(*parts)
        .orderBy("le")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.select(*group_cols, "le", F.sum("__n").over(w).alias("cum"))


def histogram_quantile(
    hist: DataFrame,
    qs: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Prometheus ``histogram_quantile()`` over :func:`prom_histogram`
    output: rank q*N lands in the first bucket whose cumulative count
    reaches it; the estimate interpolates linearly inside that bucket
    (lower bound = previous le, 0 for the first bucket). A rank landing
    in the +Inf bucket clamps to the highest finite bound — the same
    convention Prometheus uses. ``qs`` must be strictly positive (q=0 is
    meaningless under this model and would divide by an empty bucket).

    Emits (group..., q, value). Every step runs on the tiny bucket grid;
    the observations never re-enter the plan.
    """
    if any(q <= 0 or q > 1 for q in qs):
        raise ValueError("quantiles must be in (0, 1]")
    group_cols = group_cols or []
    # constant partition key for the ungrouped case: the grid is tiny by
    # construction, but an empty partitionBy still logs a WindowExec
    # single-partition warning on every run
    parts = [F.col(c) for c in group_cols] or [F.lit(0)]
    w = Window.partitionBy(*parts).orderBy("le")
    finite_max = F.max(
        F.when(F.col("le") != float("inf"), F.col("le"))
    ).over(Window.partitionBy(*parts))
    h = (
        hist.withColumn("__prev_cum", F.coalesce(F.lag("cum").over(w), F.lit(0).cast("long")))
        .withColumn("__prev_le", F.lag("le").over(w))
        .withColumn("__total", F.max("cum").over(Window.partitionBy(*parts)))
        .withColumn("__fmax", finite_max)
        .filter(F.col("__total") > 0)
    )
    probes = h.crossJoin(
        local_frame(hist.sparkSession, [(float(q),) for q in qs], "q double")
    ).withColumn("__target", F.col("q") * F.col("__total"))
    chosen = (
        probes.filter(F.col("cum") >= F.col("__target"))
        .groupBy(*group_cols, "q")
        .agg(
            F.min(
                F.struct("le", "__prev_le", "__prev_cum", "cum", "__target", "__fmax")
            ).alias("__b")
        )
        .select(*group_cols, "q", "__b.*")
    )
    # Prometheus's lowest-bucket rule: the FIRST bucket (null lag — a
    # default of 0.0 would be indistinguishable from a real 0.0 bound)
    # interpolates from an assumed lower bound of 0 only when its upper
    # bound is positive; a non-positive lowest bound returns the bound
    # itself (interpolating from 0 would land ABOVE the bucket for
    # negative-bound histograms). Interior buckets anchor at the real
    # previous bound as before.
    first = F.col("__prev_le").isNull()
    anchor = F.coalesce(F.col("__prev_le"), F.lit(0.0))
    value = (
        F.when(F.col("le") == float("inf"), F.col("__fmax"))
        .when(first & (F.col("le") <= 0), F.col("le"))
        .otherwise(
            anchor
            + (F.col("le") - anchor)
            * (F.col("__target") - F.col("__prev_cum"))
            / (F.col("cum") - F.col("__prev_cum"))
        )
    )
    return chosen.select(*group_cols, "q", F.round(value, 6).alias("value"))
