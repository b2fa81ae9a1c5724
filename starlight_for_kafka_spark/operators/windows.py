"""Keyed / windowed / session aggregation — the Kafka Streams workloads the
reference proves it supports (tests/.../streams/KStreamAggregationTest.java):

  * groupBy(selector).reduce / .aggregate / .count   (:117-140, :242-287, :395)
  * tumbling-window reduce/aggregate/count           (:178-179, :283-287, :421)
  * session windows (inactivity gap + grace) count/reduce (:450-621)

Batch forms here; streaming forms (withWatermark + window/session_window)
in streaming/stream_ops.py. All are built-in Spark aggregations — one
shuffle on the grouping key, map-side partial aggregation, whole-stage
codegen; nothing custom needed at 100 TB beyond key-skew handling (AQE).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def keyed_count(df: DataFrame, *keys: str | Column) -> DataFrame:
    """KGroupedStream.count (KStreamAggregationTest.java:395-421)."""
    return df.groupBy(*keys).agg(F.count("*").alias("cnt"))


def keyed_reduce(df: DataFrame, keys: list, reduce_exprs: list[Column]) -> DataFrame:
    """KGroupedStream.reduce — an associative combine per key
    (KStreamAggregationTest.java:117-140). Reduce = any associative agg;
    callers pass e.g. sum/min/max/concat-in-order columns."""
    return df.groupBy(*keys).agg(*reduce_exprs)


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: list,
    aggs: list[Column],
    emit_epoch_ms: bool = True,
) -> DataFrame:
    """Tumbling-window aggregate. ``emit_epoch_ms`` projects window start/end
    as epoch millis (stable across engines for oracle comparison)."""
    grouped = df.groupBy(F.window(F.col(ts_col), duration).alias("win"), *keys)
    out = grouped.agg(*aggs)
    if emit_epoch_ms:
        # integer DIV, not /: double division of epoch micros is inexact
        out = out.withColumn(
            "window_start_ms", F.expr("unix_micros(win.start) DIV 1000")
        ).withColumn("window_end_ms", F.expr("unix_micros(win.end) DIV 1000"))
    return out.drop("win")


def session_windows_batch(
    df: DataFrame, key_cols: list[str], ts_col: str, gap_ms: int
) -> DataFrame:
    """Batch sessionization with inactivity gap (SessionWindows.with,
    reference test :450-548): a new session starts when the gap to the
    previous event of the same key exceeds ``gap_ms``.

    Implemented as lag + running sum of boundary flags — one shuffle on the
    key, no UDF. Equivalent to streaming ``session_window`` final results
    (streaming form in streaming/stream_ops.py; grace periods map to
    ``withWatermark``). Assigns a per-(key, session) ``session_id``.
    """
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    ts_ms = F.expr(f"unix_micros({ts_col}) DIV 1000")
    prev_ms = F.lag(ts_ms).over(w)
    new_session = F.when(
        prev_ms.isNull() | ((ts_ms - prev_ms) > gap_ms), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn("__boundary", new_session).withColumn(
        "session_id",
        F.sum("__boundary").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).drop("__boundary")


def session_window_agg(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap_ms: int,
    aggs: list[Column],
) -> DataFrame:
    """Session-window aggregate: sessionize, then aggregate per (key,
    session) adding the session bounds (start/end epoch ms) — mirrors the
    Windowed<K> result keys of shouldCountSessionWindows (reference test
    :450-548)."""
    ses = session_windows_batch(df, key_cols, ts_col, gap_ms)
    ts_ms = F.expr(f"unix_micros({ts_col}) DIV 1000")
    return ses.groupBy(*key_cols, "session_id").agg(
        F.min(ts_ms).alias("session_start_ms"),
        F.max(ts_ms).alias("session_end_ms"),
        *aggs,
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    before_ms: int = 0,
    after_ms: int = 0,
    how: str = "inner",
) -> DataFrame:
    """Windowed stream-stream join (KStream.join with JoinWindows): pair each
    left record with right records of the same key whose timestamp lies in
    ``[left_ts - before_ms, left_ts + after_ms]``.

    The reference's Streams suite exercises stream-table joins only
    (GlobalKTableTest.java); this is the KStream⋈KStream sibling, included
    because event-to-event correlation (click↔view, request↔error) is a core
    log workload. Non-key columns must be disjointly named across sides —
    same discipline Kafka Streams forces via the ValueJoiner.

    Scale: an equi-join on ``keys`` — one hash shuffle per side, the time
    bound applied as a join residual, so Catalyst plans it exactly like any
    keyed join (broadcast if a side is small, AQE skew-split otherwise).
    The streaming form (streaming/stream_ops.stream_stream_join) adds
    watermarks so state stays bounded by before+after+watermark.
    """
    if how not in ("inner", "left", "left_outer"):
        # right/full would surface unmatched right rows with NULL keys
        # (their real key lives in the dropped right-side key columns) —
        # refuse rather than silently destroy keys; Kafka Streams'
        # KStream-KStream join is inner/left only as well
        raise ValueError(f"interval_join supports inner/left joins, got {how!r}")
    l, r = left.alias("__l"), right.alias("__r")
    cond = None
    for k in keys:
        eq = F.col(f"__l.{k}") == F.col(f"__r.{k}")
        cond = eq if cond is None else (cond & eq)
    l_us = F.unix_micros(F.col(f"__l.{left_ts}"))
    r_us = F.unix_micros(F.col(f"__r.{right_ts}"))
    cond = cond & r_us.between(l_us - before_ms * 1000, l_us + after_ms * 1000)
    out = l.join(r, cond, how)
    for k in keys:  # keep one copy of each join key (left side)
        out = out.drop(F.col(f"__r.{k}"))
    return out


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: list,
    aggs: list[Column],
) -> DataFrame:
    """Hopping windows (TimeWindows.of(...).advanceBy(...)) — each event lands
    in duration/slide windows; Spark's window(..., slide) expands them."""
    grouped = df.groupBy(
        F.window(F.col(ts_col), duration, slide).alias("win"), *keys
    )
    return (
        grouped.agg(*aggs)
        .withColumn("window_start_ms", F.expr("unix_micros(win.start) DIV 1000"))
        # end emitted too (same shape as tumbling_window_agg): hopping
        # windows overlap, so the end bound is NOT derivable downstream
        # without re-parsing the duration string
        .withColumn("window_end_ms", F.expr("unix_micros(win.end) DIV 1000"))
        .drop("win")
    )


def suppress_final(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: list,
    aggs: list[Column],
    grace_ms: int = 0,
) -> DataFrame:
    """Windowed aggregate with final-result suppression — Kafka Streams
    ``windowedBy(...).aggregate(...).suppress(Suppressed.untilWindowCloses)``
    (the emit-once pattern the reference's Streams apps rely on for
    exactly-one-result-per-window sinks).

    A window is CLOSED once stream-time has passed its end plus the grace
    period; only closed windows are emitted, open ones are withheld. In
    batch, stream-time is the max observed event time: a one-row global
    aggregate broadcast back over the windowed output (Catalyst plans the
    cross join as BroadcastNestedLoopJoin over one row — free). In
    streaming, Spark's append output mode + ``withWatermark(grace)`` IS
    this operator: the watermark plays stream-time and append emits each
    window exactly once when it closes.

    Emits the same shape as :func:`tumbling_window_agg` (epoch-ms window
    bounds) plus nothing else — suppression changes WHICH rows appear, not
    their schema, so downstream operators are oblivious.
    """
    windowed = tumbling_window_agg(df, ts_col, duration, keys, aggs)
    stream_time = df.agg(
        F.expr(f"max(unix_micros({ts_col}) DIV 1000)").alias("__stream_time_ms")
    )
    return (
        windowed.join(F.broadcast(stream_time))
        .filter(F.col("window_end_ms") + F.lit(grace_ms) <= F.col("__stream_time_ms"))
        .drop("__stream_time_ms")
    )


def branch_streams(
    df: DataFrame, predicates: list[tuple[str, Column]], default: str | None = None
) -> DataFrame:
    """KStream#split / #branch (the Streams DSL router): tag each record
    with the FIRST predicate it satisfies, in declaration order — a record
    matches at most one branch. Records matching no predicate go to the
    ``default`` branch, or are DROPPED when ``default`` is None (exactly
    KStream#branch semantics, where unmatched records vanish).

    Map-only: one CASE WHEN chain, no shuffle, fully codegen'd — branching
    a 100 TB stream costs one projection. Returns the input with a
    ``branch`` string column; callers ``.filter(col("branch") == tag)`` to
    peel off a branch (Catalyst pushes that filter into the scan when the
    branch expression is deterministic).
    """
    expr = F.lit(default).cast("string")
    for tag, pred in reversed(predicates):
        expr = F.when(pred, F.lit(tag)).otherwise(expr)
    out = df.withColumn("branch", expr)
    if default is None:
        out = out.filter(F.col("branch").isNotNull())
    return out


def merge_streams(*streams: DataFrame) -> DataFrame:
    """KStream#merge: interleave co-shaped streams into one (no ordering
    guarantee between inputs — same contract as Streams). Spark-first this
    is a union by name: zero shuffle, scans stay independent and parallel."""
    if not streams:
        raise ValueError("merge_streams needs at least one stream")
    out = streams[0]
    for s in streams[1:]:
        out = out.unionByName(s)
    return out


def cogroup_aggregate(
    streams: dict[str, DataFrame],
    key_cols: list[str],
    value_col: str = "value",
) -> DataFrame:
    """KStream cogroup (the Kafka Streams 2.5+ DSL: several co-keyed
    streams folded into ONE aggregate state per key). Spark-first: tag each
    stream, union, and aggregate once — a single shuffle on the key with
    map-side partial aggregation, instead of N separate groupBys joined
    after the fact (N shuffles + an N-way join).

    Emits per key: per-stream record counts and value sums, plus the
    total — the cogroup state a multi-input aggregator maintains.
    """
    tags = sorted(streams)
    tagged = None
    for tag in tags:
        t = streams[tag].select(
            *key_cols,
            F.lit(tag).alias("__src"),
            # no cast: callers pick the sum dtype (DECIMAL for exact
            # cross-engine aggregation, double when speed wins)
            F.col(value_col).alias("__v"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    aggs = []
    for tag in tags:
        is_tag = F.col("__src") == tag
        aggs.append(F.count(F.when(is_tag, 1)).alias(f"{tag}_count"))
        aggs.append(
            F.sum(F.when(is_tag, F.col("__v"))).alias(f"{tag}_sum")
        )
    aggs.append(F.count("*").alias("total_count"))
    return tagged.groupBy(*key_cols).agg(*aggs)
