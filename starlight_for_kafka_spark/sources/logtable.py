"""LogTable — the partitioned, offset-addressed, append-only log.

Reference semantics (datastax/starlight-for-kafka):
  * record shape: key/value bytes, headers, timestamp
    (kafka-impl/.../utils/ByteBufUtils.java:172-278)
  * dense per-partition offsets assigned at append
    (kafka-impl/.../storage/PartitionLog.java:487-548,
     utils/KopLogValidator.java:339 buildRecordsAndAssignOffsets)
  * FETCH = cursor read from an offset, bounded record count
    (storage/PartitionLog.java:554-812)
  * LIST_OFFSETS earliest/latest/by-timestamp
    (KafkaRequestHandler.java:1279-1623, utils/OffsetFinder.java:42)
  * DELETE_RECORDS truncate-before (KafkaRequestHandler.java:2849-2908)
  * record validation (utils/KopLogValidator.java:378-474)

Spark-first design: a LogTable is just a DataFrame with the Kafka source
schema. Offsets are data (a column), not broker state, so every protocol
operation becomes a declarative plan Catalyst can optimize:

  * append offset assignment = per-partition ``row_number`` over the incoming
    microbatch + a broadcast join against the current high watermarks (one
    tiny aggregate). No global coordination — exactly the reference's
    per-partition ordering model (PendingTopicFutures.java), but expressed
    as a shuffle-by-partition-key, which scales to any partition count.
  * fetch = ``filter(partition & offset range)``; with the log stored as
    parquet partitioned by ``partition`` and sorted by ``offset``, this is
    partition-pruned + min/max-pruned at the scan — no full-table read even
    at 100 TB.
  * LIST_OFFSETS by time = min(offset) over ``timestamp >= ts``; parquet
    footer stats make this a near-index lookup, mirroring the reference's
    ledger binary search (OffsetFinder.java).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from starlight_for_kafka_spark.plans.local import local_frame

KAFKA_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField(
            "headers",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("key", T.StringType(), False),
                        T.StructField("value", T.BinaryType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("offset", T.LongType(), False),
    ]
)

LOG_COLUMNS = [f.name for f in KAFKA_RECORD_SCHEMA.fields]

# attributes under which ``CommittedLog.read`` tags the frame it returns
# with that snapshot's log-end offsets {partition: next offset}, and under
# which ``LogTable`` keeps the LocalRelations built from them {column: frame}
_LOG_END_OFFSETS = "_log_end_offsets"
_LOG_END_FRAMES = "_log_end_frames"


def tag_log_end_offsets(df: DataFrame, offsets: dict[int, int]) -> DataFrame:
    """Tag ``df`` itself with the log-end offsets a manifest replay
    already holds, so ``LogTable(df).latest_offsets()`` and
    ``high_watermarks()`` read them instead of aggregating the log. Only
    this object carries the tag: a frame derived from it (``filter``,
    ``select``, ...) is a new object and keeps the aggregate."""
    setattr(df, _LOG_END_OFFSETS, dict(offsets))
    setattr(df, _LOG_END_FRAMES, {})
    return df


def record_size(key_col: str = "key", value_col: str = "value"):
    """Full record byte accounting: key + value bytes (nulls count 0).

    The single size expression every byte budget shares — fetch
    ``max_bytes`` (KIP-74), ``retention.bytes``, DESCRIBE_LOG sizing, and
    throughput metrics — because Kafka's limits count whole records, and
    internally inconsistent accounting (value-only in one place, key+value
    in another) makes budgets impossible to reason about.
    """
    return (
        F.coalesce(F.octet_length(key_col), F.lit(0))
        + F.coalesce(F.octet_length(value_col), F.lit(0))
    ).cast("long")


def assign_dense_offsets(batch, hwm, *order, keep=()):
    """The ONE dense-offset-assignment plan, shared by LogTable.append,
    LogTable.migrate_from and CommittedLog's commit loop: per-partition
    row_number over the ``order`` columns + a broadcast watermark join,
    starting empty partitions at 0. Shared so the single-writer and
    optimistic-commit paths can never drift on the empty-log / ordering
    contracts their tests pin.

    ``None`` entries of ``order`` are skipped; with no column left the
    rows keep arrival order (``monotonically_increasing_id``). ``hwm`` is
    a (partition, high_watermark) frame (num-partitions rows). Returns
    rows with ``offset`` assigned, projected to LOG_COLUMNS plus ``keep``.
    """
    order = [c for c in order if c is not None]
    if not order:
        batch = batch.withColumn("__arrival", F.monotonically_increasing_id())
        order = ["__arrival"]
    w = Window.partitionBy("partition").orderBy(*order)
    return (
        batch.withColumn("__rel", (F.row_number().over(w) - 1).cast("long"))
        .join(F.broadcast(hwm), "partition", "left")
        .withColumn(
            "offset", F.coalesce(F.col("high_watermark"), F.lit(0)) + F.col("__rel")
        )
        .select(*LOG_COLUMNS, *keep)
    )


class LogTable:
    """A partitioned offset-addressed log as a DataFrame.

    Wraps a DataFrame with KAFKA_RECORD_SCHEMA columns. All operations are
    lazy DataFrame transforms (``append`` broadcasts the watermark frame,
    it collects nothing); only ``compact_segments`` (its segment plan) runs
    a Spark job when called.
    """

    def __init__(self, df: DataFrame):
        missing = [c for c in LOG_COLUMNS if c not in df.columns]
        if missing:
            raise ValueError(f"not a log table, missing columns: {missing}")
        self.df = df

    # ------------------------------------------------------------------ #
    # construction
    # ------------------------------------------------------------------ #

    @staticmethod
    def from_events(events: DataFrame, num_partitions: int = 8) -> "LogTable":
        """Deterministically ingest the testdata ``events`` table as a log.

        This is the PRODUCE path run as one batch: route each record to a
        partition by key (user_id), then assign dense per-partition offsets
        in arrival (event_id) order — the Spark analog of
        KopLogValidator.buildRecordsAndAssignOffsets (reference
        utils/KopLogValidator.java:339).
        """
        w = Window.partitionBy("partition").orderBy("event_id")
        return LogTable(
            events.select(
                F.col("user_id").cast("string").cast("binary").alias("key"),
                F.col("props").cast("binary").alias("value"),
                F.array(
                    F.struct(
                        F.lit("event_type").alias("key"),
                        F.col("event_type").cast("binary").alias("value"),
                    )
                ).alias("headers"),
                F.col("ts").alias("timestamp"),
                (F.col("user_id") % num_partitions).cast("int").alias("partition"),
                F.col("event_id"),
            )
            .withColumn("offset", (F.row_number().over(w) - 1).cast("long"))
            .drop("event_id")
            .select(*LOG_COLUMNS)
        )

    @staticmethod
    def read(spark: SparkSession, path: str) -> "LogTable":
        return LogTable(spark.read.parquet(path))

    # ------------------------------------------------------------------ #
    # PRODUCE — append with dense offset assignment
    # ------------------------------------------------------------------ #

    def _log_end(self, name: str) -> DataFrame:
        """(partition, ``name``) = max(offset) + 1 per partition. On a
        frame tagged by ``tag_log_end_offsets`` these are the snapshot's
        offsets as a LocalRelation — the broker answers from metadata, no
        scan — built once per snapshot frame and column; otherwise one
        aggregate over the log."""
        tags = vars(self.df)
        offsets = tags.get(_LOG_END_OFFSETS)
        if offsets is None:
            return self.df.groupBy("partition").agg(
                (F.max("offset") + 1).alias(name)
            )
        frames = tags[_LOG_END_FRAMES]
        if name not in frames:
            frames[name] = local_frame(
                self.df.sparkSession,
                sorted(offsets.items()),
                f"partition int, {name} long",
            )
        return frames[name]

    def high_watermarks(self) -> DataFrame:
        """Per-partition high watermark = max(offset) + 1 (reference
        MessageMetadataUtils.getHighWatermark, utils/MessageMetadataUtils.java:49)."""
        return self._log_end("high_watermark")

    def append(self, records: DataFrame, order_col: str | None = None) -> "LogTable":
        """Append records (no ``offset`` column) assigning dense offsets that
        continue each partition's sequence.

        Scale design: the incoming batch shuffles once on ``partition`` for
        the row_number; the current watermarks are a num_partitions-row
        aggregate joined with a broadcast hint — no driver collect, no
        global ordering dependency between partitions.

        Contracts:
        - Appending to an EMPTY log is well-defined: high_watermarks() on
          an empty df is zero rows, the left join leaves the watermark
          null, and the coalesce starts every partition at offset 0
          (pinned by test_append_to_empty_log_starts_at_zero).
        - Appends are NOT safe to run concurrently against the same
          at-rest path: both writers would read the same watermarks and
          assign overlapping offsets (classic lost update). Single-writer
          per log — the same rule Kafka's partition leader enforces by
          construction; a multi-writer deployment needs a table-format
          commit (Delta/Iceberg optimistic transaction) around
          read-watermark → write.
        """
        appended = assign_dense_offsets(records, self.high_watermarks(), order_col)
        return LogTable(self.df.select(*LOG_COLUMNS).unionByName(appended))

    def write(self, path: str, mode: str = "overwrite") -> None:
        """Persist partitioned by ``partition`` and sorted by ``offset`` so
        fetches are partition-pruned and offset ranges min/max-pruned."""
        (
            self.df.repartition("partition")
            .sortWithinPartitions("offset")
            .write.mode(mode)
            .partitionBy("partition")
            .parquet(path)
        )

    def write_bucketed(
        self, table: str, n_buckets: int = 16, mode: str = "overwrite"
    ) -> None:
        """Persist as a catalog table bucketed by ``key``: joins and
        aggregations on the key against another table bucketed the same way
        run WITHOUT a shuffle (bucket-wise sort-merge join) — the
        co-located-join layout for repeated key joins at 100 TB, where
        re-shuffling the big side per query is the dominant cost."""
        (
            self.df.write.mode(mode)
            .bucketBy(n_buckets, "key")
            .sortBy("key")
            .format("parquet")
            .saveAsTable(table)
        )

    # ------------------------------------------------------------------ #
    # FETCH — offset-range reads
    # ------------------------------------------------------------------ #

    def fetch(
        self,
        partition: int,
        start_offset: int = 0,
        max_records: int | None = None,
        end_offset: int | None = None,
        max_bytes: int | None = None,
    ) -> DataFrame:
        """Read ``partition`` from ``start_offset`` in offset order.

        ``max_records`` mirrors the reference's maxReadEntriesNum bound
        (KafkaServiceConfiguration.java:405); ``end_offset`` is exclusive
        (used for read-committed LSO cutoffs); ``max_bytes`` is the fetch
        response size bound (KIP-74 semantics, enforced in the reference by
        the readable-bytes accounting in PartitionLog.readRecords): records
        are taken in offset order while cumulative payload bytes stay within
        the budget, and the FIRST record is always returned even when it
        alone exceeds it — so an oversized record can never wedge a
        consumer.
        """
        out = self.df.filter(
            (F.col("partition") == partition) & (F.col("offset") >= start_offset)
        )
        if end_offset is not None:
            out = out.filter(F.col("offset") < end_offset)
        if max_records is not None:
            # bounded fetch: offset < start + max is prunable (vs .limit which
            # would funnel through a single-partition global limit)
            out = out.filter(F.col("offset") < start_offset + max_records)
        if max_bytes is not None:
            # the filter already selects ONE log partition, so the running
            # sum runs in one Spark partition: coalesce(1) satisfies the
            # window's clustering and the plan has no exchange
            wo = Window.partitionBy("partition").orderBy("offset")
            w = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            size = record_size()
            out = (
                out.coalesce(1)
                .withColumn("__cum", F.sum(size).over(w))
                .withColumn("__rn", F.row_number().over(wo))
                .filter((F.col("__cum") <= max_bytes) | (F.col("__rn") == 1))
                .drop("__cum", "__rn")
            )
        return out.sortWithinPartitions("offset")

    def fetch_multi(
        self,
        requests: list[tuple[int, int]],
        response_max_bytes: int,
    ) -> DataFrame:
        """Multi-partition FETCH with ONE response-level byte budget — a
        real Kafka FETCH spans many partitions with a single response
        ``max.bytes`` apportioned across them in REQUEST ORDER (KIP-74;
        reference MessageFetchContext / KafkaRequestHandler:1744-1858):
        records accrue in (request-index, offset) order while cumulative
        response bytes stay within the budget, and the FIRST record of the
        response always returns even when it alone exceeds it — progress
        is guaranteed, an oversized record can never wedge the consumer.
        Per-partition bounds compose via ``fetch``'s own max_bytes.

        ``requests``: ordered [(partition, start_offset), ...] (one entry
        per partition, as in a Kafka fetch request; a partition listed
        twice is rejected, as Kafka answers INVALID_REQUEST).

        Scale: the global greedy fill DECOMPOSES — a row's response-order
        cumulative equals (sum of ALL earlier-requested partitions'
        candidate bytes) + (its own partition's running sum), because the
        candidate stream is (ridx, offset)-ordered and ridx is constant
        per partition. The per-partition running sums are a
        partition-parallel window; the cross-partition prefix is a
        running sum over the n_partitions-row totals table (control
        plane) broadcast back, and the same window flags the first
        requested partition that has candidates. NO global sequential
        window exists in the plan, and the request list broadcasts — the
        log never shuffles. The candidate range IS scanned twice (once
        for the totals table, once for the output pass) — the greedy
        budget is a global property, so some second look is inherent;
        both scans carry the pushed-down partition/offset predicates, so
        each reads only the requested offset ranges, never the log. Rows
        keep ``ridx`` so callers can regroup per-partition responses.

        The request list becomes an Arrow ``LocalRelation``
        (``plans.local_frame``): its broadcast is a JVM-only scan, so
        none of the request's Spark jobs (6 for a small fetch) starts a
        Python worker task. Its partitions and smallest start offset are
        also literal predicates on the log, so both scans prune to the
        requested partition directories.
        """
        spark = self.df.sparkSession
        log = self.df
        parts = [int(p) for p, _ in requests]
        # a partition listed twice would double its rows through the
        # broadcast join and interleave __pcum/__prn across the two ridx
        # values, silently corrupting the byte budget
        if len(parts) != len(set(parts)):
            raise ValueError("fetch_multi: duplicate partition(s) in request")
        req = local_frame(
            spark,
            [(i, int(p), int(o)) for i, (p, o) in enumerate(requests)],
            "ridx int, partition int, start_offset long",
        )
        if parts:
            log = log.filter(
                F.col("partition").isin(parts)
                & (F.col("offset") >= min(int(o) for _, o in requests))
            )
        size = record_size()
        wp = Window.partitionBy("partition").orderBy("offset")
        run = wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cand = (
            log.join(F.broadcast(req), "partition")
            .filter(F.col("offset") >= F.col("start_offset"))
            .withColumn("__sz", size)
            .withColumn("__pcum", F.sum("__sz").over(run))
            .withColumn("__prn", F.row_number().over(wp))
        )
        # cross-partition prefix: bytes ALL candidates of earlier-requested
        # partitions contribute to the response-order running sum — an
        # earlier partition that overflows the budget by itself pushes the
        # cumulative past the budget for everything after it, exactly the
        # greedy fill (a dropped row's bytes still count: the response is
        # a PREFIX of the candidate stream, not a skip-scan). The totals
        # table only holds requests with candidates, so its first row in
        # ridx order is the partition the first record comes from.
        totals = cand.groupBy("ridx").agg(F.sum("__sz").alias("__ptotal"))
        wr = Window.orderBy("ridx")
        prior = totals.select(
            "ridx",
            F.coalesce(
                F.sum("__ptotal").over(
                    wr.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("__prior"),
            (F.row_number().over(wr) == 1).alias("__first"),
        )
        out = cand.join(F.broadcast(prior), "ridx").filter(
            (F.col("__prior") + F.col("__pcum") <= response_max_bytes)
            # first record of the response always returns (progress
            # guarantee): first candidate row of the first requested
            # partition that has any candidates
            | (F.col("__first") & (F.col("__prn") == 1))
        )
        return out.drop(
            "__sz", "__pcum", "__prn", "__prior", "__first", "start_offset"
        )

    # ------------------------------------------------------------------ #
    # LIST_OFFSETS — earliest / latest / by timestamp
    # ------------------------------------------------------------------ #

    def earliest_offsets(self) -> DataFrame:
        return self.df.groupBy("partition").agg(F.min("offset").alias("offset"))

    def latest_offsets(self) -> DataFrame:
        """Log-end offset per partition (next offset to be assigned) —
        from the broker's metadata when the frame is a tagged snapshot
        (KafkaRequestHandler.java:1279-1623 LIST_OFFSETS LATEST)."""
        return self._log_end("offset")

    def offsets_for_times(self, ts) -> DataFrame:
        """First offset with timestamp >= ts per partition (reference
        fetchOffsetByTimestamp, KafkaRequestHandler.java:1348). Partitions
        with no such record are omitted, matching Kafka's -1/null semantics."""
        return (
            self.df.filter(F.col("timestamp") >= F.lit(ts))
            .groupBy("partition")
            .agg(F.min("offset").alias("offset"))
        )

    def max_timestamp_offsets(self) -> DataFrame:
        """LIST_OFFSETS MAX_TIMESTAMP (KIP-734, ListOffsets v7): per
        partition, the offset holding the maximum timestamp (earliest such
        offset on ties — Kafka returns the first record carrying the max).
        One map-side-combinable aggregation; the same ledger walk the
        reference's OffsetFinder does, but as an argmax.

        NULL-timestamp records are excluded BEFORE the argmax: struct
        ordering sorts a null first field ahead of any value, so an
        unfiltered min_by would pair a null-timestamp record's offset
        with max(timestamp)'s value — an (offset, timestamp) pair no
        record holds (max() already ignores nulls; the filter makes the
        two aggregates agree)."""
        neg_ts = -F.unix_micros(F.col("timestamp"))
        return (
            self.df.filter(F.col("timestamp").isNotNull())
            .groupBy("partition")
            .agg(
                F.min_by(
                    F.col("offset"),
                    F.struct(neg_ts.alias("neg_ts"), F.col("offset").alias("o")),
                ).alias("offset"),
                F.max("timestamp").alias("timestamp"),
            )
        )

    # ------------------------------------------------------------------ #
    # DELETE_RECORDS — truncate before offset
    # ------------------------------------------------------------------ #

    def truncate_before(self, offsets: DataFrame | int) -> "LogTable":
        """Drop records below the cutoff (per-partition DataFrame of
        (partition, truncate_offset), or one global int)."""
        if isinstance(offsets, int):
            return LogTable(self.df.filter(F.col("offset") >= offsets))
        cut = offsets.select("partition", F.col("truncate_offset"))
        kept = (
            self.df.join(F.broadcast(cut), "partition", "left")
            .filter(
                F.col("truncate_offset").isNull()
                | (F.col("offset") >= F.col("truncate_offset"))
            )
            .drop("truncate_offset")
        )
        return LogTable(kept)

    def retain_since(self, horizon) -> "LogTable":
        """Time-based retention (retention.ms): drop records older than the
        horizon timestamp — the broker's retention sweep as a filter. On an
        at-rest log partitioned by partition and footer-indexed on
        timestamp, the expired majority is min/max-pruned away; with Delta
        this would be a DELETE WHERE predicate."""
        return LogTable(self.df.filter(F.col("timestamp") >= F.lit(horizon)))

    def retain_bytes(self, retention_bytes: int) -> "LogTable":
        """Size-based retention (retention.bytes; reference exposes the same
        knob as "System topic retention size in mb",
        KafkaServiceConfiguration.java:186): per partition, keep the newest
        records whose cumulative payload size stays within the budget —
        i.e. truncate from the head, exactly like Kafka's size-based log
        cleanup which deletes whole oldest segments first but never the
        active segment (so the newest record always survives, even when it
        alone exceeds the budget).

        Scale: one window per partition (running sum from the tail). At
        rest this materializes per-partition truncate offsets
        (num_partitions rows) that turn into pruned deletes.
        """
        wo = Window.partitionBy("partition").orderBy(F.col("offset").desc())
        w = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        size = record_size()
        kept = (
            self.df.withColumn("__cum", F.sum(size).over(w))
            .withColumn("__rn", F.row_number().over(wo))
            .filter((F.col("__cum") <= retention_bytes) | (F.col("__rn") == 1))
            .drop("__cum", "__rn")
        )
        return LogTable(kept)

    @staticmethod
    def compact_segments(
        spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
    ) -> dict:
        """Small-file compaction for an at-rest log: rewrite each partition
        directory into ceil(bytes / target) files, preserving offset sort.

        The log analog of Pulsar/BookKeeper ledger rollover + the OPTIMIZE
        job every table format runs: a streaming producer landing a file
        per microbatch per partition degrades scans (file-listing +
        per-file open dominates at 100 TB); compaction restores
        target-sized, offset-sorted, min/max-prunable segments. Returns
        {files_before, files_after, bytes}.

        Scale: one shuffle keyed by partition (same as write()); each
        output file stays sorted so offset-range fetches still prune.
        """
        import glob as _glob
        import shutil

        files = _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        bytes_total = sum(os.path.getsize(f) for f in files)
        log = LogTable.read(spark, path)

        # per-partition segment plan (control-plane: num_partitions rows).
        # On-disk bytes are apportioned by each partition's raw record
        # bytes, so a partition bigger than target_file_bytes splits into
        # ceil(share / target) offset-contiguous segments instead of one
        # oversized file.
        stats = log.df.groupBy("partition").agg(
            F.count("*").alias("n_rows"), F.sum(record_size()).alias("raw")
        ).collect()
        total_raw = sum(r.raw or 0 for r in stats) or 1
        plan = [
            (
                r.partition,
                r.n_rows,
                max(1, -(-(bytes_total * (r.raw or 0) // total_raw) // target_file_bytes)),
            )
            for r in stats
        ]
        total_segs = sum(int(s) for _, _, s in plan)
        seg_map = local_frame(spark, plan, "partition int, n_rows long, segs long")
        rn = F.row_number().over(Window.partitionBy("partition").orderBy("offset"))
        tmp = path.rstrip("/") + ".__compacting__"
        (
            log.df.withColumn("__rn", rn)
            .join(F.broadcast(seg_map), "partition")
            .withColumn(
                "__seg", F.floor((F.col("__rn") - 1) * F.col("segs") / F.col("n_rows"))
            )
            .repartitionByRange(int(total_segs), F.col("partition"), F.col("__seg"))
            .sortWithinPartitions("partition", "offset")
            .select(*LOG_COLUMNS)
            .write.mode("overwrite")
            .partitionBy("partition")
            .parquet(tmp)
        )
        # crash-safe swap (a real deployment would use a table-format
        # commit): the old data is renamed ASIDE first, so `path` is never
        # absent without a recoverable adjacent copy, and a crash between
        # the two renames leaves either old-at-.__old__ + new-at-path or
        # old-at-.__old__ + new-at-.__compacting__ — never zero copies.
        old = path.rstrip("/") + ".__old__"
        if os.path.exists(old):  # debris from a crashed prior swap
            shutil.rmtree(old)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
        files_after = _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        return {
            "files_before": len(files),
            "files_after": len(files_after),
            "bytes": bytes_total,
        }

    # ------------------------------------------------------------------ #
    # migration — offset-preserving topic copy
    # ------------------------------------------------------------------ #

    def migrate_from(self, src: "LogTable") -> tuple["LogTable", DataFrame]:
        """Copy another log's records into this one, preserving per-partition
        order and recording the src→dst offset mapping — the Spark analog of
        the reference's Kafka→Pulsar migration tool, which replays each
        source partition in offset order and stores the original offsets as
        metadata (kafka-impl/.../migration/MigrationManager.java).

        Returns (merged log, mapping df (partition, src_offset, dst_offset,
        offset_shift)). Dense source offsets ⇒ the shift is constant per
        partition, which is what consumers need to translate committed
        offsets across the migration.

        Scale: the bulk copy is one shuffle of the source on ``partition``
        for the row_number; destination watermarks are a num_partitions-row
        broadcast: ``append``'s ``assign_dense_offsets`` plan, ordered by
        the source offset.
        """
        mapped = assign_dense_offsets(
            src.df.withColumnRenamed("offset", "src_offset"),
            self.high_watermarks(),
            "src_offset",
            keep=("src_offset",),
        )
        mapping = mapped.select(
            "partition",
            "src_offset",
            F.col("offset").alias("dst_offset"),
            (F.col("offset") - F.col("src_offset")).alias("offset_shift"),
        )
        migrated = mapped.select(*LOG_COLUMNS)
        merged = LogTable(self.df.select(*LOG_COLUMNS).unionByName(migrated))
        return merged, mapping


def validate_records(
    records: DataFrame,
    compacted: bool = False,
    max_timestamp_diff_ms: int | None = None,
    now_ms: int | None = None,
) -> DataFrame:
    """Record validation (reference KopLogValidator.validateRecord/
    validateKey/validateTimestamp, utils/KopLogValidator.java:427-474):
    compacted topics require a key; timestamps must be within
    ``max.message.time.difference.ms`` of now. Returns the input plus an
    ``_error`` column (null = valid) so callers can split valid/invalid
    without a second scan.
    """
    err = F.lit(None).cast("string")
    if compacted:
        err = F.when(
            F.col("key").isNull(), F.lit("InvalidRecordException: compacted topic record without key")
        ).otherwise(err)
    if max_timestamp_diff_ms is not None and now_ms is not None:
        ts_ms = (F.unix_micros(F.col("timestamp")) / 1000).cast("long")
        bad_ts = (ts_ms < F.lit(now_ms - max_timestamp_diff_ms)) | (
            ts_ms > F.lit(now_ms + max_timestamp_diff_ms)
        )
        err = F.when(bad_ts, F.lit("InvalidTimestampException")).otherwise(err)
    return records.withColumn("_error", err)


def check_log_integrity(log_df: DataFrame) -> DataFrame:
    """Per-partition log-invariant audit — the DumpLogSegments-style
    health check an operator runs before trusting a log copy: offset
    density (no gaps, no duplicates), and how many records have a
    timestamp earlier than their predecessor (out-of-order append —
    legal in Kafka with CreateTime, but a replication bug smell when it
    spikes).

    One window pass per partition (the log's natural key, so the sort is
    the layout order at rest — on a written log this is a sorted-scan,
    not a shuffle) + one map-side-combinable aggregation."""
    w = Window.partitionBy("partition").orderBy("offset")
    prev_off = F.lag("offset").over(w)
    prev_ts = F.lag("timestamp").over(w)
    rows = log_df.select(
        "partition",
        "offset",
        F.when(prev_off.isNotNull() & (F.col("offset") != prev_off + 1), 1)
        .otherwise(0)
        .alias("__gap"),
        F.when(prev_off.isNotNull() & (F.col("offset") == prev_off), 1)
        .otherwise(0)
        .alias("__dup"),
        F.when(prev_ts.isNotNull() & (F.col("timestamp") < prev_ts), 1)
        .otherwise(0)
        .alias("__ts_regress"),
    )
    return rows.groupBy("partition").agg(
        F.count("*").alias("n_records"),
        F.min("offset").alias("log_start_offset"),
        (F.max("offset") + 1).alias("log_end_offset"),
        F.sum("__gap").alias("n_offset_gaps"),
        F.sum("__dup").alias("n_duplicate_offsets"),
        F.sum("__ts_regress").alias("n_ts_regressions"),
        (
            (F.max("offset") - F.min("offset") + 1 == F.count("*"))
            & (F.sum("__dup") == 0)
        ).alias("dense"),
    )


def describe_log(log_df: DataFrame) -> DataFrame:
    """DESCRIBE_LOG_DIRS-style per-partition report: record count, payload
    bytes, offset and timestamp bounds — the per-partition size/health view
    every Kafka ops tool derives from log-dir metadata; here it is one
    map-side-combinable aggregation over the log."""
    return log_df.groupBy("partition").agg(
        F.count("*").alias("n_records"),
        F.sum(record_size()).alias("record_bytes"),
        F.min("offset").alias("log_start_offset"),
        (F.max("offset") + 1).alias("log_end_offset"),
        F.min("timestamp").alias("earliest_ts"),
        F.max("timestamp").alias("latest_ts"),
    )
