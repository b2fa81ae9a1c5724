"""Transactions / exactly-once as DataFrame operators.

Reference semantics:
  * producer idempotence: per-partition (pid, epoch, seq) tracking, duplicate
    sequence drop (kafka-impl/.../storage/ProducerStateManager.java,
    PartitionLog.analyzeAndValidateProducerState:436-470)
  * aborted-txn index: list of (pid, firstOffset, lastOffset) per partition
    (storage/AbortedTxn.java; served at PartitionLog.java:476-478)
  * read-committed fetch: filter at last-stable-offset = first undecided txn
    offset, and drop aborted ranges (PartitionLog.java:610-624, 690-712)
  * coordinator state machine EMPTY→ONGOING→PREPARE→COMPLETE
    (coordinator/transaction/TransactionCoordinator.java:658,
     TransactionState.java:19-69)

Spark-first: transactions are data. A txn log carries (pid, epoch, seq,
txn_status ∈ {commit, abort, open}); the aborted index is an aggregation;
read-committed is an LSO cutoff + broadcast anti-join against aborted
ranges. In streaming, Delta/exactly-once sinks make commit/abort a
batch-atomicity property (foreachBatch), so markers exist only to serve
read-committed over historical data — exactly the shape below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from starlight_for_kafka_spark.plans.local import local_frame
from starlight_for_kafka_spark.sources.commitlog import PosixManifestBackend

TXN_SIZE = 10  # records per synthetic transaction in the derived fixture


def derive_txn_log(log: DataFrame, n_pids: int = 16) -> DataFrame:
    """Deterministic txn-annotated log from a LogTable DataFrame (fixture
    F6): pid from the record key, dense seq per pid in (partition, offset)
    order, transactions of TXN_SIZE records, outcome decided by
    (pid + txn_group) mod — yielding interleaved committed / aborted / open
    transactions across partitions."""
    pid = (F.col("key").cast("string").cast("long") % n_pids).alias("pid")
    w = Window.partitionBy("pid").orderBy("partition", "offset")
    df = (
        log.withColumn("pid", pid)
        .withColumn("epoch", F.lit(0).cast("int"))
        .withColumn("seq", (F.row_number().over(w) - 1).cast("int"))
        .withColumn("txn_group", (F.col("seq") / TXN_SIZE).cast("long"))
    )
    status = (
        F.when((F.col("pid") + F.col("txn_group")) % 7 == 0, F.lit("abort"))
        .when((F.col("pid") + F.col("txn_group")) % 11 == 3, F.lit("open"))
        .otherwise(F.lit("commit"))
    )
    return df.withColumn("txn_status", status)


def aborted_txn_index(txn_log: DataFrame) -> DataFrame:
    """Build the aborted-txn index: per (partition, pid, txn_group) the
    [first_offset, last_offset] span of aborted records (reference
    storage/AbortedTxn.java — same triple, persisted per partition)."""
    return (
        txn_log.filter(F.col("txn_status") == "abort")
        .groupBy("partition", "pid", "txn_group")
        .agg(
            F.min("offset").alias("first_offset"),
            F.max("offset").alias("last_offset"),
        )
    )


def last_stable_offsets(txn_log: DataFrame) -> DataFrame:
    """LSO per partition = first offset of any still-open txn, else
    high-watermark (max offset + 1) (PartitionLog.firstUndecidedOffset,
    storage/PartitionLog.java:610-624,698-699)."""
    return txn_log.groupBy("partition").agg(
        F.coalesce(
            F.min(F.when(F.col("txn_status") == "open", F.col("offset"))),
            F.max("offset") + 1,
        ).alias("last_stable_offset")
    )


def txn_summary(txn_log: DataFrame) -> DataFrame:
    """Per-transaction summary: (partition, pid, txn_group) → first/last
    offset + outcome, in ONE pass over the log. This is the table the
    reference's ProducerStateManager maintains incrementally (snapshots at
    PartitionLog.takeProducerSnapshot:1194) rather than recomputing — the
    LSO and the aborted index are both tiny projections of it. A txn's
    outcome is a per-txn property (the marker), so max() over the uniform
    per-record status is exact."""
    return txn_log.groupBy("partition", "pid", "txn_group").agg(
        F.min("offset").alias("first_offset"),
        F.max("offset").alias("last_offset"),
        F.max("txn_status").alias("txn_status"),
    )


def read_committed(txn_log: DataFrame) -> DataFrame:
    """READ_COMMITTED scan: keep rows below the partition LSO that do not
    fall in any aborted (pid, offset-range) (PartitionLog.handleEntries LSO
    filter :690-712 + aborted-index anti-join).

    Scale: one aggregation pass builds the per-txn summary (num-txns rows —
    small), folded straight into ONE per-partition broadcast row carrying
    the LSO plus the partition's aborted (pid, first, last) spans. A single
    broadcast hash join attaches it; the LSO cutoff and the aborted-range
    check (an ``exists`` over the span array — whole-stage-codegen'd) run
    as one filter. The log is scanned exactly twice (summary + filtered
    scan), never shuffled, and the summary subtree exists ONCE in the plan
    — the previous two-broadcast shape computed it once per broadcast or
    needed a localCheckpoint barrier whose eager materialization cost more
    than it saved (the round-3 bench-drift root cause). The span-array scan
    is O(aborted txns in partition) per row, bounded by the same smallness
    assumption that makes the index broadcastable at all; the reference
    serves fetches from the identical in-memory structure
    (PartitionLog.java:476-478).
    """
    summary = txn_summary(txn_log)
    per_part = summary.groupBy("partition").agg(
        F.coalesce(
            F.min(
                F.when(F.col("txn_status") == "open", F.col("first_offset"))
            ),
            F.max("last_offset") + 1,
        ).alias("last_stable_offset"),
        F.collect_list(
            F.when(
                F.col("txn_status") == "abort",
                F.struct("pid", "first_offset", "last_offset"),
            )
        ).alias("__aborted"),
    )
    joined = txn_log.join(F.broadcast(per_part), "partition")
    # coalesce(pred, false): a NULL-pid (non-transactional) record makes
    # the element predicate NULL; without the coalesce, exists() would
    # return NULL, ~NULL is NULL, and the filter would DROP the row —
    # but read-committed consumers see non-transactional records (the old
    # anti-join kept them because NULL never matches a join condition).
    keep = (F.col("offset") < F.col("last_stable_offset")) & ~F.exists(
        "__aborted",
        lambda a: F.coalesce(
            (a["pid"] == F.col("pid"))
            & (F.col("offset") >= a["first_offset"])
            & (F.col("offset") <= a["last_offset"]),
            F.lit(False),
        ),
    )
    return joined.filter(keep).drop("last_stable_offset", "__aborted")


def allocate_producer_ids(
    txn_ids: DataFrame, id_col: str = "transactional_id", n_shards: int = 32
) -> DataFrame:
    """INIT_PRODUCER_ID (KafkaRequestHandler.java:2440,
    TransactionCoordinator.handleInitProducerId:317; block allocation in
    ProducerIdManagerImpl.java): allocate dense PIDs per transactional id.

    Spark analog: a sequence table — dense rank of each id in the global
    id order. A naive ``row_number() OVER (ORDER BY id)`` serializes every
    id through ONE task (the "No Partition Defined for Window" trap); at
    10^8 transactional ids that is the job. Instead the global order is
    decomposed into a parallel prefix — the same sharded idiom as
    sampling.shuffle_rank — but RANGE-sharded so the dense pid still
    follows the exact lexicographic id order the sequence-table contract
    (and the oracle) pins: ``repartitionByRange(id)`` puts shard i's ids
    strictly below shard i+1's, per-shard ranks run as ``n_shards``
    independent windows, and the n_shards-row count table gets a running
    offset (control-plane window over ≤n_shards rows) broadcast back.
    Range boundaries come from Spark's sampling job; boundary *placement*
    cannot change the result because any range split yields the same
    global order. Epoch starts at 0 and a re-init bumps it (the fencing
    role Spark's checkpoint epoch plays in streaming)."""
    ids = txn_ids.select(id_col).distinct().repartitionByRange(n_shards, F.col(id_col))
    local = ids.withColumn("__shard", F.spark_partition_id())
    w = Window.partitionBy("__shard").orderBy(id_col)
    local = local.withColumn("__local", F.row_number().over(w))
    offsets = (
        local.groupBy("__shard")
        .agg(F.count("*").alias("__n"))
        .withColumn(
            "__offset",
            F.coalesce(
                F.sum("__n").over(
                    Window.orderBy("__shard").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("__shard", "__offset")
    )
    return (
        local.join(F.broadcast(offsets), "__shard")
        .withColumn("pid", (F.col("__offset") + F.col("__local") - 1).cast("long"))
        .withColumn("producer_epoch", F.lit(0).cast("int"))
        .drop("__shard", "__local", "__offset")
    )


def fence_stale_epochs(records: DataFrame) -> DataFrame:
    """Producer fencing: reject records whose epoch is below the producer's
    current (max observed) epoch — the ProducerFencedException path that
    kills zombie producers after a re-init bumps the epoch
    (TransactionCoordinator.handleInitProducerId:317 fencing;
    ProducerStateManager epoch checks in
    PartitionLog.analyzeAndValidateProducerState:436-470).

    One window over pid (no ordering needed — max is order-free), keeping
    the scan a single pass; rows carry a ``_fenced`` flag rather than being
    dropped so callers can count/alert on fenced writes like the broker's
    error response does."""
    w = Window.partitionBy("pid")
    current = F.max("epoch").over(w)
    return records.withColumn("_fenced", F.col("epoch") < current)


def txn_markers(txn_log: DataFrame) -> DataFrame:
    """WRITE_TXN_MARKERS / EndTransactionMarker (KafkaRequestHandler.java:
    2685-2790; marker decode ByteBufUtils.decodeMarker:102-128): one control
    row per decided transaction per partition, at the offset after its last
    record — the shape a read-committed consumer uses to resolve txn
    boundaries. Open transactions have no marker yet."""
    return (
        txn_log.filter(F.col("txn_status") != "open")
        .groupBy("partition", "pid", "txn_group")
        .agg(
            (F.max("offset") + 1).alias("marker_offset"),
            F.upper(F.max("txn_status")).alias("control_type"),
            F.count("*").alias("n_records"),
        )
    )


def idempotent_dedupe(records: DataFrame) -> DataFrame:
    """Producer idempotence: drop duplicate (pid, epoch, seq) retries,
    keeping the first appended copy (reference ProducerStateManager
    duplicate-sequence check, ProducerAppendInfo; reference fences on epoch
    and checks seq continuity — here replayed as a log-order dedupe).

    Batch form: row_number over the append order. Streaming form:
    ``dropDuplicatesWithinWatermark(["pid","epoch","seq"])`` (see
    streaming/stream_ops.py) bounds the state the same way the reference's
    producer-state snapshots bound recovery (PartitionLog.takeProducerSnapshot:1194).
    """
    w = Window.partitionBy("pid", "epoch", "seq").orderBy("partition", "offset")
    return (
        records.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def describe_producers(txn_log: DataFrame) -> DataFrame:
    """DESCRIBE_PRODUCERS (KafkaRequestHandler.java:2032,
    PartitionLog.activeProducerState:1219): per (partition, pid) the last
    sequence, last offset, and record count."""
    return txn_log.groupBy("partition", "pid").agg(
        F.max("epoch").alias("producer_epoch"),
        F.max("seq").alias("last_sequence"),
        F.max("offset").alias("last_offset"),
        F.count("*").alias("n_records"),
    )


def list_transactions(txn_log: DataFrame) -> DataFrame:
    """LIST_TRANSACTIONS (KafkaRequestHandler.java:2125-2160): one row per
    (pid, txn_group) with state and span."""
    return txn_log.groupBy("pid", "txn_group").agg(
        F.max("txn_status").alias("txn_status"),
        F.min("offset").alias("first_offset"),
        F.max("offset").alias("last_offset"),
        F.count("*").alias("n_records"),
    )


def describe_transactions(
    events: DataFrame,
    txn_col: str = "transactional_id",
    action_col: str = "action",
    order_cols: tuple[str, str] = ("ts", "event_id"),
    partition_col: str = "partition",
    pid_col: str = "pid",
) -> DataFrame:
    """DESCRIBE_TRANSACTIONS per-id detail (TransactionCoordinator.java:
    250-306 handleDescribeTransactions, mirroring upstream Kafka's
    TransactionCoordinator.scala:270): for each transactional id, the
    current coordinator metadata — producer id/epoch, admin state name,
    transaction start time, and the partitions registered in the CURRENT
    transaction (TransactionMetadata.topicPartitions; cleared when a
    transaction completes and on epoch bump, exactly as completeTransitionTo
    clears the set).

    Same replay model as ``txn_state_machine`` (one shuffle on the txn id,
    in-row JVM fold), with three more accumulator fields:

      * ``pid`` — assigned by the last ``init`` event's ``pid_col``
        (INIT_PRODUCER_ID response); epoch = init count - 1.
      * ``parts`` — distinct partitions from valid ``add_partitions``
        events since the txn became Ongoing; ``add_offsets`` registers the
        sentinel -1 (the offsets-topic partition the reference registers
        via ADD_OFFSETS_TO_TXN). Cleared on completion and on init.
      * ``start_ts`` — ms timestamp of the Empty/Complete* → Ongoing
        transition (TransactionMetadata.txnStartTimestamp); null until the
        first transaction and after an epoch bump.

    ``partitions`` is emitted as a sorted CSV string so the result is
    hashable for exact cross-engine comparison.
    """
    o1, o2 = order_cols
    seq = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(o1),
                F.col(o2),
                F.col(action_col).alias("a"),
                F.col(partition_col).cast("int").alias("p"),
                F.col(pid_col).cast("long").alias("pid"),
                F.unix_millis(F.col(o1)).alias("ts_ms"),
            )
        )
    )

    def step(acc, s):
        a = s["a"]
        st = acc["state"]
        inited = acc["epochs"] > 0
        is_add = (a == "add_partitions") | (a == "add_offsets")
        is_end = (a == "end_commit") | (a == "end_abort")
        valid_add = is_add & inited
        valid_end = is_end & (st == 1)
        new_state = (
            F.when(a == "init", F.lit(0))
            .when(valid_add, F.lit(1))
            .when((a == "end_commit") & (st == 1), F.lit(2))
            .when((a == "end_abort") & (st == 1), F.lit(3))
            .otherwise(st)
        )
        reg = F.when(a == "add_offsets", F.lit(-1)).otherwise(s["p"])
        empty = F.array().cast("array<int>")
        return F.struct(
            new_state.alias("state"),
            (acc["epochs"] + F.when(a == "init", 1).otherwise(0)).alias("epochs"),
            F.when(a == "init", s["pid"]).otherwise(acc["pid"]).alias("pid"),
            F.when((a == "init") | valid_end, empty)
            .when(valid_add, F.array_union(acc["parts"], F.array(reg)))
            .otherwise(acc["parts"])
            .alias("parts"),
            F.when(valid_add & (st != 1), s["ts_ms"])
            .when(a == "init", F.lit(None).cast("long"))
            .otherwise(acc["start_ts"])
            .alias("start_ts"),
        )

    init = F.struct(
        F.lit(0).alias("state"),
        F.lit(0).alias("epochs"),
        F.lit(None).cast("long").alias("pid"),
        F.array().cast("array<int>").alias("parts"),
        F.lit(None).cast("long").alias("start_ts"),
    )
    folded = events.groupBy(F.col(txn_col).alias("transactional_id")).agg(
        F.aggregate(seq, init, step).alias("__m")
    )
    state_name = F.element_at(
        F.array(
            F.lit("Empty"), F.lit("Ongoing"),
            F.lit("CompleteCommit"), F.lit("CompleteAbort"),
        ),
        F.col("__m.state") + 1,
    )
    return folded.select(
        "transactional_id",
        F.col("__m.pid").alias("producer_id"),
        (F.col("__m.epochs") - 1).cast("int").alias("producer_epoch"),
        state_name.alias("transaction_state"),
        F.col("__m.start_ts").alias("txn_start_ts_ms"),
        F.size("__m.parts").alias("n_partitions"),
        F.array_join(
            F.transform(F.array_sort("__m.parts"), lambda x: x.cast("string")), ","
        ).alias("partitions"),
    )


def purge_aborted_txns(aborted: DataFrame, log_start_offsets: DataFrame) -> DataFrame:
    """Aborted-index compaction (PartitionLog.updatePurgeAbortedTxnsOffset
    :1102, forcePurgeAbortTx:1206): once retention/truncation has advanced a
    partition's log start offset past an aborted span, that index entry can
    never match a fetch again — drop it. Keeps the broadcast side of the
    read-committed anti-join bounded by LIVE aborted txns, not all-time
    history, which is what keeps read-committed viable on a long-lived log.

    ``log_start_offsets``: (partition, log_start_offset) — num_partitions
    rows, broadcast.
    """
    cut = log_start_offsets.select(
        "partition", F.col("log_start_offset").cast("long")
    )
    return (
        aborted.join(F.broadcast(cut), "partition", "left")
        .filter(
            F.col("log_start_offset").isNull()
            | (F.col("last_offset") >= F.col("log_start_offset"))
        )
        .drop("log_start_offset")
    )


def sequence_gaps(records: DataFrame) -> DataFrame:
    """Idempotent-producer sequence validation: per (partition, pid), flag
    records whose sequence number does not directly follow the previous one
    — the broker's OutOfOrderSequenceException check
    (ProducerAppendInfo.checkSequence via
    PartitionLog.analyzeAndValidateProducerState:436-470). A gap means lost
    or reordered batches; a repeat means a duplicate the idempotence layer
    must drop.

    One shuffle on (partition, pid) for the lag window; emits only the
    violating records with expected vs observed sequence.
    """
    w = Window.partitionBy("partition", "pid").orderBy("offset")
    prev = F.lag("seq").over(w)
    expected = F.coalesce(prev + 1, F.lit(0))
    return (
        records.withColumn("expected_seq", expected)
        .filter(F.col("seq") != F.col("expected_seq"))
        .select("partition", "pid", "offset", "seq", "expected_seq")
    )


def txn_state_machine(
    events: DataFrame,
    txn_col: str = "transactional_id",
    action_col: str = "action",
    order_cols: tuple[str, str] = ("ts", "event_id"),
) -> DataFrame:
    """Replay the transaction coordinator's state machine per
    transactional id (TransactionCoordinator.handleEndTransaction:658;
    states TransactionState.java:19-69 — Empty → Ongoing →
    PrepareCommit/PrepareAbort → CompleteCommit/CompleteAbort, prepare
    states collapsing in a quiescent batch replay exactly as group
    recovery collapses rebalance states). Actions:

      * ``init``          — INIT_PRODUCER_ID: epoch bump, state Empty;
                            fences an ONGOING txn by aborting it (the
                            coordinator's abort-on-init path)
      * ``add_partitions`` / ``add_offsets`` — valid after an init;
                            Empty/Complete* → Ongoing
      * ``end_commit`` / ``end_abort`` — valid only from Ongoing
                            (INVALID_TXN_STATE otherwise — counted)

    Emits per txn id: final state, epochs, committed/aborted txn counts,
    and the invalid-transition count.

    ``order_cols`` must totally order each id's events (a unique event id
    as the second column); ties beyond it break on the action string —
    the same final tie-break the oracle and streaming forms use, so all
    three stay byte-identical even on degenerate orderings.

    Scale shape: ONE shuffle on the txn id; each id's (tiny, bounded)
    action sequence folds IN-ROW with a JVM higher-order aggregate — a
    sequential automaton without a Python UDF, the same sorted-fold trick
    the deterministic-sum operators use, so the replay is reproducible
    and engine-portable (the oracle folds the identical lambda).
    """
    o1, o2 = order_cols
    seq = F.array_sort(
        F.collect_list(F.struct(F.col(o1), F.col(o2), F.col(action_col).alias("a")))
    )
    actions = F.transform(seq, lambda s: s["a"])

    def step(acc, a):
        st = acc["state"]
        inited = acc["epochs"] > 0
        is_add = (a == "add_partitions") | (a == "add_offsets")
        is_end = (a == "end_commit") | (a == "end_abort")
        new_state = (
            F.when(a == "init", F.lit(0))
            .when(is_add & inited, F.lit(1))
            .when((a == "end_commit") & (st == 1), F.lit(2))
            .when((a == "end_abort") & (st == 1), F.lit(3))
            .otherwise(st)
        )
        return F.struct(
            new_state.alias("state"),
            (acc["epochs"] + F.when(a == "init", 1).otherwise(0)).alias("epochs"),
            (
                acc["committed"]
                + F.when((a == "end_commit") & (st == 1), 1).otherwise(0)
            ).alias("committed"),
            (
                acc["aborted"]
                + F.when((a == "end_abort") & (st == 1), 1).otherwise(0)
                + F.when((a == "init") & (st == 1), 1).otherwise(0)
            ).alias("aborted"),
            (
                acc["invalid"]
                + F.when((is_add & ~inited) | (is_end & (st != 1)), 1).otherwise(0)
            ).alias("invalid"),
        )

    init = F.struct(
        F.lit(0).alias("state"),
        F.lit(0).alias("epochs"),
        F.lit(0).alias("committed"),
        F.lit(0).alias("aborted"),
        F.lit(0).alias("invalid"),
    )
    folded = (
        events.groupBy(F.col(txn_col).alias("transactional_id"))
        .agg(F.aggregate(actions, init, step).alias("__m"))
    )
    state_name = F.element_at(
        F.array(
            F.lit("Empty"), F.lit("Ongoing"),
            F.lit("CompleteCommit"), F.lit("CompleteAbort"),
        ),
        F.col("__m.state") + 1,
    )
    return folded.select(
        "transactional_id",
        state_name.alias("final_state"),
        F.col("__m.epochs").alias("epochs"),
        F.col("__m.committed").alias("n_committed"),
        F.col("__m.aborted").alias("n_aborted"),
        F.col("__m.invalid").alias("n_invalid"),
    )


# ---------------------------------------------------------------------------
# coordinator janitors: timeout aborts + transactional-id expiration
# ---------------------------------------------------------------------------


def timed_out_transactions(
    txn_log: DataFrame, now_ms: int, timeout_ms: int, ts_col: str = "timestamp"
) -> DataFrame:
    """Transactions still OPEN whose first record is older than the
    transaction timeout — the set the reference coordinator's periodic
    sweep aborts (TransactionCoordinator.java:1034 "Abort timeout
    transactions": start + timeout < now ⇒ endTransaction(abort)).

    Grain is the coordinator-level transaction (pid, txn_group) — a txn
    spanning several partitions times out as ONE unit, from its earliest
    record anywhere, exactly like txnStartTimestamp in coordinator state.
    Epoch millis computed with integer DIV so the oracle replays the
    boundary exactly. One aggregation over the open subset; output is
    O(open transactions) rows — coordinator-scale tiny.
    """
    start_ms = F.expr(f"unix_micros({ts_col}) DIV 1000")
    return (
        txn_log.filter(F.col("txn_status") == "open")
        .groupBy("pid", "txn_group")
        .agg(
            F.min(start_ms).alias("txn_start_ms"),
            F.min("offset").alias("first_offset"),
            F.count("*").alias("n_records"),
        )
        .filter(F.col("txn_start_ms") + F.lit(timeout_ms) < F.lit(now_ms))
    )


def abort_timed_out_transactions(
    txn_log: DataFrame, now_ms: int, timeout_ms: int, ts_col: str = "timestamp"
) -> DataFrame:
    """The timeout-abort sweep applied to the log: every timed-out open
    transaction's records flip to txn_status='abort' — the synthetic abort
    markers the reference coordinator writes when a producer dies
    mid-transaction (TransactionCoordinator.java:1034; config
    transaction.timeout.ms, TransactionConfig.java). Without this sweep a
    dead producer's open txn holds the LSO down FOREVER and read-committed
    consumers stall — the exact incident the periodic abort prevents.

    Composes downstream unchanged: aborted_txn_index picks up the flipped
    spans, last_stable_offsets advances past them, read_committed unblocks
    (pinned by test), and txn_markers emits their ABORT control rows.

    Scale: the timed-out set is O(open transactions) rows, broadcast; the
    log itself is never shuffled — one broadcast hash join + a projection.
    """
    sweep = timed_out_transactions(txn_log, now_ms, timeout_ms, ts_col).select(
        "pid", "txn_group", F.lit(True).alias("__timed_out")
    )
    return (
        txn_log.join(F.broadcast(sweep), ["pid", "txn_group"], "left")
        .withColumn(
            "txn_status",
            # only open txns enter the sweep set, so every matched row is
            # part of a still-open transaction — flip the whole txn
            F.when(F.col("__timed_out"), F.lit("abort")).otherwise(
                F.col("txn_status")
            ),
        )
        .drop("__timed_out")
    )


def expire_transactional_ids(
    events: DataFrame,
    now_ms: int,
    expiration_ms: int,
    txn_col: str = "transactional_id",
    action_col: str = "action",
    order_cols: tuple[str, str] = ("ts", "event_id"),
) -> DataFrame:
    """Transactional-id expiration — the txn-side twin of
    groups.expire_offsets (reference TransactionConfig.java:51
    transactionalIdExpirationMs; TransactionStateManager's expiration task
    removes ids idle past the horizon, but NEVER an id with an ongoing
    transaction). Without it the coordinator state table grows with every
    id ever seen.

    Emits the coordinator state (txn_state_machine columns) plus
    ``last_update_ms`` and the ``expired`` verdict:
    expired ⇔ final_state ≠ Ongoing AND last_update + expiration < now.
    Callers filter(~expired) for the retained state or filter(expired)
    for the tombstones to write, mirroring the broker's tombstone append.

    Same single-shuffle plan as txn_state_machine; the per-id last-update
    aggregate is a second projection of the same shuffle grain, joined
    broadcast (O(ids) rows).
    """
    o1 = order_cols[0]
    state = txn_state_machine(events, txn_col, action_col, order_cols)
    last = events.groupBy(F.col(txn_col).alias("transactional_id")).agg(
        F.max(F.expr(f"unix_micros({o1}) DIV 1000")).alias("last_update_ms")
    )
    return state.join(F.broadcast(last), "transactional_id").withColumn(
        "expired",
        (F.col("final_state") != "Ongoing")
        & (F.col("last_update_ms") + F.lit(expiration_ms) < F.lit(now_ms)),
    )


# ---------------------------------------------------------------------------
# producer-state snapshots: bounded recovery instead of full-log recompute
# ---------------------------------------------------------------------------


class ProducerStateStore:
    """Producer-state snapshot + tail-replay recovery.

    The reference bounds transaction recovery by periodically snapshotting
    the producer state map and replaying only the log tail past the
    snapshot's offset (storage/PartitionLog.takeProducerSnapshot:1194,
    recoverTxEntries:1244). The repo's ``txn_summary`` recomputes from the
    full log — exact, but O(log) on every recovery; at a 100 TB log the
    recompute IS the outage. This store persists the summary table plus
    per-partition high watermarks, and recovery becomes
    ``snapshot ∪ txn_summary(tail)`` re-aggregated — exact because every
    column of the summary is decomposable (min first_offset /
    max last_offset / max txn_status), so a transaction spanning the
    snapshot boundary merges correctly from its two partial rows.

    Layout (same discipline as CommittedLog, one dir per snapshot plus a
    manifest published through the same ``PosixManifestBackend``
    PUT-if-absent, so readers never see a half-written one)::

        <root>/snap-<n>/*.parquet      summary rows
        <root>/_manifests/<n>.json     {"watermarks": {"<partition>": next_offset}}

    Scale: the snapshot is O(num-transactions) rows (tiny next to the
    log); the tail scan is bounded by data-since-last-snapshot, and its
    global ``offset >= min(watermark)`` prefilter is a plain comparison
    Catalyst pushes to the parquet scan, with the exact per-partition
    cutoff applied via a broadcast of the (num-partitions)-row watermark
    table — the log never shuffles.
    """

    def __init__(self, root: str):
        import os

        self.root = root
        self.backend = PosixManifestBackend(os.path.join(root, "_manifests"))

    def _snapshot_ids(self) -> list[int]:
        return sorted(int(k[: -len(".json")]) for k in self.backend.list_keys())

    def latest(self) -> tuple[int, dict[int, int]] | None:
        """(snapshot_id, {partition: next_offset}) of the newest committed
        snapshot, or None."""
        manifest = self._manifest()
        if manifest is None:
            return None
        snap_id, m = manifest
        return snap_id, {int(p): int(o) for p, o in m["watermarks"].items()}

    def _manifest(self) -> tuple[int, dict] | None:
        import json

        ids = self._snapshot_ids()
        if not ids:
            return None
        return ids[-1], json.loads(self.backend.get(f"{ids[-1]}.json"))

    def take_snapshot(self, txn_log: DataFrame) -> int:
        """Persist txn_summary(txn_log) plus the per-partition high
        watermarks it covers. Watermark collection is control-plane
        (num-partitions rows); the summary write is one aggregation pass.
        The manifest is published with the backend's PUT-if-absent
        (durable and atomic), so a racing snapshotter loses cleanly and
        retries with the next id."""
        import json
        import os
        import uuid

        # data dir is writer-unique: two racing snapshotters must never
        # share one (mode=overwrite is delete-then-write — a shared dir
        # would let the winner's manifest point at the loser's or a
        # corrupt interleaved mix). The manifest records which dir its
        # commit covers; losers leave orphan dirs, invisible to readers
        # (same discipline as CommittedLog's orphaned data files).
        data_dir = f"snap-{uuid.uuid4().hex[:12]}"
        data_path = os.path.join(self.root, data_dir)
        txn_summary(txn_log).write.mode("overwrite").parquet(data_path)
        # watermarks from the JUST-WRITTEN summary, not a second pass over
        # txn_log (round 10, guide §1.2: the input is typically a derived
        # frame — offset-window over the log — so a dedicated watermark
        # aggregation re-ran that whole derivation). Every record lands in
        # exactly one (partition, pid, txn_group) summary group, so
        # max(last_offset)+1 per partition over the summary ≡
        # max(offset)+1 over txn_log; the summary parquet is
        # O(num-transactions) — the re-read is footer-cheap.
        wm = {
            int(r["partition"]): int(r["next_offset"])
            for r in txn_log.sparkSession.read.parquet(data_path)
            .groupBy("partition")
            .agg((F.max("last_offset") + 1).alias("next_offset"))
            .collect()
        }
        payload = json.dumps(
            {
                "watermarks": {str(p): o for p, o in wm.items()},
                "data_dir": data_dir,
            }
        ).encode()
        snap_id = (self._snapshot_ids() or [0])[-1] + 1
        # lost the race: same data, next manifest id
        while not self.backend.put_if_absent(f"{snap_id}.json", payload):
            snap_id += 1
        return snap_id

    def snapshot_tail(self, txn_log: DataFrame, watermarks: dict[int, int]) -> DataFrame:
        """The records NOT covered by the snapshot: a literal prefilter
        (pushed to the parquet scan) admits offsets past the global minimum
        watermark OR any partition the snapshot has never seen — without
        the isin() disjunct the global cutoff would silently drop a
        post-snapshot partition's low offsets — then the exact
        per-partition cutoff applies via a broadcast join (unknown
        partitions coalesce to watermark 0: full replay)."""
        spark = txn_log.sparkSession
        min_wm = min(watermarks.values(), default=0)
        known = [int(p) for p in watermarks]
        wm_df = local_frame(
            spark,
            [(int(p), int(o)) for p, o in watermarks.items()],
            "partition int, __wm long",
        )
        prefilter = (F.col("offset") >= F.lit(min_wm)) | ~F.col("partition").isin(
            known
        )
        return (
            txn_log.filter(prefilter)
            .join(F.broadcast(wm_df), "partition", "left")
            .filter(F.col("offset") >= F.coalesce(F.col("__wm"), F.lit(0)))
            .drop("__wm")
        )

    def recover(self, spark, txn_log: DataFrame) -> DataFrame:
        """Recovered producer state ≡ txn_summary(full log), computed as
        snapshot + tail replay. The re-aggregation runs over
        O(num-transactions) rows, never the log."""
        manifest = self._manifest()
        if manifest is None:
            return txn_summary(txn_log)
        _, m = manifest
        watermarks = {int(p): int(o) for p, o in m["watermarks"].items()}
        import os

        snap = spark.read.parquet(os.path.join(self.root, m["data_dir"]))
        tail = txn_summary(self.snapshot_tail(txn_log, watermarks))
        return (
            snap.unionByName(tail)
            .groupBy("partition", "pid", "txn_group")
            .agg(
                F.min("first_offset").alias("first_offset"),
                F.max("last_offset").alias("last_offset"),
                F.max("txn_status").alias("txn_status"),
            )
        )
