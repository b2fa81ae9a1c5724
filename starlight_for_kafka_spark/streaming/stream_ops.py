"""Structured Streaming forms of the reference's stream workloads.

The reference proves (via its Kafka Streams test suite,
tests/src/test/java/io/streamnative/pulsar/handlers/kop/streams/) that it
supports windowed/session/keyed aggregation, KTable upserts, and
stream–table joins over its log. Here each becomes a readStream →
transform → writeStream pipeline:

  * watermark = Streams "grace period" (SessionWindows.ofInactivityGapAndGrace)
  * checkpointLocation = the consumer-group committed offset (§2.3) — the
    engine owns offsets exactly like the group coordinator does
  * foreachBatch + transactional sink = the transaction coordinator (§2.4):
    a microbatch is the transaction, so commit/abort is batch atomicity

The log source is any directory the LogTable writes (file stream); against
a real Kafka cluster the same plans run off ``format("kafka")`` unchanged —
the record schema matches by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from starlight_for_kafka_spark.plans.kernels import kernel
from starlight_for_kafka_spark.sources.logtable import KAFKA_RECORD_SCHEMA


def read_log_stream(spark: SparkSession, path: str) -> DataFrame:
    """FETCH as a stream: tail the log directory. startingOffsets≡where the
    checkpoint left off; maxFilesPerTrigger bounds a microbatch like the
    reference's maxReadEntriesNum fetch bound."""
    return (
        spark.readStream.schema(KAFKA_RECORD_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def windowed_count_stream(
    log: DataFrame, duration: str = "500 milliseconds", watermark: str = "1 second"
) -> DataFrame:
    """Tumbling-window count (KStreamAggregationTest.java:421 streaming
    form). Watermark bounds state: late records beyond it are dropped, the
    grace-period semantic."""
    return (
        log.withWatermark("timestamp", watermark)
        .groupBy(F.window("timestamp", duration), F.col("key"))
        .agg(F.count("*").alias("cnt"))
    )


def hopping_window_count_stream(
    log: DataFrame,
    duration: str = "1 second",
    slide: str = "500 milliseconds",
    watermark: str = "2 seconds",
) -> DataFrame:
    """Hopping-window count (TimeWindows.of(...).advanceBy(...)): each event
    lands in duration/slide windows; the streaming form of
    operators/windows.sliding_window_agg."""
    return (
        log.withWatermark("timestamp", watermark)
        .groupBy(F.window("timestamp", duration, slide), F.col("key"))
        .agg(F.count("*").alias("cnt"))
    )


def session_window_count_stream(
    log: DataFrame, gap: str = "300 milliseconds", grace: str = "1 second"
) -> DataFrame:
    """Session-window count with inactivity gap + grace
    (KStreamAggregationTest.java:450 shouldCountSessionWindows):
    ``session_window`` merges events closer than ``gap``; the watermark is
    the grace period after which a session can no longer extend."""
    return (
        log.withWatermark("timestamp", grace)
        .groupBy(F.session_window("timestamp", gap), F.col("key"))
        .agg(F.count("*").alias("cnt"))
    )


def ktable_stream(log: DataFrame) -> DataFrame:
    """KTable changelog as a stream: latest value per key. Complete-output
    max_by keyed aggregation — the streaming analog of
    operators/ktable.ktable_latest (KTableTest.java:80). State restore on
    restart comes from the checkpoint, playing the role of the reference's
    changelog-topic restore.

    NOTE: state here is one row per LIVE KEY forever — a KTable is the
    full materialized latest view, so no watermark applies (an earlier
    signature accepted a ``watermark`` argument it silently ignored,
    implying bounded state this aggregation does not have; the bounded
    siblings are idempotent_stream / dedup_stream)."""
    return log.groupBy("key").agg(
        F.max_by(F.col("value"), F.struct("partition", "offset")).alias("value"),
        F.max(F.struct("partition", "offset")).alias("last_position"),
    )


def idempotent_stream(log_with_pid: DataFrame, watermark: str = "10 seconds") -> DataFrame:
    """Streaming idempotent produce: drop duplicate (pid, epoch, seq)
    within the watermark — bounded state, the same guarantee the
    reference's producer-state map gives within snapshot retention
    (storage/ProducerStateManager.java)."""
    return log_with_pid.withWatermark("timestamp", watermark).dropDuplicatesWithinWatermark(
        ["pid", "epoch", "seq"]
    )


def dedup_stream(log: DataFrame, watermark: str = "10 seconds") -> DataFrame:
    """Streaming exact content dedup for ingestion pipelines: drop records
    whose (key, value) digest was already seen within the watermark
    horizon. State is keyed by digest and EXPIRES with the watermark
    (dropDuplicatesWithinWatermark), so state size is bounded by the
    horizon's traffic, not corpus history — the streaming sibling of
    operators/dedup.py:exact_dedup; cross-horizon dedup composes with the
    batch incremental_dedup anti-join at rest."""
    # hash key and value SEPARATELY, then combine: a raw concat with a
    # separator byte lets distinct records collide (key=b'a|',value=b'b'
    # vs key=b'a',value=b'|b' both concat to a||b) and silently drop one;
    # per-side digests with distinct null sentinels cannot (b'' vs NULL
    # also stay distinct)
    digest = F.md5(
        F.concat(
            F.coalesce(F.md5(F.col("key")), F.lit("null-key")),
            F.coalesce(F.md5(F.col("value")), F.lit("null-value")),
        )
    )
    return (
        log.withColumn("__digest", digest)
        .withWatermark("timestamp", watermark)
        .dropDuplicatesWithinWatermark(["__digest"])
        .drop("__digest")
    )


def typed_avro_stream(
    stream: DataFrame, schemas_by_id: dict[int, str], reader_schema: str
) -> DataFrame:
    """Streaming typed view over Confluent-framed Avro payloads: the same
    Arrow-batched decode kernel as the batch path (operators/registry.py
    avro_decode — mapInPandas composes with streaming microbatches
    unchanged), resolving each record's writer schema against the reader.
    This is the reference's consume-side schema path on a live stream
    (SchemaRegistryTest.java end-to-end consume)."""
    from starlight_for_kafka_spark.operators.registry import avro_decode

    return avro_decode(stream, schemas_by_id, reader_schema)


def stream_global_table_join(stream: DataFrame, table: DataFrame, on, how: str = "inner") -> DataFrame:
    """Streaming KStream ⋈ GlobalKTable: stream–static broadcast join
    (GlobalKTableTest.java) — the static side re-reads per microbatch,
    which IS GlobalKTable's full-replication semantics."""
    return stream.join(F.broadcast(table), on, how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    before: str = "0 seconds",
    after: str = "1 second",
    watermark: str = "2 seconds",
    how: str = "inner",
) -> DataFrame:
    """Streaming KStream ⋈ KStream with JoinWindows: watermark BOTH sides
    (required for Spark to bound join state), join on key equality plus the
    event-time range ``right_ts ∈ [left_ts - before, left_ts + after]``.

    The streaming form of operators/windows.interval_join — same results on
    a finite log (pinned by test). State per side is bounded by
    before + after + watermark; outer variants emit nulls only once the
    watermark passes, exactly Kafka Streams' grace-period-delayed leftJoin
    emission. Non-key columns must be disjointly named across sides.
    """
    l = left.withWatermark(left_ts, watermark).alias("__l")
    r = right.withWatermark(right_ts, watermark).alias("__r")
    cond = None
    for k in keys:
        eq = F.col(f"__l.{k}") == F.col(f"__r.{k}")
        cond = eq if cond is None else (cond & eq)
    cond = cond & F.expr(
        f"__r.{right_ts} BETWEEN __l.{left_ts} - INTERVAL {before}"
        f" AND __l.{left_ts} + INTERVAL {after}"
    )
    out = l.join(r, cond, how)
    for k in keys:
        out = out.drop(F.col(f"__r.{k}"))
    return out


GROUP_STATE_OUTPUT = "group string, generation int, n_members int, state string"
GROUP_STATE_SCHEMA = "members array<string>, generation int"


def group_coordinator_stream(membership: DataFrame) -> DataFrame:
    """The consumer-group coordinator state machine as a custom stateful
    streaming operator (applyInPandasWithState keyed by group) — the
    streaming form of operators/groups.recover_group_state, modeling
    GroupCoordinator.handleJoinGroup/handleLeaveGroup/handleHeartbeat
    (coordinator/group/GroupCoordinator.java:215-438, 565-595, 658-718).

    State per group = (live member set, generation); each join/leave is a
    rebalance (generation += 1), heartbeats only refresh liveness. Emits one
    updated snapshot per group per microbatch. Semantics match the batch
    replay exactly, so a finite stream must converge to
    ``recover_group_state`` of the same log — pinned by test.

    Scale: state is per-group (bytes per member id) in the state store;
    events shuffle once on the group key. This is the pattern for any
    reference operator that is genuinely a keyed state machine rather than
    an aggregation.
    """
    import pandas as pd

    def update(key, pdfs, state):
        if state.exists:
            members_list, generation = state.get
            members = set(members_list)
        else:
            members, generation = set(), 0
        for pdf in pdfs:
            for r in pdf.sort_values(["ts", "event_id"]).itertuples():
                if r.action == "join":
                    members.add(r.member)
                    generation += 1
                elif r.action == "leave":
                    members.discard(r.member)
                    generation += 1
        state.update((sorted(members), generation))
        yield pd.DataFrame(
            {
                "group": [key[0]],
                "generation": [generation],
                "n_members": [len(members)],
                "state": ["Empty" if not members else "Stable"],
            }
        )

    return membership.groupBy("group").applyInPandasWithState(
        kernel(update), GROUP_STATE_OUTPUT, GROUP_STATE_SCHEMA, "update", "NoTimeout"
    )


REBALANCE_OUTPUT = (
    "group string, generation int, state string, n_members int,"
    " members string, n_rejoining int"
)
REBALANCE_STATE_SCHEMA = (
    "st int, gen int, members array<string>, known array<string>,"
    " rejoined array<string>, deadline bigint"
)


def group_coordinator_rebalance_stream(
    membership: DataFrame, rebalance_timeout_ms: int = 60_000
) -> DataFrame:
    """Streaming form of groups.recover_group_state_rebalance — the
    DelayedJoin admission-window coordinator (GroupCoordinator.java:
    1113-1123: InitialDelayedJoin for generation 0, DelayedJoin with
    all-members-rejoined early completion after; prepareRebalance :933).

    Identical event-time automaton as the batch fold (joins during
    PreparingRebalance coalesce into one generation bump; the window
    closes early when every known member rejoined — gen 0 always waits —
    or at the first event at/after the deadline), carried across
    microbatches in the state store, so a finite stream converges to the
    batch fold of the same log — pinned by test. State per group is a
    handful of member ids + a deadline; events shuffle once on the group
    key."""
    import pandas as pd

    def update(key, pdfs, state):
        if state.exists:
            st, gen, members, known, rejoined, deadline = state.get
            members, known, rejoined = list(members), list(known), list(rejoined)
        else:
            st, gen, members, known, rejoined, deadline = 0, 0, [], [], [], None

        def complete():
            nonlocal st, gen, members, known, rejoined, deadline
            gen += 1
            members = sorted(rejoined)
            st = 2 if members else 0
            known, rejoined, deadline = [], [], None

        for pdf in pdfs:
            for r in pdf.sort_values(["ts", "event_id"]).itertuples():
                ts_ms = int(r.ts.value // 1_000_000)
                if st == 1 and deadline is not None and ts_ms >= deadline:
                    complete()
                if r.action == "join":
                    if st == 1:
                        if r.member not in rejoined:
                            rejoined.append(r.member)
                    else:
                        known = list(members) if st == 2 else []
                        rejoined = [r.member]
                        deadline = ts_ms + rebalance_timeout_ms
                        st = 1
                elif r.action == "leave":
                    if st == 1:
                        known = [m for m in known if m != r.member]
                        rejoined = [m for m in rejoined if m != r.member]
                    elif r.member in members:
                        known = [m for m in members if m != r.member]
                        rejoined = []
                        deadline = ts_ms + rebalance_timeout_ms
                        st = 1
                # heartbeat: only advances event time (handled above)
                if st == 1 and gen > 0 and all(m in rejoined for m in known):
                    complete()
        state.update((st, gen, members, known, rejoined, deadline))
        yield pd.DataFrame(
            {
                "group": [key[0]],
                "generation": [gen],
                "state": [["Empty", "PreparingRebalance", "Stable"][st]],
                "n_members": [len(members)],
                "members": [",".join(sorted(members))],
                "n_rejoining": [len(rejoined)],
            }
        )

    return membership.groupBy("group").applyInPandasWithState(
        kernel(update), REBALANCE_OUTPUT, REBALANCE_STATE_SCHEMA, "update", "NoTimeout"
    )


EMA_OUTPUT = "key string, ema double, n long"
EMA_STATE_SCHEMA = "ema double, n long"


def ema_stream(keyed_values: DataFrame, alpha: float = 0.1) -> DataFrame:
    """Order-dependent custom aggregate: exponential moving average per key.

    The Streams custom init+adder aggregator (KStreamAggregationTest.java:
    242-287) in its genuinely-stateful form — an EMA depends on arrival
    order, so no built-in commutative aggregate expresses it; this is the
    applyInPandasWithState shape for such operators. Input columns:
    (key, ts, value)."""
    import pandas as pd

    def update(key, pdfs, state):
        ema, n = state.get if state.exists else (None, 0)
        for pdf in pdfs:
            for r in pdf.sort_values("ts").itertuples():
                v = float(r.value)
                ema = v if ema is None else alpha * v + (1 - alpha) * ema
                n += 1
        state.update((ema, n))
        yield pd.DataFrame({"key": [key[0]], "ema": [ema], "n": [n]})

    return keyed_values.groupBy("key").applyInPandasWithState(
        kernel(update), EMA_OUTPUT, EMA_STATE_SCHEMA, "update", "NoTimeout"
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append") -> None:
    """Drive a streaming query to completion over currently-available data
    (test/bench harness): memory sink + processAllAvailable."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def idempotent_parquet_sink(out_dir: str):
    """foreachBatch sink with epoch-level idempotence: each microbatch
    lands in ``out_dir/epoch=<id>``, and a replayed epoch (checkpoint
    recovery re-delivers the last uncommitted batch) is a no-op once its
    _SUCCESS marker exists. overwrite-mode handles a partially-written
    crash. This is the sink half of exactly-once that the checkpoint alone
    does not give a non-transactional target — the reference gets the same
    from transaction markers + read-committed (§2.4); Delta/Iceberg give
    it via table transactions.

    Local-filesystem marker check; on HDFS/S3 swap the existence check for
    the Hadoop FileSystem API (same shape).
    """
    import os

    def write(df: DataFrame, epoch_id: int) -> None:
        path = os.path.join(out_dir, f"epoch={epoch_id}")
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            return
        df.write.mode("overwrite").parquet(path)

    return write


def write_exactly_once(stream_df: DataFrame, batch_fn, checkpoint: str):
    """END_TXN as batch atomicity: foreachBatch hands (df, epoch_id) to a
    transactional sink; epoch_id replay-dedup gives exactly-once — the
    Spark-native TransactionCoordinator (§2.4)."""
    return (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def commitlog_sink(log_root: str, sink_id: str, order_col: str | None = None):
    """foreachBatch sink writing each microbatch through the CommittedLog
    optimistic-commit protocol with ``txn_id = <sink_id>-epoch-<id>`` —
    exactly-once into a MULTI-WRITER log: checkpoint-recovery epoch
    replays no-op (txn_id already in a manifest), and concurrent writers
    to the same log (other streams, batch backfills) serialize through
    the manifest race instead of clobbering offsets. This is the
    sink-side half the reference's transaction coordinator provides via
    END_TXN + WRITE_TXN_MARKERS (§2.4); here the manifest IS the marker.

    ``sink_id`` namespaces the replay-dedup ledger PER QUERY — epoch
    numbers restart at 0 for every new checkpoint, so without it a second
    stream (or a stream whose checkpoint was recreated) writing the same
    log would silently drop its first batches as "already committed".
    Use a stable identifier tied to the query's checkpoint (e.g. the
    checkpoint path or queryName); it must survive restarts of the SAME
    query and differ between different queries.
    """
    from starlight_for_kafka_spark.sources import CommittedLog

    def write(df: DataFrame, epoch_id: int) -> None:
        CommittedLog(log_root).append(
            df, order_col=order_col, txn_id=f"{sink_id}-epoch-{epoch_id}"
        )

    return write


TXN_STATE_OUTPUT = (
    "transactional_id string, final_state string, epochs int, "
    "n_committed int, n_aborted int, n_invalid int"
)
TXN_STATE_SCHEMA = "state int, epochs int, committed int, aborted int, invalid int"
# the timeout variant also carries the open transaction's start ms (the
# deadline anchor); None while no transaction is in flight
TXN_TIMEOUT_STATE_SCHEMA = TXN_STATE_SCHEMA + ", start bigint"


def txn_coordinator_stream(txn_events: DataFrame) -> DataFrame:
    """The transaction coordinator state machine as a custom stateful
    streaming operator (applyInPandasWithState keyed by transactional id) —
    the streaming form of operators/transactions.txn_state_machine, modeling
    TransactionCoordinator.handleInitProducerId/handleAddPartitionsToTransaction/
    handleEndTransaction (TransactionCoordinator.java:317,569,658; states
    TransactionState.java:19-69). Same transition rules as the batch fold
    (init fences an ongoing txn, ends from non-Ongoing are
    INVALID_TXN_STATE).

    ORDERING CONTRACT: events are applied in ARRIVAL order across
    microbatches (each batch is sorted by (ts, event_id, action) before
    folding, but an event arriving in a later batch folds later even if
    its timestamp is older) — exactly how the reference coordinator
    applies requests, which arrive in socket order, not event-time order.
    Convergence to the batch replay (txn_state_machine's global sort) is
    guaranteed when each key's events arrive in event order or within a
    single microbatch — pinned by test with whole-key microbatches.

    Input columns: (transactional_id, ts, event_id, action). State per txn
    id is five ints; events shuffle once on the id.
    """
    import pandas as pd

    names = ["Empty", "Ongoing", "CompleteCommit", "CompleteAbort"]

    def update(key, pdfs, state):
        st, ep, com, ab, inv = state.get if state.exists else (0, 0, 0, 0, 0)
        for pdf in pdfs:
            for r in pdf.sort_values(["ts", "event_id", "action"]).itertuples():
                a = r.action
                is_add = a in ("add_partitions", "add_offsets")
                is_end = a in ("end_commit", "end_abort")
                if is_add and ep == 0:
                    inv += 1
                if is_end and st != 1:
                    inv += 1
                if a == "end_commit" and st == 1:
                    com += 1
                if a == "end_abort" and st == 1:
                    ab += 1
                if a == "init" and st == 1:
                    ab += 1  # fencing aborts the in-flight txn
                if a == "init":
                    st, ep = 0, ep + 1
                elif is_add and ep > 0:
                    st = 1
                elif a == "end_commit" and st == 1:
                    st = 2
                elif a == "end_abort" and st == 1:
                    st = 3
        state.update((st, ep, com, ab, inv))
        yield pd.DataFrame(
            {
                "transactional_id": [key[0]],
                "final_state": [names[st]],
                "epochs": [ep],
                "n_committed": [com],
                "n_aborted": [ab],
                "n_invalid": [inv],
            }
        )

    return txn_events.groupBy("transactional_id").applyInPandasWithState(
        kernel(update), TXN_STATE_OUTPUT, TXN_STATE_SCHEMA, "update", "NoTimeout"
    )


def txn_coordinator_timeout_stream(
    txn_events: DataFrame,
    timeout_ms: int = 60_000,
    watermark: str = "0 seconds",
    ts_col: str = "ts",
    id_expiration_ms: int | None = None,
) -> DataFrame:
    """txn_coordinator_stream + the coordinator's periodic timeout-abort
    sweep (TransactionCoordinator.java:1034) as an EVENT-TIME STATE
    TIMEOUT. The deadline is armed from the transaction's START —
    txn_start + timeout_ms, the reference's txnStartTimestamp check and
    the batch twin's rule (timed_out_transactions: min record ts +
    timeout < now) — NOT from the last event: a long-running transaction
    that keeps adding partitions still times out at start + timeout, and
    a late-arriving older event cannot rewind the deadline because the
    start lives in the state, monotone per transaction. If the watermark
    passes the deadline with the transaction still Ongoing, it aborts —
    the streaming twin of abort_timed_out_transactions (pinned by test,
    including the keeps-adding producer).

    Requires a watermark on ``ts_col`` (event-time timeouts fire off the
    watermark, exactly how the reference's sweep fires off the clock).
    State per id is five ints + the open txn's start ms; a timed-out id
    emits its post-abort snapshot in the batch the watermark crosses the
    deadline. A stale timeout (state no longer Ongoing when it fires) is
    a no-op, matching the coordinator's re-check before aborting.

    ``id_expiration_ms`` additionally enables TRANSACTIONAL-ID EXPIRATION
    (TransactionConfig.java:51, the batch twin of
    transactions.expire_transactional_ids): an id idle past the horizon
    with NO transaction in flight times out into Kafka's terminal
    ``Dead`` state — one final Dead row emits and the coordinator state
    REMOVES, so the state store stays bounded by live ids (a later event
    for the id rebuilds from scratch, exactly the broker's behavior after
    an id purge). Ongoing ids never expire; they abort first, then the
    expiry clock runs from the abort.
    """
    import pandas as pd

    names = ["Empty", "Ongoing", "CompleteCommit", "CompleteAbort"]

    def update(key, pdfs, state):
        if state.exists:
            st, ep, com, ab, inv, start = state.get
        else:
            st, ep, com, ab, inv, start = 0, 0, 0, 0, 0, None
        if state.hasTimedOut:
            if st == 1:
                # producer died mid-transaction: abort; re-arm the expiry
                # clock from the abort if id expiration is on
                st, ab, start = 3, ab + 1, None
                state.update((st, ep, com, ab, inv, start))
                if id_expiration_ms is not None:
                    # strictly-past-watermark guard, like every arming site
                    # (id_expiration_ms=0 would otherwise equal the
                    # watermark and crash the query)
                    wm = state.getCurrentWatermarkMs()
                    state.setTimeoutTimestamp(
                        max(wm + id_expiration_ms, wm + 1)
                    )
            elif id_expiration_ms is not None:
                # idle, nothing in flight: the id itself expires — emit
                # one terminal Dead row and purge the coordinator state
                state.remove()
                yield pd.DataFrame(
                    {
                        "transactional_id": [key[0]],
                        "final_state": ["Dead"],
                        "epochs": [ep],
                        "n_committed": [com],
                        "n_aborted": [ab],
                        "n_invalid": [inv],
                    }
                )
                return
            else:
                # STALE timeout: the transaction completed after its
                # start+timeout deadline was armed (event-time timeouts
                # cannot be un-armed) and no id-expiration clock runs.
                # The coordinator's re-check finds nothing Ongoing —
                # no state change, so emit NOTHING: the unconditional
                # snapshot below would re-emit a duplicate row for a
                # transition that already emitted when it happened.
                state.update((st, ep, com, ab, inv, start))
                return
        else:
            last_ms = None
            for pdf in pdfs:
                for r in pdf.sort_values([ts_col, "event_id", "action"]).itertuples():
                    a = r.action
                    ts_ms = int(getattr(r, ts_col).value // 1_000_000)
                    last_ms = ts_ms if last_ms is None else max(last_ms, ts_ms)
                    is_add = a in ("add_partitions", "add_offsets")
                    is_end = a in ("end_commit", "end_abort")
                    if is_add and ep == 0:
                        inv += 1
                    if is_end and st != 1:
                        inv += 1
                    if a == "end_commit" and st == 1:
                        com += 1
                    if a == "end_abort" and st == 1:
                        ab += 1
                    if a == "init" and st == 1:
                        ab += 1  # fencing aborts the in-flight txn
                    if a == "init":
                        st, ep, start = 0, ep + 1, None
                    elif is_add and ep > 0:
                        if st != 1:
                            start = ts_ms  # Empty/Complete* -> Ongoing
                        st = 1
                    elif a == "end_commit" and st == 1:
                        st, start = 2, None
                    elif a == "end_abort" and st == 1:
                        st, start = 3, None
            state.update((st, ep, com, ab, inv, start))
            if st == 1 and start is not None:
                # deadline must sit strictly past the current watermark or
                # Spark rejects it — a transaction whose deadline already
                # passed aborts in the next batch either way
                state.setTimeoutTimestamp(
                    max(start + timeout_ms, state.getCurrentWatermarkMs() + 1)
                )
            elif id_expiration_ms is not None and last_ms is not None:
                # nothing in flight: arm the id-expiration clock from the
                # id's last activity (transactionalIdExpirationMs)
                state.setTimeoutTimestamp(
                    max(
                        last_ms + id_expiration_ms,
                        state.getCurrentWatermarkMs() + 1,
                    )
                )
        yield pd.DataFrame(
            {
                "transactional_id": [key[0]],
                "final_state": [names[st]],
                "epochs": [ep],
                "n_committed": [com],
                "n_aborted": [ab],
                "n_invalid": [inv],
            }
        )

    return (
        txn_events.withWatermark(ts_col, watermark)
        .groupBy("transactional_id")
        .applyInPandasWithState(
            kernel(update),
            TXN_STATE_OUTPUT,
            TXN_TIMEOUT_STATE_SCHEMA,
            "update",
            "EventTimeTimeout",
        )
    )


def latency_histogram_stream(
    log: DataFrame,
    value_col: str,
    buckets: list[float],
    duration: str = "1 hour",
    watermark: str = "1 hour",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Streaming twin of operators/metrics.prom_histogram: per-window
    NON-cumulative le-bucket counts — the live form of the reference's
    REQUEST_LATENCY export (RequestStats.java meters on the hot path;
    here the windowed aggregation maintains the buckets incrementally and
    the watermark bounds state). Bucket assignment is the SAME shared
    bucket_le expression as the batch histogram, so window histograms
    from the stream merge bucket-wise with (and converge to) the batch
    grid. The emitted counts are SPARSE (empty buckets absent) — run
    them through metrics.cumulative_from_sparse before
    histogram_quantile, which requires the dense grid (feeding sparse
    rows directly mis-anchors the interpolation lower bound across
    empty buckets and loses the +Inf clamp for all-overflow windows).
    NULL observations are dropped, matching prom_histogram.
    """
    from starlight_for_kafka_spark.operators.metrics import bucket_le

    return (
        log.filter(F.col(value_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, duration), bucket_le(value_col, buckets).alias("le"))
        .agg(F.count("*").alias("n"))
    )


def hll_registers_stream(
    log: DataFrame,
    value_col: str,
    duration: str = "1 hour",
    watermark: str = "1 hour",
    ts_col: str = "timestamp",
    b: int = 8,
) -> DataFrame:
    """Streaming twin of operators/analytics.hll_registers: per-window
    HLL register maxima maintained incrementally (max is a streaming-
    supported aggregate, so no custom state operator is needed). The
    emitted (window, idx, M) rows ARE the mergeable sketch artifact —
    estimator math runs downstream on the tiny register table, and
    window sketches roll up to coarser windows by register-wise max,
    exactly like the batch form."""
    from starlight_for_kafka_spark.operators.analytics import hll_register_cols

    idx, rho = hll_register_cols(value_col, b)
    return (
        log.filter(F.col(value_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, duration), idx.alias("idx"))
        .agg(F.max(rho).alias("M"))
    )


def cm_sketch_stream(
    log: DataFrame,
    value_col: str,
    duration: str = "1 hour",
    watermark: str = "1 hour",
    ts_col: str = "timestamp",
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Streaming twin of operators/skew.cm_sketch: per-window Count-Min
    counters maintained incrementally (count is streaming-native). The
    emitted (window, row, col, c) counters merge across windows by
    summing — the live per-window frequency sketch the batch probe
    (cm_estimate) reads downstream."""
    from starlight_for_kafka_spark.operators.skew import _cm_positions

    return (
        log.filter(F.col(value_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .select(ts_col, _cm_positions(value_col, width, depth).alias("e"))
        .groupBy(
            F.window(ts_col, duration),
            F.col("e.row").alias("row"),
            F.col("e.col").alias("col"),
        )
        .agg(F.count("*").alias("c"))
    )


OFFSETS_WIRE_OUTPUT = (
    "group string, topic string, partition int, offset long, metadata string,"
    " commit_ts_ms long, leader_epoch int, value_version int, deleted boolean"
)
OFFSETS_WIRE_STATE = (
    "ord bigint, tomb boolean, offset bigint, metadata string,"
    " commit_ts_ms bigint, leader_epoch int, value_version int"
)


def offsets_wire_recovery_stream(records: DataFrame) -> DataFrame:
    """Streaming __consumer_offsets recovery over raw binary records: the
    byte-level twin of groups.recover_offsets_from_wire as a stateful
    stream. Records (key/value binary + append_ts) decode in-stream
    (decode_offsets_topic's mapInArrow kernel works identically on
    streaming frames), then applyInPandasWithState keyed by (group,
    topic, partition) keeps only the winning record per key under the
    same (append_ts, tombstone, offset) ranking the batch path uses.

    The fold is a MAX over that ranking — order-independent — so arrival
    order across microbatches cannot change the converged state (no
    whole-key-per-batch delivery requirement; contrast the coordinator
    state machine, which folds in arrival order). Each batch emits the
    key's current winner with ``deleted`` = latest-is-tombstone, the
    update-mode changelog a downstream compacted view consumes. State per
    key is one small tuple; a real 100 TB offsets topic has O(groups x
    partitions) keys — exactly the broker's cache size.
    """
    import pandas as pd

    from starlight_for_kafka_spark.operators.groups import decode_offsets_topic

    decoded = decode_offsets_topic(records).filter(F.col("kind") == "offset")
    # mirror the batch twin (groups.recover_offsets_from_wire): a raw
    # (key, value)-only stream carries no append_ts column — the embedded
    # commit timestamp is then the only ordering signal
    ord_col = (
        F.coalesce(F.col("append_ts"), F.col("commit_ts_ms"))
        if "append_ts" in decoded.columns
        else F.col("commit_ts_ms")
    )
    decoded = decoded.withColumn("ord_ms", ord_col)

    def _rank(t):
        # (ord, tombstone, offset) — same ordering as the batch window
        return (
            t[0] if t[0] is not None else -1,
            1 if t[1] else 0,
            t[2] if t[2] is not None else -1,
        )

    def update(key, pdfs, state):
        best = tuple(state.get) if state.exists else None
        for pdf in pdfs:
            for r in pdf.itertuples(index=False):
                cand = (
                    None if pd.isna(r.ord_ms) else int(r.ord_ms),
                    bool(r.tombstone),
                    None if pd.isna(r.offset) else int(r.offset),
                    None if r.metadata is None else str(r.metadata),
                    None if pd.isna(r.commit_ts_ms) else int(r.commit_ts_ms),
                    None if pd.isna(r.leader_epoch) else int(r.leader_epoch),
                    None if pd.isna(r.value_version) else int(r.value_version),
                )
                if best is None or _rank(cand) > _rank(best):
                    best = cand
        state.update(best)
        yield pd.DataFrame(
            [
                (
                    key[0], key[1], key[2], best[2], best[3], best[4],
                    best[5], best[6], best[1],
                )
            ],
            columns=[
                "group", "topic", "partition", "offset", "metadata",
                "commit_ts_ms", "leader_epoch", "value_version", "deleted",
            ],
        )

    return decoded.groupBy("group", "topic", "partition").applyInPandasWithState(
        kernel(update), OFFSETS_WIRE_OUTPUT, OFFSETS_WIRE_STATE, "update", "NoTimeout"
    )


def knn_serving_stream(
    query_stream: DataFrame,
    corpus: DataFrame,
    batch_sink,
    checkpoint: str,
    k: int = 5,
    n_planes: int = 6,
    probe_hamming1: bool = True,
    query_id_col: str = "query_id",
    corpus_id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Streaming batch-retrieval serving: each microbatch of query
    vectors runs the LSH :func:`operators.similarity.knn_join` against a
    STATIC corpus whose bucket assignment is computed ONCE here and
    persisted — every batch's probe join reuses the cached bucketed
    corpus instead of re-hashing it (the ``corpus_bucket_col`` at-rest
    path). Results go to ``batch_sink(result_df, epoch_id)``.

    foreachBatch is the right harness, not a streaming transformation:
    per-query top-k needs a rank over arbitrary columns, which streaming
    DataFrames cannot window — and the operator is STATELESS across
    batches by construction (a query's neighbors depend only on the
    corpus), so replay after restart yields identical rows and the sink
    alone decides idempotence (pair with idempotent_parquet_sink /
    commitlog_sink for exactly-once).

    Returns the started StreamingQuery.
    """
    from starlight_for_kafka_spark.operators.similarity import (
        hyperplane_bucket,
        knn_join,
    )

    bucketed = corpus.select(
        F.col(corpus_id_col),
        F.col(vec_col),
        hyperplane_bucket(
            F.col(vec_col).cast("array<double>"), n_planes
        ).alias("__corpus_bkt"),
    ).persist()
    bucketed.count()  # materialize once, before the first batch

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        out = knn_join(
            batch_df,
            bucketed,
            k=k,
            query_id_col=query_id_col,
            corpus_id_col=corpus_id_col,
            vec_col=vec_col,
            method="lsh",
            n_planes=n_planes,
            probe_hamming1=probe_hamming1,
            corpus_bucket_col="__corpus_bkt",
        )
        batch_sink(out, epoch_id)

    return (
        query_stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def incremental_ingest_stream(
    batch_stream: DataFrame,
    corpus_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    threshold: float = 0.8,
    shingle_mode: str = "char",
    store_index: bool = True,
    max_bucket: int | None = 200,
    star_above: int | None = None,
):
    """The recurring-crawl ingestion loop as a STREAM: every microbatch
    of incoming documents is deduped against the CURRENT corpus — exact
    digests first (:func:`operators.dedup.incremental_dedup`), then the
    asymmetric MinHash probe (:func:`operators.dedup.
    incremental_minhash_dedup`, corpus side never self-joins) — and the
    survivors are APPENDED to the corpus, so batch N+1 dedups against
    everything batch N admitted. That growing corpus is cross-batch
    state, which is exactly what foreachBatch exists for: survivors land
    in ``corpus_dir/epoch=<id>`` with the same _SUCCESS-marker replay
    guard as :func:`idempotent_parquet_sink`, so checkpoint-recovery
    re-delivery of an epoch is a no-op and the corpus never double-admits.

    Per-ingest cost scales with the BATCH (the 100 TB property of the
    asymmetric pipeline). With ``store_index`` (the default, and the
    production shape) every admitted epoch also writes a narrow
    (id, digest, signature) table to a SIBLING ``<corpus_dir>_index``
    tree, and each ingest probes THAT instead of re-digesting and
    re-shingling the whole corpus text — the corpus term of a batch
    drops from "re-hash every stored document" to one narrow index scan
    (epochs that predate the index — e.g. a pre-seeded corpus — are
    signed once, on their first probe, and self-heal into the tree).
    Measured at the 300x fixed-batch row (BASELINE.md round 9).

    Returns the started StreamingQuery. ``corpus_dir`` may be seeded with
    an initial corpus under ``epoch=-1`` (or any subdir) — an EMPTY dir
    admits the whole first batch after within-batch dedup.
    """
    import os

    from starlight_for_kafka_spark.operators import dedup as dedup_ops

    index_dir = corpus_dir.rstrip("/") + "_index"
    # the index is only valid for the EXACT signature parameters it was
    # built with: a signature length mismatch raises downstream (the
    # corpus_signatures guard), but a changed shingle_k/shingle_mode
    # yields same-length signatures whose banding buckets simply never
    # match — the dedup would silently admit every duplicate. Persist
    # the parameters with the tree and refuse a mismatched probe.
    _params = {
        "num_hashes": num_hashes,
        "shingle_k": shingle_k,
        "shingle_mode": shingle_mode,
        # exact-dedup digest recipe version (operators/dedup.py
        # content_digest): a normalization change bumps this, so a
        # stale at-rest index FAILS the params guard instead of
        # silently missing every probe
        "digest_version": dedup_ops.CONTENT_DIGEST_VERSION,
    }

    def _check_index_params() -> None:
        import json as _json

        ppath = os.path.join(index_dir, "_PARAMS.json")
        if os.path.exists(ppath):
            with open(ppath) as f:
                stored = _json.load(f)
            if stored != _params:
                raise ValueError(
                    "incremental_ingest_stream: corpus index at "
                    f"{index_dir} was built with {stored}, probe uses "
                    f"{_params} — same-length signatures from different "
                    "shingle parameters never match and the dedup would "
                    "silently no-op; rebuild the index (delete the tree) "
                    "or use the original parameters"
                )
        else:
            os.makedirs(index_dir, exist_ok=True)
            with open(ppath, "w") as f:
                _json.dump(_params, f)

    def _index_frame(docs_df: DataFrame) -> DataFrame:
        # narrow at-rest probe table: the exact digest + the MinHash
        # signature, both pure per-row maps over the text. The digest is
        # THE shared content_digest helper — the same expression
        # incremental_dedup probes with — so the stored recipe can never
        # drift from the probe's (a drift would make every stored digest
        # miss and silently no-op the exact pass).
        digests = docs_df.select(
            id_col, dedup_ops.content_digest(text_col).alias("digest")
        )
        sigs = dedup_ops.minhash_signatures(
            docs_df, text_col, id_col, num_hashes, shingle_k, shingle_mode
        )
        return digests.join(sigs, id_col)

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if store_index:
            # BEFORE the replay guard: a mismatched probe configuration
            # must fail even on a batch the replay guard would skip
            _check_index_params()
        path = os.path.join(corpus_dir, f"epoch={epoch_id}")
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            return
        # pin the batch ONCE: the dedup chain below consumes it from
        # several subtrees (digest anti-join, signatures, verify
        # semi-join, survivor write), and without a barrier each
        # consumer re-reads the batch source — measured as numInputRows
        # 3-4x the actual batch at 30x; at production batch sizes those
        # are repeat object-store reads
        batch = batch_df.select(id_col, text_col).localCheckpoint(eager=True)
        epochs = [
            d
            for d in (
                os.listdir(corpus_dir) if os.path.isdir(corpus_dir) else []
            )
            if os.path.isdir(os.path.join(corpus_dir, d))
            and not d.startswith(".")
        ]
        has_corpus = bool(epochs)
        if has_corpus:
            corpus = spark.read.parquet(os.path.join(corpus_dir, "*")).select(
                id_col, text_col
            )
            index = None
            if store_index:
                # self-heal: sign any epoch that predates the index tree
                # (one-time per epoch; pre-seeded corpora land here on
                # their first probe)
                for d in epochs:
                    ipath = os.path.join(index_dir, d)
                    if not os.path.exists(os.path.join(ipath, "_SUCCESS")):
                        _index_frame(
                            spark.read.parquet(os.path.join(corpus_dir, d))
                        ).write.mode("overwrite").parquet(ipath)
                index = spark.read.parquet(os.path.join(index_dir, "*"))
            step1 = dedup_ops.incremental_dedup(
                batch,
                corpus,
                text_col=text_col,
                id_col=id_col,
                corpus_digests=(
                    index.select(id_col, "digest") if index is not None else None
                ),
            )
            survivors = dedup_ops.incremental_minhash_dedup(
                step1,
                corpus,
                text_col=text_col,
                id_col=id_col,
                num_hashes=num_hashes,
                bands=bands,
                shingle_k=shingle_k,
                threshold=threshold,
                shingle_mode=shingle_mode,
                corpus_signatures=(
                    index.select(id_col, "signature")
                    if index is not None
                    else None
                ),
                max_bucket=max_bucket,
                star_above=star_above,
            )
        else:
            # empty corpus: within-batch near-dedup only — same
            # max_bucket/star configuration as the has_corpus branch, so
            # the seed batch's hot buckets get the SAME cap/star
            # semantics as every later batch (previously the first batch
            # silently ran with minhash_dedup's internal default cap)
            survivors = dedup_ops.minhash_dedup(
                batch,
                text_col=text_col,
                id_col=id_col,
                num_hashes=num_hashes,
                bands=bands,
                shingle_k=shingle_k,
                threshold=threshold,
                shingle_mode=shingle_mode,
                star_above=star_above,
                max_bucket=max_bucket,
            )
        # pin survivors: consumed by the corpus write AND (with
        # store_index) the index write — without a barrier the second
        # consumer re-runs the whole dedup chain
        survivors = survivors.select(id_col, text_col).localCheckpoint(
            eager=True
        )
        survivors.write.mode("overwrite").parquet(path)
        if store_index:
            _index_frame(survivors).write.mode("overwrite").parquet(
                os.path.join(index_dir, f"epoch={epoch_id}")
            )

    return (
        batch_stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
