"""Transaction semantics tests, mirroring TransactionTest /
ProducerStateManagerTest / the aborted-index + LSO behavior of
storage/PartitionLog.java."""

from __future__ import annotations

from pyspark.sql import functions as F

from starlight_for_kafka_spark.operators import transactions as tx


def test_txn_fixture_has_all_outcomes(log):
    txn_log = tx.derive_txn_log(log.df)
    statuses = {r.txn_status for r in txn_log.select("txn_status").distinct().collect()}
    assert statuses == {"commit", "abort", "open"}


def test_read_committed_excludes_aborted_and_open(log):
    txn_log = tx.derive_txn_log(log.df).cache()
    rc = tx.read_committed(txn_log).cache()
    # no aborted rows survive
    assert rc.filter(F.col("txn_status") == "abort").count() == 0
    # no rows at/after the partition LSO survive (open txns invisible)
    lso = tx.last_stable_offsets(txn_log)
    above = rc.join(lso, "partition").filter(
        F.col("offset") >= F.col("last_stable_offset")
    )
    assert above.count() == 0
    # committed rows below LSO all survive
    committed_below = (
        txn_log.join(lso, "partition")
        .filter(
            (F.col("txn_status") == "commit")
            & (F.col("offset") < F.col("last_stable_offset"))
        )
        .count()
    )
    assert rc.count() == committed_below
    rc.unpersist()
    txn_log.unpersist()


def test_lso_is_first_open_offset(log):
    txn_log = tx.derive_txn_log(log.df).cache()
    lso = {r.partition: r.last_stable_offset for r in tx.last_stable_offsets(txn_log).collect()}
    first_open = {
        r.partition: r.fo
        for r in txn_log.filter(F.col("txn_status") == "open")
        .groupBy("partition")
        .agg(F.min("offset").alias("fo"))
        .collect()
    }
    hwm = {
        r.partition: r.hw
        for r in txn_log.groupBy("partition").agg((F.max("offset") + 1).alias("hw")).collect()
    }
    for p, v in lso.items():
        assert v == first_open.get(p, hwm[p])
    txn_log.unpersist()


def test_idempotent_dedupe_drops_retries(spark, log):
    txn_log = tx.derive_txn_log(log.df)
    # simulate retries: re-append every 5th record with shifted offsets
    dups = (
        txn_log.filter(F.col("seq") % 5 == 0)
        .withColumn("offset", F.col("offset") + 1_000_000)
    )
    with_dups = txn_log.unionByName(dups)
    deduped = tx.idempotent_dedupe(with_dups)
    assert deduped.count() == txn_log.count()
    # the kept copy is the first-appended (original) one
    assert deduped.filter(F.col("offset") >= 1_000_000).count() == 0


def test_describe_producers_and_list_transactions(log):
    txn_log = tx.derive_txn_log(log.df).cache()
    prods = tx.describe_producers(txn_log)
    assert prods.filter(F.col("last_sequence") < 0).count() == 0
    txns = tx.list_transactions(txn_log)
    # every txn spans at most TXN_SIZE records
    assert txns.filter(F.col("n_records") > tx.TXN_SIZE).count() == 0
    txn_log.unpersist()


def test_sequence_gaps_flags_exactly_the_holes(spark):
    from starlight_for_kafka_spark.operators.transactions import sequence_gaps

    rows = [
        # (partition, pid, offset, seq): pid 1 clean, pid 2 missing seq 2
        (0, 1, 0, 0), (0, 1, 1, 1), (0, 1, 2, 2),
        (0, 2, 3, 0), (0, 2, 4, 1), (0, 2, 5, 3), (0, 2, 6, 4),
        # pid 3 starts at nonzero (epoch bump without reset -> flagged)
        (1, 3, 0, 5),
    ]
    df = spark.createDataFrame(rows, ["partition", "pid", "offset", "seq"])
    out = {(r.partition, r.pid, r.offset): (r.seq, r.expected_seq)
           for r in sequence_gaps(df).collect()}
    assert out == {(0, 2, 5): (3, 2), (1, 3, 0): (5, 0)}


def test_txn_state_machine_transitions(spark):
    """TransactionState.java:19-69 transition rules: add-before-init and
    end-from-non-ongoing are invalid; init fences an ongoing txn."""
    import datetime

    from starlight_for_kafka_spark.operators import transactions as tx

    t0 = datetime.datetime(2024, 1, 1)
    seqs = {
        # add before init invalid; then a clean commit cycle; end after
        # complete invalid
        "t1": ["add_partitions", "init", "add_offsets", "end_commit", "end_abort"],
        # init while ongoing fences (aborts) the open txn
        "t2": ["init", "add_partitions", "init", "add_partitions", "end_abort"],
        # never inited: everything invalid, state Empty
        "t3": ["add_partitions", "end_commit"],
    }
    rows = []
    for tid, actions in seqs.items():
        for i, a in enumerate(actions):
            rows.append((tid, t0 + datetime.timedelta(seconds=i), i, a))
    ev = spark.createDataFrame(
        rows, "transactional_id string, ts timestamp, event_id long, action string"
    )
    out = {r.transactional_id: r for r in tx.txn_state_machine(ev).collect()}
    t1 = out["t1"]
    assert (t1.final_state, t1.epochs, t1.n_committed, t1.n_aborted, t1.n_invalid) == (
        "CompleteCommit", 1, 1, 0, 2
    )
    t2 = out["t2"]
    assert (t2.final_state, t2.epochs, t2.n_committed, t2.n_aborted, t2.n_invalid) == (
        "CompleteAbort", 2, 0, 2, 0
    )
    t3 = out["t3"]
    assert (t3.final_state, t3.n_invalid) == ("Empty", 2)


def test_describe_transactions_per_id_detail(spark):
    """DESCRIBE_TRANSACTIONS detail (TransactionCoordinator.java:250-306):
    registered partitions accumulate per ongoing txn, add_offsets registers
    the -1 offsets-topic sentinel, completion and epoch bumps clear the
    set, and txn_start_ts marks the Empty/Complete* -> Ongoing edge."""
    import datetime

    from starlight_for_kafka_spark.operators import transactions as tx

    t0 = datetime.datetime(2024, 1, 1)
    # (tid, action, partition, pid-on-init)
    seqs = {
        # ongoing txn with three distinct partitions (one repeated) + offsets
        "t1": [("init", 0, 7), ("add_partitions", 3, None),
               ("add_partitions", 5, None), ("add_partitions", 3, None),
               ("add_offsets", 0, None)],
        # completed txn: partitions cleared, state CompleteCommit,
        # start_ts survives completion
        "t2": [("init", 0, 9), ("add_partitions", 1, None),
               ("end_commit", 0, None)],
        # epoch bump mid-txn: fencing clears partitions and start_ts
        "t3": [("init", 0, 2), ("add_partitions", 4, None), ("init", 0, 12)],
        # never inited: adds invalid, nothing registered
        "t4": [("add_partitions", 6, None)],
    }
    rows = []
    for tid, actions in seqs.items():
        for i, (a, p, pid) in enumerate(actions):
            rows.append((tid, t0 + datetime.timedelta(seconds=i), i, a, p, pid))
    ev = spark.createDataFrame(
        rows,
        "transactional_id string, ts timestamp, event_id long, action string,"
        " partition int, pid long",
    )
    out = {r.transactional_id: r for r in tx.describe_transactions(ev).collect()}
    t1 = out["t1"]
    assert (t1.producer_id, t1.producer_epoch, t1.transaction_state) == (7, 0, "Ongoing")
    assert (t1.n_partitions, t1.partitions) == (3, "-1,3,5")
    assert t1.txn_start_ts_ms == int(
        (t0 + datetime.timedelta(seconds=1)).replace(
            tzinfo=datetime.timezone.utc).timestamp() * 1000)
    t2 = out["t2"]
    assert (t2.transaction_state, t2.n_partitions, t2.partitions) == (
        "CompleteCommit", 0, "")
    assert t2.txn_start_ts_ms is not None
    t3 = out["t3"]
    assert (t3.producer_id, t3.producer_epoch, t3.transaction_state) == (12, 1, "Empty")
    assert (t3.n_partitions, t3.partitions, t3.txn_start_ts_ms) == (0, "", None)
    t4 = out["t4"]
    assert (t4.producer_id, t4.producer_epoch, t4.transaction_state,
            t4.n_partitions) == (None, -1, "Empty", 0)


def test_producer_state_snapshot_recovery_equals_full_recompute(spark, log, tmp_path):
    """snapshot(prefix) + tail replay == txn_summary(full log), including
    transactions straddling the snapshot boundary (their partial rows must
    merge by min/max/max)."""
    txn_log = tx.derive_txn_log(log.df).cache()
    store = tx.ProducerStateStore(str(tmp_path / "pstate"))
    store.take_snapshot(txn_log.filter(F.col("offset") < 13))  # mid-txn split
    recovered = {
        (r.partition, r.pid, r.txn_group): (r.first_offset, r.last_offset, r.txn_status)
        for r in store.recover(spark, txn_log).collect()
    }
    full = {
        (r.partition, r.pid, r.txn_group): (r.first_offset, r.last_offset, r.txn_status)
        for r in tx.txn_summary(txn_log).collect()
    }
    assert recovered == full and len(full) > 0


def test_snapshot_tail_reads_only_past_watermark(spark, log, tmp_path):
    """The tail replay is bounded: its global offset prefilter reaches the
    parquet scan as a pushed filter, and it yields exactly the rows past
    each partition's watermark — never the whole log."""
    from starlight_for_kafka_spark.plans import pushed_filters

    src = str(tmp_path / "txnlog")
    tx.derive_txn_log(log.df).write.parquet(src)
    txn_log = spark.read.parquet(src)
    store = tx.ProducerStateStore(str(tmp_path / "pstate"))
    store.take_snapshot(txn_log.filter(F.col("offset") < 20))
    _, watermarks = store.latest()
    tail = store.snapshot_tail(txn_log, watermarks)
    pushed = pushed_filters(tail)
    min_wm = min(watermarks.values())
    assert any(
        "offset" in p and "GreaterThanOrEqual" in p for p in pushed
    ), pushed
    expected = txn_log.filter(F.col("offset") >= 20).count()
    assert tail.count() == expected > 0
    assert tail.count() < txn_log.count()


def test_snapshot_race_loses_cleanly(spark, log, tmp_path):
    """Two snapshots land under distinct ids; recovery uses the newest."""
    txn_log = tx.derive_txn_log(log.df)
    store = tx.ProducerStateStore(str(tmp_path / "pstate"))
    a = store.take_snapshot(txn_log.filter(F.col("offset") < 10))
    b = store.take_snapshot(txn_log.filter(F.col("offset") < 30))
    assert b == a + 1
    snap_id, watermarks = store.latest()
    assert snap_id == b
    assert all(wm <= 30 for wm in watermarks.values())


def test_snapshot_tail_replays_new_partition_in_full(spark, tmp_path):
    """A partition created AFTER the snapshot has offsets below the global
    minimum watermark; the tail prefilter must admit it anyway (review
    finding: a bare offset >= min(wm) cutoff silently dropped it)."""
    old = spark.createDataFrame(
        [(0, o, 1, 0, "commit") for o in range(50)],
        "partition int, offset long, pid long, txn_group long, txn_status string",
    )
    store = tx.ProducerStateStore(str(tmp_path / "pstate"))
    store.take_snapshot(old)  # watermark {0: 50}; min_wm = 50
    new_part = spark.createDataFrame(
        [(9, o, 2, 0, "commit") for o in range(5)],  # offsets 0..4 < 50
        "partition int, offset long, pid long, txn_group long, txn_status string",
    )
    full = old.unionByName(new_part)
    recovered = {
        (r.partition, r.pid): (r.first_offset, r.last_offset)
        for r in store.recover(spark, full).collect()
    }
    assert recovered[(9, 2)] == (0, 4)
    assert recovered[(0, 1)] == (0, 49)


def test_read_committed_keeps_null_pid_records(spark):
    """Non-transactional (NULL-pid) records inside an aborted txn's offset
    range are still visible to read-committed consumers — the aborted
    index suppresses only that PRODUCER's records (review finding: the
    exists() rewrite dropped them via three-valued logic)."""
    rows = [
        (0, 0, 7, 0, "abort"),
        (0, 1, None, None, "commit"),  # non-transactional, inside [0, 2]
        (0, 2, 7, 0, "abort"),
        (0, 3, 8, 0, "commit"),
    ]
    txn_log = spark.createDataFrame(
        rows, "partition int, offset long, pid long, txn_group long, txn_status string"
    )
    kept = sorted(r.offset for r in tx.read_committed(txn_log).collect())
    assert kept == [1, 3]


def test_timeout_abort_sweep_unblocks_read_committed(log):
    """A producer that dies mid-transaction holds the LSO down; the
    coordinator's timeout sweep (TransactionCoordinator.java:1034) aborts
    it and read-committed consumers advance past the freed range."""
    txn_log = tx.derive_txn_log(log.df).cache()
    # horizon far past every record: every open txn times out
    now_ms = 4_000_000_000_000  # ~2096
    swept = tx.abort_timed_out_transactions(txn_log, now_ms, timeout_ms=1)

    assert swept.filter(F.col("txn_status") == "open").count() == 0
    # previously-open txns are now aborted spans in the index
    open_txns = {
        (r.pid, r.txn_group)
        for r in txn_log.filter(F.col("txn_status") == "open")
        .select("pid", "txn_group").distinct().collect()
    }
    assert open_txns  # fixture must actually have open txns
    idx = {
        (r.pid, r.txn_group)
        for r in tx.aborted_txn_index(swept).collect()
    }
    assert open_txns <= idx

    # LSO advances to the high watermark everywhere (no opens remain)
    hw = {
        r.partition: r.hw
        for r in txn_log.groupBy("partition")
        .agg((F.max("offset") + 1).alias("hw")).collect()
    }
    lso_after = {
        r.partition: r.last_stable_offset
        for r in tx.last_stable_offsets(swept).collect()
    }
    assert lso_after == hw

    # read_committed now serves committed rows ABOVE the old LSO
    lso_before = {
        r.partition: r.last_stable_offset
        for r in tx.last_stable_offsets(txn_log).collect()
    }
    rc_after = tx.read_committed(swept)
    unblocked = [
        r for r in rc_after.collect() if r.offset >= lso_before[r.partition]
    ]
    assert unblocked, "sweep must unblock rows the open txn was holding back"
    # and never a record from an aborted (incl. newly-aborted) txn
    assert rc_after.filter(F.col("txn_status") != "commit").count() == 0
    txn_log.unpersist()


def test_timeout_abort_respects_the_deadline(log):
    """Only transactions whose start + timeout < now flip; younger opens
    stay open (the sweep is a deadline check, not abort-all)."""
    txn_log = tx.derive_txn_log(log.df).cache()
    starts = (
        txn_log.filter(F.col("txn_status") == "open")
        .groupBy("pid", "txn_group")
        .agg(F.expr("min(unix_micros(timestamp) DIV 1000)").alias("start_ms"))
    )
    rows = starts.collect()
    ms = sorted(r.start_ms for r in rows)
    assert len(ms) >= 2
    mid = ms[len(ms) // 2]  # older half times out, younger half survives
    now_ms, timeout_ms = mid, 0
    swept = tx.abort_timed_out_transactions(txn_log, now_ms, timeout_ms)
    still_open = {
        (r.pid, r.txn_group)
        for r in swept.filter(F.col("txn_status") == "open")
        .select("pid", "txn_group").distinct().collect()
    }
    expect_open = {(r.pid, r.txn_group) for r in rows if not (r.start_ms + timeout_ms < now_ms)}
    assert still_open == expect_open and 0 < len(still_open) < len(rows)
    txn_log.unpersist()


def test_expire_transactional_ids_keeps_ongoing(spark):
    """Idle Empty/Complete* ids expire past the horizon; an id with an
    ongoing transaction NEVER expires regardless of idleness
    (TransactionConfig.transactionalIdExpirationMs semantics)."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)

    def ev(tid, i, action, minutes):
        return (tid, t0 + datetime.timedelta(minutes=minutes), i, action)

    rows = [
        # idle-complete: finished long ago -> expires
        ev("idle-complete", 1, "init", 0),
        ev("idle-complete", 2, "add_partitions", 1),
        ev("idle-complete", 3, "end_commit", 2),
        # idle-ongoing: mid-txn, equally old -> retained
        ev("idle-ongoing", 4, "init", 0),
        ev("idle-ongoing", 5, "add_partitions", 1),
        # fresh-complete: recent -> retained
        ev("fresh-complete", 6, "init", 100),
        ev("fresh-complete", 7, "add_offsets", 101),
        ev("fresh-complete", 8, "end_abort", 102),
    ]
    events = spark.createDataFrame(
        rows, "transactional_id string, ts timestamp, event_id long, action string"
    )
    now_ms = int((t0 + datetime.timedelta(minutes=110)).timestamp() * 1000)
    out = {
        r.transactional_id: r
        for r in tx.expire_transactional_ids(
            events, now_ms, expiration_ms=60 * 60_000
        ).collect()
    }
    assert out["idle-complete"].expired
    assert not out["idle-ongoing"].expired
    assert out["idle-ongoing"].final_state == "Ongoing"
    assert not out["fresh-complete"].expired
    assert out["idle-complete"].last_update_ms < out["fresh-complete"].last_update_ms


def test_snapshot_manifest_is_fsynced_before_it_is_visible(
    spark, tmp_path, monkeypatch
):
    """take_snapshot publishes its manifest durably: the manifest bytes
    are fsynced while the manifest name does not exist yet."""
    import os

    store = tx.ProducerStateStore(str(tmp_path / "pstate"))
    manifest = os.path.join(store.root, "_manifests", "1.json")
    seen = []
    real_fsync = os.fsync

    def fsync(fd):
        seen.append(os.path.exists(manifest))
        real_fsync(fd)

    monkeypatch.setattr(os, "fsync", fsync)
    txn_log = spark.createDataFrame(
        [(0, o, 1, 0, "commit") for o in range(5)],
        "partition int, offset long, pid long, txn_group long, txn_status string",
    )
    assert store.take_snapshot(txn_log) == 1
    assert seen and not any(seen)
    assert os.path.exists(manifest)
    assert store.latest() == (1, {0: 5})
