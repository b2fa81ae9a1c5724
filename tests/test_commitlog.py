"""CommittedLog: optimistic multi-writer commit protocol.

The hazard under test is the one LogTable.append documents away (two
writers snapshot the same watermarks -> overlapping offsets, reference has
a per-partition leader instead: storage/PartitionLog.java:538). Here the
loser of the manifest race must retry with fresh watermarks and the reader
must never observe uncommitted files.
"""

from __future__ import annotations

import json
import os
import sys
from concurrent.futures import ThreadPoolExecutor
from unittest import mock

import pytest
from pyspark.sql import functions as F

from starlight_for_kafka_spark.sources import CommittedLog
from starlight_for_kafka_spark.sources.logtable import KAFKA_RECORD_SCHEMA


def _batch(spark, partition_rows):
    """partition_rows: list of (partition, n) -> n records in that partition."""
    rows = []
    i = 0
    for p, n in partition_rows:
        for _ in range(n):
            rows.append(
                (
                    str(i).encode(),
                    f"v{i}".encode(),
                    [],
                    None,
                    p,
                    i,  # seq: deterministic order column
                )
            )
            i += 1
    return spark.createDataFrame(
        rows,
        "key binary, value binary, "
        "headers array<struct<key:string,value:binary>>, "
        "timestamp timestamp, partition int, seq long",
    )


def _offsets(df):
    out = {}
    for r in df.select("partition", "offset", "value").collect():
        out.setdefault(r.partition, []).append((r.offset, bytes(r.value).decode()))
    return {p: sorted(v) for p, v in out.items()}



@pytest.fixture(params=["posix", "conditional_put"])
def make_log(request):
    """The commit protocol must behave identically over the POSIX
    hard-link backend and the object-store conditional-PUT backend —
    the race tests run against BOTH (r2 verdict item: the documented S3
    path as tested code, not prose)."""

    def mk(root):
        if request.param == "posix":
            return CommittedLog(root)
        from starlight_for_kafka_spark.sources.commitlog import (
            InMemoryConditionalPutBackend,
        )

        return CommittedLog(root, backend=InMemoryConditionalPutBackend())

    return mk


def test_sequential_appends_dense(spark, tmp_path, make_log):
    log = make_log(str(tmp_path / "log"))
    v1 = log.append(_batch(spark, [(0, 2), (1, 1)]), order_col="seq")
    v2 = log.append(_batch(spark, [(0, 1), (2, 2)]), order_col="seq")
    assert (v1, v2) == (0, 1)
    got = _offsets(log.read(spark))
    assert [o for o, _ in got[0]] == [0, 1, 2]
    assert [o for o, _ in got[1]] == [0]
    assert [o for o, _ in got[2]] == [0, 1]
    # batch 2's partition-0 record continues after batch 1's watermark
    assert got[0][2][1] == "v0"  # first value of second batch (i restarts)


def test_append_to_empty_and_read_empty(spark, tmp_path):
    log = CommittedLog(str(tmp_path / "log"))
    assert log.read(spark).count() == 0
    log.append(_batch(spark, [(3, 2)]), order_col="seq")
    assert [o for o, _ in _offsets(log.read(spark))[3]] == [0, 1]


def test_commit_race_loser_retries_with_fresh_watermarks(spark, tmp_path, make_log):
    """Writer B snapshots BEFORE writer A commits (a real interleaving,
    forced via a stale first snapshot). B's first attempt must lose the
    manifest race and the retry must build on A's watermarks — no
    overlapping offsets, no lost update."""
    root = str(tmp_path / "log")
    log = make_log(root)
    log.append(_batch(spark, [(0, 2)]), order_col="seq")  # v0: offsets 0,1

    stale = log._replay()  # what a racing writer B saw
    log.append(_batch(spark, [(0, 3)]), order_col="seq")  # A wins v1: 2,3,4

    real_replay = CommittedLog._replay
    calls = {"n": 0}

    def racy_replay(self):
        calls["n"] += 1
        return stale if calls["n"] == 1 else real_replay(self)

    with mock.patch.object(CommittedLog, "_replay", racy_replay):
        log.append(_batch(spark, [(0, 2)]), order_col="seq")  # B: must land 5,6

    offs = [o for o, _ in _offsets(log.read(spark))[0]]
    assert offs == [0, 1, 2, 3, 4, 5, 6]  # dense, no overlap
    assert calls["n"] >= 2  # the conflict actually forced a re-snapshot


def test_uncommitted_files_invisible_and_vacuumed(spark, tmp_path):
    root = str(tmp_path / "log")
    log = CommittedLog(root)
    log.append(_batch(spark, [(0, 2)]), order_col="seq")
    # orphan: a data file written by a writer that never committed
    orphan_dir = os.path.join(root, "data", "partition=0", "deadbeef-orphan")
    os.makedirs(orphan_dir)
    _batch(spark, [(0, 5)]).drop("seq").withColumn(
        "offset", F.lit(999).cast("long")
    ).drop("partition").write.mode("overwrite").parquet(orphan_dir)
    assert log.read(spark).count() == 2  # snapshot isolation
    deleted = log.vacuum(min_age_seconds=0)
    assert deleted and all("deadbeef" in d for d in deleted)
    assert log.read(spark).count() == 2
    # committed files survived
    assert not [d for d in log.vacuum(min_age_seconds=0)]


def test_checkpoint_folds_manifest_history(spark, tmp_path, make_log):
    log = make_log(str(tmp_path / "log"))
    for _ in range(11):  # crosses the every-10 checkpoint boundary
        log.append(_batch(spark, [(0, 1)]), order_col="seq")
    manifests = [
        json.loads(log.backend.get(k)) for k in log.backend.list_keys()
    ]
    assert any(m.get("checkpoint") for m in manifests)
    version, marks, files = log.snapshot()
    assert marks[0] == 11 and len(files) >= 11
    assert [o for o, _ in _offsets(log.read(spark))[0]] == list(range(11))


def test_append_exhausts_retries_raises(spark, tmp_path, make_log):
    from starlight_for_kafka_spark.sources import CommitConflict

    log = make_log(str(tmp_path / "log"))
    log.append(_batch(spark, [(0, 1)]), order_col="seq")
    stale = log._replay()
    with mock.patch.object(CommittedLog, "_replay", lambda self: stale):
        log.append(_batch(spark, [(0, 1)]), order_col="seq")  # wins v1 anyway
        with pytest.raises(CommitConflict):
            log.append(
                _batch(spark, [(0, 1)]), order_col="seq", max_retries=3
            )


def test_txn_id_append_is_idempotent(spark, tmp_path, make_log):
    log = make_log(str(tmp_path / "log"))
    v1 = log.append(_batch(spark, [(0, 2)]), order_col="seq", txn_id="e-1")
    v_again = log.append(_batch(spark, [(0, 2)]), order_col="seq", txn_id="e-1")
    assert v_again == v1  # replay no-ops, returns original version
    assert log.read(spark).count() == 2
    v2 = log.append(_batch(spark, [(0, 1)]), order_col="seq", txn_id="e-2")
    assert v2 == v1 + 1 and log.read(spark).count() == 3


def test_txn_ids_survive_checkpoint_fold(spark, tmp_path):
    log = CommittedLog(str(tmp_path / "log"))
    for i in range(11):  # crosses the checkpoint boundary
        log.append(_batch(spark, [(0, 1)]), order_col="seq", txn_id=f"e-{i}")
    # replaying an epoch folded INTO the checkpoint must still no-op
    v = log.append(_batch(spark, [(0, 1)]), order_col="seq", txn_id="e-2")
    assert v == 2
    assert log.read(spark).count() == 11


def test_commitlog_sink_exactly_once_streaming(spark, tmp_path):
    from starlight_for_kafka_spark.streaming import stream_ops

    src_dir = str(tmp_path / "src")
    batch = _batch(spark, [(0, 6), (1, 4)]).drop("seq")
    batch.repartition(3).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    root = str(tmp_path / "log")
    sink = stream_ops.commitlog_sink(root, sink_id="q1")
    q = stream_ops.write_exactly_once(stream, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    log = CommittedLog(root)
    got = _offsets(log.read(spark))
    assert [o for o, _ in got[0]] == list(range(6))
    assert [o for o, _ in got[1]] == list(range(4))
    # a redelivered epoch (recovery replay) is a no-op
    sink(_batch(spark, [(0, 6), (1, 4)]).drop("seq"), 0)
    assert log.read(spark).count() == 10


def test_time_travel_reads_historical_versions(spark, tmp_path):
    log = CommittedLog(str(tmp_path / "log"))
    log.append(_batch(spark, [(0, 2)]), order_col="seq")          # v0
    log.append(_batch(spark, [(0, 3), (1, 1)]), order_col="seq")  # v1
    log.append(_batch(spark, [(1, 2)]), order_col="seq")          # v2
    assert log.read(spark, at_version=0).count() == 2
    assert log.read(spark, at_version=1).count() == 6
    assert log.read(spark).count() == 8
    # historical watermarks too
    v0 = log._replay(at_version=0)
    assert v0[1] == {0: 2}
    # a version before the first commit is the empty log
    assert log.read(spark, at_version=-1).count() == 0


def test_optimize_compacts_atomically_preserving_data_and_history(spark, tmp_path):
    log = CommittedLog(str(tmp_path / "log"))
    for _ in range(4):
        log.append(_batch(spark, [(0, 2), (1, 1)]), order_col="seq")
    before = _offsets(log.read(spark))
    pre_version, _, files_before, _ = log._replay()
    v = log.optimize(spark)
    _, _, files_after, _ = log._replay()
    assert v == pre_version + 1
    assert len(files_after) < len(files_before)  # one file per partition
    assert len(files_after) == 2
    assert _offsets(log.read(spark)) == before  # bytes moved, data identical
    # time travel to the pre-compaction version still reads the old files
    assert _offsets(log.read(spark, at_version=pre_version)) == before
    # vacuum removes the replaced files (and ages out that history)
    deleted = log.vacuum(min_age_seconds=0)
    assert set(deleted) == set(files_before)
    assert _offsets(log.read(spark)) == before


def test_optimize_retries_after_losing_to_concurrent_append(spark, tmp_path, make_log):
    log = make_log(str(tmp_path / "log"))
    log.append(_batch(spark, [(0, 2)]), order_col="seq")
    stale = log._replay()
    log.append(_batch(spark, [(0, 1)]), order_col="seq")  # concurrent append

    real_replay = CommittedLog._replay
    calls = {"n": 0}

    def racy_replay(self, at_version=None):
        calls["n"] += 1
        return stale if calls["n"] == 1 else real_replay(self, at_version)

    with mock.patch.object(CommittedLog, "_replay", racy_replay):
        log.optimize(spark)
    # the retry compacted the POST-append state: all 3 records, 1 file
    _, _, files, _ = log._replay()
    assert len(files) == 1
    assert [o for o, _ in _offsets(log.read(spark))[0]] == [0, 1, 2]


def test_vacuum_age_guard_spares_fresh_uncommitted_files(spark, tmp_path):
    """An in-flight writer's files (renamed into data/ but not yet
    committed) must survive vacuum: the retention window treats every
    young file as potentially in-flight."""
    log = CommittedLog(str(tmp_path / "log"))
    log.append(_batch(spark, [(0, 1)]), order_col="seq")
    orphan_dir = os.path.join(log.root, "data", "partition=0")
    orphan = os.path.join(orphan_dir, "inflight-writer-0.parquet")
    open(orphan, "wb").write(b"not yet committed")
    assert log.vacuum() == []  # default window: fresh file spared
    assert os.path.exists(orphan)
    assert log.vacuum(min_age_seconds=0) == ["data/partition=0/inflight-writer-0.parquet"]


def test_sink_namespace_keeps_two_queries_apart(spark, tmp_path):
    """Two streaming queries both start at epoch 0; without per-sink
    namespacing the second query's first batch would no-op as a replay."""
    from starlight_for_kafka_spark.streaming import stream_ops

    root = str(tmp_path / "log")
    sink_a = stream_ops.commitlog_sink(root, sink_id="qa")
    sink_b = stream_ops.commitlog_sink(root, sink_id="qb")
    sink_a(_batch(spark, [(0, 2)]).drop("seq"), 0)
    sink_b(_batch(spark, [(0, 3)]).drop("seq"), 0)  # same epoch id, distinct txn
    assert CommittedLog(root).read(spark).count() == 5
    sink_a(_batch(spark, [(0, 2)]).drop("seq"), 0)  # genuine replay: no-op
    assert CommittedLog(root).read(spark).count() == 5


def test_batch_backfill_and_stream_interleave_through_one_log(spark, tmp_path):
    """Kappa-style: a batch backfill writer and a streaming sink share one
    CommittedLog; the manifest race serializes them and offsets stay dense
    per partition regardless of interleaving."""
    from starlight_for_kafka_spark.streaming import stream_ops

    root = str(tmp_path / "log")
    log = CommittedLog(root)
    # batch backfill lands first
    log.append(_batch(spark, [(0, 3), (1, 2)]), order_col="seq")
    # a streaming query then appends two epochs
    sink = stream_ops.commitlog_sink(root, sink_id="live")
    sink(_batch(spark, [(0, 2)]).drop("seq"), 0)
    # ...interleaved with another batch correction job
    log.append(_batch(spark, [(1, 1)]), order_col="seq")
    sink(_batch(spark, [(0, 1), (1, 1)]).drop("seq"), 1)
    got = _offsets(log.read(spark))
    assert [o for o, _ in got[0]] == [0, 1, 2, 3, 4, 5]
    assert [o for o, _ in got[1]] == [0, 1, 2, 3]
    # four data commits in the manifest log
    version, _, _, _ = log._replay()
    assert version == 3


def test_reused_writer_id_never_clobbers_committed_files(spark, tmp_path):
    """A stable writer identity across appends (the natural reading of
    writer_id) must not rename over a previous append's committed files —
    attempt tags are unique per call."""
    log = CommittedLog(str(tmp_path / "log"))
    log.append(_batch(spark, [(0, 2)]), order_col="seq", writer_id="w1")
    log.append(_batch(spark, [(0, 2)]), order_col="seq", writer_id="w1")
    got = _offsets(log.read(spark))
    assert [o for o, _ in got[0]] == [0, 1, 2, 3]  # nothing clobbered
    _, _, files, _ = log._replay()
    assert len(files) == len(set(files))  # no path referenced twice


def test_vacuum_sweeps_staging_and_tmp_manifest_debris(spark, tmp_path):
    log = CommittedLog(str(tmp_path / "log"))
    log.append(_batch(spark, [(0, 1)]), order_col="seq")
    stage = os.path.join(log.root, "_staging", "dead-writer-0")
    os.makedirs(stage)
    open(os.path.join(stage, "part.parquet"), "wb").write(b"x")
    open(os.path.join(log.root, "_log", "00000000000000000009.json.ab12.tmp"), "w").write("{}")
    deleted = log.vacuum(min_age_seconds=0)
    assert any("_staging" in d for d in deleted)
    assert any(d.endswith(".tmp") for d in deleted)
    assert not os.path.exists(stage)
    assert log.read(spark).count() == 1


def test_publish_refreshes_mtime_so_vacuum_cannot_race_staged_files(spark, tmp_path):
    """Staged parquet keeps its WRITE-time mtime through os.rename; the
    publish step must re-stamp it, or a writer stalled past the vacuum
    min-age between staging and manifest-commit can have live files
    deleted (r2 ADVICE fix)."""
    import os
    import time

    from starlight_for_kafka_spark.sources.commitlog import CommittedLog

    log = CommittedLog(str(tmp_path / "cl"))
    log.append(_batch(spark, [(0, 3), (1, 2)]), order_col="seq")
    _, _, files = log.snapshot()
    now = time.time()
    for rel in files:
        age = now - os.path.getmtime(os.path.join(log.root, rel))
        assert age < 300, f"{rel} carries a stale pre-publish mtime ({age:.0f}s)"
    # and vacuum with a generous min-age still deletes nothing live
    assert log.vacuum(min_age_seconds=0.0) == []


def _with_parity(df):
    return df.withColumn("par", (F.col("seq") % 2).cast("int"))


def test_append_batches_equals_sequential_appends(spark, tmp_path, make_log):
    """append_batches (the round-11 one-job-chain fusion) must leave a log
    byte-equivalent to N sequential append() calls: same version count,
    same per-version watermarks (time travel), same offsets and values."""
    rows = [(0, 3), (1, 2), (0, 1), (2, 2)]
    seq_log = make_log(str(tmp_path / "seq"))
    full = _with_parity(_batch(spark, rows))
    for b in (0, 1):
        seq_log.append(
            full.filter(F.col("par") == b).drop("par"), order_col="seq"
        )
    bat_log = make_log(str(tmp_path / "bat"))
    last = bat_log.append_batches(full, batch_col="par", order_col="seq")
    assert last == 1  # two batches -> versions 0 and 1
    assert bat_log._versions() == seq_log._versions()
    for v in bat_log._versions():
        sv, s_marks, s_files, _ = seq_log._replay(v)
        bv, b_marks, b_files, _ = bat_log._replay(v)
        assert (bv, b_marks) == (sv, s_marks)
        assert len(b_files) == len(s_files)
        assert _offsets(bat_log.read(spark, at_version=v)) == _offsets(
            seq_log.read(spark, at_version=v)
        )


def test_append_batches_conflict_restages_only_uncommitted(spark, tmp_path):
    """An interloper committing BETWEEN two batched versions must only
    force the uncommitted batches to re-stage on fresh watermarks; the
    already-committed batch stays untouched and offsets remain dense."""
    root = str(tmp_path / "log")
    log = CommittedLog(root)
    log.append(_batch(spark, [(0, 2)]), order_col="seq")  # v0: offsets 0,1

    real_put = log.backend.put_if_absent
    state = {"injected": False}

    def sneaky_put(key, payload):
        if not state["injected"] and key == log._manifest_key(2):
            state["injected"] = True
            # a second writer wins version 2 first (partition 0: offsets 4)
            CommittedLog(root).append(
                _batch(spark, [(0, 1)]), order_col="seq"
            )
        return real_put(key, payload)

    with mock.patch.object(log.backend, "put_if_absent", side_effect=sneaky_put):
        last = log.append_batches(
            _with_parity(_batch(spark, [(0, 2), (0, 2)])),
            batch_col="par",
            order_col="seq",
        )

    assert state["injected"] and last == 3  # v1=batch0, v2=interloper, v3=batch1
    offs = _offsets(log.read(spark))[0]
    assert [o for o, _ in offs] == list(range(7))  # dense, no overlap
    # batch 1's rows sit AFTER the interloper's offset (fresh watermarks)
    interloper_off = 4
    m1 = json.loads(log.backend.get(log._manifest_key(1)))
    m3 = json.loads(log.backend.get(log._manifest_key(3)))
    assert m1["watermarks"]["0"] == 4  # batch 0: two rows on top of v0's 2
    assert m3["watermarks"]["0"] == 7  # batch 1 re-staged on top of the 5
    assert interloper_off == 4


def test_append_runs_three_jobs(spark, tmp_path, jobs_run_by):
    """An append of a small batch onto a non-empty log is three jobs: the
    offset window's shuffle map, the watermark broadcast (a JVM-only scan
    of a LocalRelation) and the staged write. No input pin, no counting
    job, no Python-worker job for the watermark frame."""
    log = CommittedLog(str(tmp_path / "log"))
    log.append(_batch(spark, [(0, 2), (1, 1)]), order_col="seq")
    batch = _batch(spark, [(0, 3), (1, 2), (4, 1)])
    for i in range(2):
        n = jobs_run_by(lambda: log.append(batch, order_col="seq"), f"append-jobs-{i}")
        assert n == 3, f"append ran {n} Spark jobs, expected 3"
    assert log.snapshot()[1] == {0: 8, 1: 5, 4: 2}


def test_footer_watermarks_dense_across_many_staged_files(spark, tmp_path):
    """Watermarks come from the staged parquet footers: a partition split
    over several staged files (one record per file) must still advance by
    its full row count, and the offsets stay dense."""
    key = "spark.sql.files.maxRecordsPerFile"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        log = CommittedLog(str(tmp_path / "log"))
        log.append(_batch(spark, [(0, 3), (2, 2)]), order_col="seq")
        log.append(_batch(spark, [(0, 2), (5, 1)]), order_col="seq")
    finally:
        spark.conf.set(key, prev)
    version, marks, files = log.snapshot()
    assert version == 1
    assert marks == {0: 5, 2: 2, 5: 1}
    assert len(files) == 8  # one staged file per record
    got = _offsets(log.read(spark))
    assert {p: [o for o, _ in v] for p, v in got.items()} == {
        0: [0, 1, 2, 3, 4],
        2: [0, 1],
        5: [0],
    }


def test_empty_append_leaves_watermarks_unchanged(spark, tmp_path):
    log = CommittedLog(str(tmp_path / "log"))
    log.append(_batch(spark, [(0, 2), (3, 1)]), order_col="seq")
    v = log.append(_batch(spark, [(0, 1)]).limit(0), order_col="seq")
    version, marks, files = log.snapshot()
    assert (v, version) == (1, 1)
    assert marks == {0: 2, 3: 1}
    assert len(files) == 2


def test_append_batches_rejects_non_integral_batch_col_before_any_job(
    spark, tmp_path, jobs_run_by
):
    log = CommittedLog(str(tmp_path / "log"))
    bad = _batch(spark, [(0, 2)]).withColumn("par", F.lit("a"))

    def run():
        with pytest.raises(ValueError, match="must be integral"):
            log.append_batches(bad, batch_col="par", order_col="seq")

    assert jobs_run_by(run, "append-batches-string-col") == 0
    assert log._versions() == []


def test_append_batches_rejects_null_batch_before_publishing(spark, tmp_path):
    """A null batch value fails loudly after the staged write and before
    any manifest lands: the log stays exactly as it was, and the staged
    attempt is removed."""
    log = CommittedLog(str(tmp_path / "log"))
    log.append(_batch(spark, [(0, 2)]), order_col="seq")
    before = log.snapshot()
    with_null = _with_parity(_batch(spark, [(0, 2), (1, 2)])).withColumn(
        "par", F.when(F.col("seq") == 3, None).otherwise(F.col("par"))
    )
    with pytest.raises(ValueError, match="null value"):
        log.append_batches(with_null, batch_col="par", order_col="seq")
    assert log.snapshot() == before
    assert os.listdir(os.path.join(log.root, "_staging")) == []


def test_append_batches_reads_back_underscore_batch_col(spark, tmp_path):
    """The staged tree is listed, not rebuilt from Spark's escaping: a
    batch column named like a hidden file (``__parity``) still yields
    one version per batch with dense watermarks."""
    log = CommittedLog(str(tmp_path / "log"))
    batch = _batch(spark, [(0, 3), (1, 2)]).withColumn(
        "__parity", (F.col("seq") % 2).cast("int")
    )
    assert log.append_batches(batch, batch_col="__parity", order_col="seq") == 1
    assert log._replay(0)[1] == {0: 2, 1: 1}  # seq 0, 2, 4 are even
    assert log.snapshot()[1] == {0: 3, 1: 2}


def test_read_runs_no_job(spark, tmp_path, jobs_run_by):
    """The log schema is known and a snapshot names its files, so building
    a snapshot frame (the live log and a time-travel version) runs no
    schema-inference job and no file-listing job, also with more live
    files than Spark's parallel-listing threshold (32 paths), and leaves
    that threshold as it found it."""
    log = CommittedLog(str(tmp_path / "log"))
    for _ in range(3):
        log.append(_batch(spark, [(0, 2), (1, 1), (5, 2)]), order_col="seq")
    assert jobs_run_by(lambda: log.read(spark), "read-jobs") == 0
    assert jobs_run_by(lambda: log.read(spark, at_version=1), "read-jobs-tt") == 0

    # 14 more single-record batches in each of 3 partitions: 51 live files
    more = _batch(spark, [(p, 1) for _ in range(14) for p in (0, 1, 5)])
    log.append_batches(
        more.withColumn("b", F.floor(F.col("seq") / 3)), batch_col="b", order_col="seq"
    )
    assert len(log.snapshot()[2]) == 51
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert spark.conf.get(key, None) is None
    assert jobs_run_by(lambda: log.read(spark), "read-jobs-many") == 0
    assert spark.conf.get(key, None) is None  # still unset
    spark.conf.set(key, "40")
    try:
        assert jobs_run_by(lambda: log.read(spark), "read-jobs-set") == 0
        assert spark.conf.get(key) == "40"
    finally:
        spark.conf.unset(key)
    assert log.read(spark).count() == 15 + 42

    # concurrent reads of versions with 42, 45, 48 and 51 files restore
    # the threshold too (none saves another's raised value as the one to
    # restore)
    last = log.snapshot()[0]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            frames = list(pool.map(
                lambda v: log.read(spark, at_version=v),
                [last - 3, last - 2, last - 1, last] * 4,
                timeout=120,
            ))
    finally:
        sys.setswitchinterval(switch)
    assert len(frames) == 16
    assert spark.conf.get(key, None) is None


def test_empty_read_schema_matches_non_empty(spark, tmp_path):
    """An empty log reports the same (all-nullable) schema as a read of
    committed parquet files, so a caller's plan does not change shape
    when the first commit lands."""
    log = CommittedLog(str(tmp_path / "log"))
    empty = log.read(spark).schema
    log.append(_batch(spark, [(0, 2), (3, 1)]), order_col="seq")
    assert log.read(spark).schema == empty
    # and it is the schema a plain parquet read infers from the files
    inferred = (
        spark.read.option("basePath", str(tmp_path / "log" / "data"))
        .parquet(str(tmp_path / "log" / "data"))
        .select(*[f.name for f in KAFKA_RECORD_SCHEMA.fields])
        .schema
    )
    assert empty == inferred


def _ends(df):
    return {r[0]: r[1] for r in df.collect()}


def test_snapshot_latest_offsets_are_manifest_watermarks(spark, tmp_path, jobs_run_by):
    """On the frame ``CommittedLog.read`` returns, ``latest_offsets`` and
    ``high_watermarks`` are the manifest's watermarks — equal to the
    aggregate over the same data on an empty log, after appends, after
    optimize and at a time-travel version — and answering them runs no
    Spark job."""
    from starlight_for_kafka_spark.sources import LogTable

    log = CommittedLog(str(tmp_path / "log"))

    def check(df):
        snap = LogTable(df)
        agg = LogTable(df.select("*"))  # a derived frame: the aggregate
        assert _ends(snap.latest_offsets()) == _ends(agg.latest_offsets())
        assert _ends(snap.high_watermarks()) == _ends(agg.high_watermarks())
        assert snap.latest_offsets().schema == agg.latest_offsets().schema
        assert snap.high_watermarks().schema == agg.high_watermarks().schema
        assert jobs_run_by(lambda: snap.latest_offsets().collect(), "ends") == 0
        return _ends(snap.latest_offsets())

    assert check(log.read(spark)) == {}
    log.append(_batch(spark, [(0, 2), (1, 1)]), order_col="seq")   # v0
    log.append(_batch(spark, [(0, 3), (4, 2)]), order_col="seq")   # v1
    assert check(log.read(spark)) == {0: 5, 1: 1, 4: 2}
    log.optimize(spark)                                            # v2
    assert check(log.read(spark)) == {0: 5, 1: 1, 4: 2}
    assert check(log.read(spark, at_version=0)) == {0: 2, 1: 1}
    assert check(log.read(spark, at_version=-1)) == {}


def test_snapshot_log_end_frame_is_built_once(spark, tmp_path, py4j_calls_by):
    """A snapshot frame builds each log-end LocalRelation once: asking
    ``latest_offsets`` again, as ``consumer_lag(..., latest_offsets())``
    after ``latest_offsets()`` on the same snapshot does, makes fewer than
    half the Py4J round trips of the first call (the parent rebuilt it:
    the same count both times). A new snapshot gets its own offsets."""
    from starlight_for_kafka_spark.operators import groups
    from starlight_for_kafka_spark.sources import LogTable

    log = CommittedLog(str(tmp_path / "log"))
    log.append(_batch(spark, [(0, 2), (1, 1)]), order_col="seq")
    snap = log.read(spark)
    first = py4j_calls_by(lambda: LogTable(snap).latest_offsets())
    again = py4j_calls_by(lambda: LogTable(snap).latest_offsets())
    assert again < first / 2, (first, again)
    assert _ends(LogTable(snap).latest_offsets()) == {0: 2, 1: 1}
    assert _ends(LogTable(snap).high_watermarks()) == {0: 2, 1: 1}
    assert LogTable(snap).high_watermarks().columns == ["partition", "high_watermark"]

    commits = spark.createDataFrame(
        [("g", "t", 0, 0, "", 1), ("g", "t", 1, 0, "", 1)],
        "group string, topic string, partition int, offset long, metadata string,"
        " commit_ts long",
    ).withColumn("commit_ts", F.col("commit_ts").cast("timestamp"))
    lag = groups.consumer_lag(commits, LogTable(snap).latest_offsets())
    assert sorted((r.partition, r.lag) for r in lag.collect()) == [(0, 1), (1, 0)]

    log.append(_batch(spark, [(0, 3)]), order_col="seq")
    assert _ends(LogTable(log.read(spark)).latest_offsets()) == {0: 5, 1: 1}
    assert _ends(LogTable(snap).latest_offsets()) == {0: 2, 1: 1}


def test_frame_derived_from_snapshot_aggregates_its_own_rows(spark, tmp_path):
    """Only the exact frame ``read`` returns carries the snapshot's
    offsets: a filtered frame answers from its own rows."""
    from starlight_for_kafka_spark.sources import LogTable

    log = CommittedLog(str(tmp_path / "log"))
    log.append(_batch(spark, [(0, 2), (3, 4), (6, 1)]), order_col="seq")
    only3 = LogTable(log.read(spark).filter(F.col("partition") == 3))
    assert _ends(only3.latest_offsets()) == {3: 4}
    assert _ends(only3.high_watermarks()) == {3: 4}


@pytest.mark.parametrize("n_batches", [1, 3])
def test_append_batches_runs_three_jobs(spark, tmp_path, jobs_run_by, n_batches):
    """Any number of batches onto a non-empty log is the same three-job
    chain as one append: one offset window, one watermark broadcast and
    one staged write for all of them."""
    log = CommittedLog(str(tmp_path / "log"))
    log.append(_batch(spark, [(0, 2), (1, 1)]), order_col="seq")
    batches = _batch(spark, [(0, 3), (1, 2), (4, 1)]).withColumn(
        "b", (F.col("seq") % n_batches).cast("int")
    )
    n = jobs_run_by(
        lambda: log.append_batches(batches, batch_col="b", order_col="seq"),
        f"append-batches-jobs-{n_batches}",
    )
    assert n == 3, f"append_batches ran {n} Spark jobs, expected 3"
    assert log.snapshot()[1] == {0: 5, 1: 3, 4: 1}


def test_append_batches_across_a_checkpoint_stages_once(
    spark, tmp_path, jobs_run_by
):
    """A batch landing on a checkpoint version makes the checkpoint take
    the next version; the following batches commit after it from the
    same staged write, with no re-stage and no orphaned data file."""
    log = CommittedLog(str(tmp_path / "log"))
    log.append(_batch(spark, [(0, 1)]), order_col="seq")  # v0
    batches = _batch(spark, [(0, 12)]).withColumn("b", F.col("seq").cast("int"))
    n = jobs_run_by(
        lambda: log.append_batches(batches, batch_col="b", order_col="seq"),
        "append-batches-checkpoint",
    )
    assert n == 3, f"append_batches ran {n} Spark jobs, expected 3"
    # batches 0-9 are v1-v10, the checkpoint v11, batches 10-11 v12-v13
    assert log._versions() == list(range(14))
    assert json.loads(log.backend.get(log._manifest_key(11)))["checkpoint"]
    assert log.snapshot()[1] == {0: 13}
    assert log.vacuum(min_age_seconds=0) == []


def test_optimize_on_a_checkpoint_version_folds_a_checkpoint(
    spark, tmp_path, make_log
):
    """Every commit keeps the checkpoint cadence: an optimize landing on
    version 10 folds the checkpoint at 11, whose state is the replayed
    state."""
    log = make_log(str(tmp_path / "log"))
    batches = _batch(spark, [(0, 6), (1, 4)]).withColumn(
        "b", F.col("seq").cast("int")
    )
    assert log.append_batches(batches, batch_col="b", order_col="seq") == 9
    before = _offsets(log.read(spark))
    assert log.optimize(spark) == 10
    ckpt = json.loads(log.backend.get(log._manifest_key(11)))
    assert ckpt["checkpoint"]
    compacted = json.loads(log.backend.get(log._manifest_key(10)))["files"]
    assert sorted(ckpt["all_files"]) == sorted(compacted)
    assert log.snapshot()[:2] == (11, {0: 6, 1: 4})
    assert _offsets(log.read(spark)) == before
