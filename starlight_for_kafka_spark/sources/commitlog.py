"""CommittedLog — a multi-writer-safe at-rest log with optimistic commits.

``LogTable.append`` is single-writer by contract: two concurrent appenders
would snapshot the same high watermarks and assign overlapping offsets (the
classic lost update; see sources/logtable.py:159-165). The reference never
hits this because a Kafka partition has exactly one leader broker serializing
appends (PartitionLog.appendRecords via PendingTopicFutures,
storage/PartitionLog.java:538). On a data lake there is no leader, so this
module supplies what Delta/Iceberg call an optimistic transaction log:

Layout::

    <root>/data/part=<p>/<writer>-<attempt>-<n>.parquet   (data files)
    <root>/_log/00000000000000000042.json                 (manifest, one per version)

Each manifest records the files its commit ADDED plus the post-commit
per-partition next offsets (watermarks). A version commits through the
``ManifestBackend`` seam's single atomic primitive, PUT-if-absent:
``PosixManifestBackend`` (tmp+fsync+hard-link, atomic on POSIX and HDFS) and
``InMemoryConditionalPutBackend`` (the S3 If-None-Match / GCS
if-generation-match=0 shape, as tested code) both ship; a real object-store
deployment drops in the latter's protocol against the bucket API. Exactly
one writer can win a version; the loser re-reads the new watermarks,
REASSIGNS offsets, rewrites
its data files, and retries — offsets depend on the watermark snapshot, so a
conflict invalidates the data files themselves, not just the manifest
(unlike a blind Delta append, which could simply re-commit).

Readers list ``_log`` (tiny: one small JSON per commit), union the committed
file lists, and read exactly those parquet files — snapshot isolation for
free: files from in-flight or failed commits are on disk but invisible until
their manifest lands. ``vacuum()`` deletes unreferenced (orphaned) data
files from lost attempts.

Scale notes: the commit path is O(files-in-batch) driver work plus one
atomic create — no data-plane cost; offset assignment inside a batch is the
same one-shuffle ``row_number`` plan as ``LogTable.append``. An append of a
small batch runs 3 Spark jobs: the offset window's shuffle map, the
watermark broadcast and the staged write. The watermark frame is an Arrow
``LocalRelation`` (``plans.local_frame``), so its broadcast is a JVM-only
scan with no Python-worker task; the per-partition counts that advance the
watermarks are the ``num_rows`` of the parquet footers the attempt staged —
no input pin, no counting job, and a manifest that records exactly what
its files hold. The manifest list grows one tiny file per commit;
``checkpoint`` folds the state into a single JSON every N commits the way
Delta does (listing stays O(N)).

Reads take what the replay already knows. ``read`` hands the log schema
to the parquet reader, so building a snapshot frame runs no Spark job (no
footer schema inference), and tags that frame with the replayed
watermarks: ``LogTable.latest_offsets`` / ``high_watermarks`` on it are a
``LocalRelation`` of the log-end offsets (no job when collected), the
broker answering LIST_OFFSETS LATEST from metadata instead of
aggregating the log.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.local import local_frame
from .logtable import (
    KAFKA_RECORD_SCHEMA,
    LOG_COLUMNS,
    assign_dense_offsets,
    tag_log_end_offsets,
)

_LOG_DIR = "_log"
_DATA_DIR = "data"
_CHECKPOINT_EVERY = 10


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field and element nullable — the schema a
    parquet read reports, whatever the writer declared."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    return dt


# what every read of the log returns: handed to the parquet reader so a
# snapshot frame needs no schema-inference job, and used as-is for the
# empty log so both report one schema
_READ_SCHEMA = _nullable(KAFKA_RECORD_SCHEMA)

# above this many paths Spark lists a read's files with a Spark job
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
# concurrent reads must not save each other's raised threshold as the
# value to restore
_LISTING_LOCK = threading.Lock()


def _list_on_driver(spark: SparkSession, n_paths: int, build):
    """``build()`` with Spark's file listing kept on the driver for
    ``n_paths`` paths. A snapshot names its files, so listing them is a
    stat per file; above the session's parallel-discovery threshold
    (32 by default) Spark would run a listing job instead (~0.5 s on a
    local session). The threshold is raised only for this call and
    restored (unset if it was unset) before returning."""
    conf = spark.conf
    with _LISTING_LOCK:
        saved = conf.get(_LISTING_THRESHOLD, None)  # None: not set explicitly
        if n_paths <= int(saved or conf.get(_LISTING_THRESHOLD)):
            return build()
        conf.set(_LISTING_THRESHOLD, str(n_paths))
        try:
            return build()
        finally:
            if saved is None:
                conf.unset(_LISTING_THRESHOLD)
            else:
                conf.set(_LISTING_THRESHOLD, saved)


class CommitConflict(Exception):
    """Another writer committed this version first."""


def _staged_counts(stage_dir: str) -> dict[int, int]:
    """Rows per log partition in a ``partitionBy("partition")`` staged
    tree, summed from the parquet footers (``num_rows``) of every file
    under ``partition=<p>/`` — driver-side metadata reads, no Spark job.
    A partition split over several files (``maxRecordsPerFile``) sums
    them; an empty write stages no partition directory and counts
    nothing."""
    counts: dict[int, int] = {}
    for pdir in os.listdir(stage_dir):
        if not pdir.startswith("partition="):
            continue
        full = os.path.join(stage_dir, pdir)
        n = sum(
            pq.read_metadata(os.path.join(full, fn)).num_rows
            for fn in os.listdir(full)
            if fn.endswith(".parquet")
        )
        counts[int(pdir[len("partition="):])] = n
    return counts


def _staged_batches(stage_dir: str, batch_col: str | None) -> dict[int, str]:
    """{batch value: its ``<batch_col>=<b>`` subtree} of a
    ``partitionBy(batch_col, "partition")`` staged write. The value is
    read back from the directory name — an integral value is never
    path-escaped — and a null batch (Spark's default-partition directory)
    raises before the caller publishes anything. Without ``batch_col``
    the whole tree is one batch, even when it staged no rows."""
    if batch_col is None:
        return {0: stage_dir}
    staged: dict[int, str] = {}
    for d in os.listdir(stage_dir):
        full = os.path.join(stage_dir, d)
        # a batch column may itself start with "_" (``__parity``), so
        # only non-directories and names without "=" are skipped
        if "=" not in d or not os.path.isdir(full):
            continue
        value = d.rsplit("=", 1)[1]
        if value == "__HIVE_DEFAULT_PARTITION__":
            shutil.rmtree(stage_dir, ignore_errors=True)
            raise ValueError(f"append_batches: null value in {batch_col!r}")
        staged[int(value)] = full
    return staged


def _watermark_frame(spark: SparkSession, watermarks: dict[int, int]) -> DataFrame:
    """The (partition, high_watermark) frame ``assign_dense_offsets``
    broadcasts: a LocalRelation, so its broadcast is a JVM-only scan
    with no Python-worker task."""
    return local_frame(
        spark,
        [(int(p), int(n)) for p, n in watermarks.items()],
        "partition int, high_watermark long",
    )


class ManifestBackend:
    """The three object-store operations the commit protocol needs over
    the manifest namespace: LIST keys, GET an object, and PUT-if-absent.
    The conditional PUT is the ONLY mutation and the only primitive that
    must be atomic — every other guarantee (snapshot isolation, loser
    retry, checkpointing) is protocol, not storage."""

    def list_keys(self) -> list[str]:
        raise NotImplementedError

    def get(self, key: str) -> bytes:
        raise NotImplementedError

    def put_if_absent(self, key: str, payload: bytes) -> bool:
        """Publish the FULL payload under ``key`` iff the key does not
        exist. True = this writer won the version."""
        raise NotImplementedError


class PosixManifestBackend(ManifestBackend):
    """Filesystem backend: PUT-if-absent is tmp-write + fsync + hard-link
    — the link either creates the complete file or fails with EEXIST
    (atomic on POSIX and HDFS). A bare O_CREAT|O_EXCL + write would
    expose an empty/partial manifest to a concurrent reader, and a crash
    mid-write would brick the log with a truncated manifest forever."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir
        os.makedirs(log_dir, exist_ok=True)

    def list_keys(self) -> list[str]:
        return sorted(n for n in os.listdir(self.log_dir) if n.endswith(".json"))

    def get(self, key: str) -> bytes:
        with open(os.path.join(self.log_dir, key), "rb") as f:
            return f.read()

    def put_if_absent(self, key: str, payload: bytes) -> bool:
        path = os.path.join(self.log_dir, key)
        tmp = path + f".{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)


class InMemoryConditionalPutBackend(ManifestBackend):
    """Object-store-shaped backend: a dict under a lock models a bucket
    whose PUT honors If-None-Match:* (the S3 conditional write that either
    lands the full object or fails 412-PreconditionFailed; same shape as
    GCS if-generation-match=0 or an ABS If-None-Match ETag). This is the
    documented non-POSIX deployment path of the commit protocol as TESTED
    CODE: the race tests run the identical protocol against this backend
    and the hard-link one."""

    def __init__(self):
        self._objects: dict[str, bytes] = {}
        self._lock = threading.Lock()

    def list_keys(self) -> list[str]:
        with self._lock:
            return sorted(self._objects)

    def get(self, key: str) -> bytes:
        with self._lock:
            return self._objects[key]

    def put_if_absent(self, key: str, payload: bytes) -> bool:
        with self._lock:
            if key in self._objects:
                return False
            self._objects[key] = payload
            return True


class CommittedLog:
    def __init__(self, root: str, backend: ManifestBackend | None = None):
        self.root = root
        self.backend = (
            backend
            if backend is not None
            else PosixManifestBackend(os.path.join(root, _LOG_DIR))
        )
        os.makedirs(os.path.join(root, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, _DATA_DIR), exist_ok=True)

    # ------------------------------------------------------------------ #
    # manifest plumbing (driver-side, tiny)
    # ------------------------------------------------------------------ #

    def _manifest_key(self, version: int) -> str:
        return f"{version:020d}.json"

    def _versions(self) -> list[int]:
        return sorted(
            int(n[: -len(".json")]) for n in self.backend.list_keys()
        )

    def snapshot(self) -> tuple[int, dict[int, int], list[str]]:
        """(current version, per-partition next offset, committed files).
        Version -1 = empty log."""
        version, watermarks, files, _ = self._replay()
        return version, watermarks, files

    def _replay(
        self, at_version: int | None = None
    ) -> tuple[int, dict[int, int], list[str], dict[str, int]]:
        """Full state replay: also returns committed txn_id → version (the
        sink-side exactly-once ledger). Reads the latest checkpoint (if
        any) then only the manifests after it. ``at_version`` replays only
        manifests ≤ that version — time travel, Delta's VERSION AS OF."""
        versions = self._versions()
        if at_version is not None:
            versions = [v for v in versions if v <= at_version]
        if not versions:
            return -1, {}, [], {}
        watermarks: dict[int, int] = {}
        files: list[str] = []
        txns: dict[str, int] = {}
        start = 0
        # a checkpoint manifest carries the full state up to its version
        for i in range(len(versions) - 1, -1, -1):
            m = json.loads(self.backend.get(self._manifest_key(versions[i])))
            if m.get("checkpoint"):
                watermarks = {int(k): v for k, v in m["watermarks"].items()}
                files = list(m["all_files"])
                txns = dict(m.get("txn_ids", {}))
                start = i + 1
                break
        for v in versions[start:]:
            m = json.loads(self.backend.get(self._manifest_key(v)))
            if m.get("checkpoint"):
                continue
            removes = set(m.get("removes", []))
            if removes:
                files = [f for f in files if f not in removes]
            files.extend(m["files"])
            for k, nxt in m["watermarks"].items():
                watermarks[int(k)] = nxt
            if m.get("txn_id") is not None:
                txns[m["txn_id"]] = v
        return versions[-1], watermarks, files, txns

    def _publish_staged(self, stage_dir: str, attempt_tag: str) -> list[str]:
        """Move staged parquet files into data/, refreshing each file's
        mtime (os.utime) at PUBLISH time: vacuum's min-age window keys off
        mtime, and os.rename preserves the write-time stamp — a writer
        stalled longer than min_age_seconds between staging and winning
        the manifest race would otherwise have its just-published files
        vacuumed out from under the manifest it then commits."""
        new_files = []
        for pdir in sorted(os.listdir(stage_dir)):
            if not pdir.startswith("partition="):
                continue
            dest_dir = os.path.join(self.root, _DATA_DIR, pdir)
            os.makedirs(dest_dir, exist_ok=True)
            for i, fn in enumerate(
                sorted(os.listdir(os.path.join(stage_dir, pdir)))
            ):
                if not fn.endswith(".parquet"):
                    continue
                dest_name = f"{attempt_tag}-{i}.parquet"
                dest = os.path.join(dest_dir, dest_name)
                os.rename(os.path.join(stage_dir, pdir, fn), dest)
                os.utime(dest)
                new_files.append(f"{_DATA_DIR}/{pdir}/{dest_name}")
        shutil.rmtree(stage_dir, ignore_errors=True)
        return new_files

    # ------------------------------------------------------------------ #
    # append (optimistic, retried)
    # ------------------------------------------------------------------ #

    def append(
        self,
        records: DataFrame,
        order_col: str | None = None,
        max_retries: int = 10,
        writer_id: str | None = None,
        txn_id: str | None = None,
    ) -> int:
        """Append a batch with dense per-partition offsets, safe under
        concurrent writers. Returns the committed version.

        Loop: snapshot watermarks → assign offsets (one shuffle) → write
        data files → advance each partition's watermark by the row count
        in the parquet footers just staged → attempt the atomic manifest
        create. On conflict the data files are orphaned (invisible to
        readers), the snapshot is refreshed, and the whole batch re-runs
        with the new base offsets — re-evaluating ``records``, which is
        not pinned. That is safe: each committed version's files and
        watermarks come from ONE evaluation (its own staged write), so a
        manifest always records exactly what its files hold. A caller
        whose input can change between evaluations and who needs the
        first evaluation committed should pin it first. An append of a
        small batch runs 3 Spark jobs (see the module's scale notes).

        ``txn_id`` makes the append IDEMPOTENT: the manifest records it,
        and a later append carrying an already-committed txn_id no-ops and
        returns the original version — the TXN_OFFSET_COMMIT/END_TXN
        replay-dedup contract (§2.4), and exactly what a Structured
        Streaming foreachBatch sink needs when a recovered checkpoint
        re-delivers the last epoch (see streaming/stream_ops.commitlog_sink).
        The check runs inside the retry loop, so two racing writers with
        the SAME txn_id commit exactly once: the loser re-replays, sees
        the txn landed, and no-ops.
        """
        return self._commit_staged(
            records, None, order_col, max_retries, writer_id, txn_id
        )

    def append_batches(
        self,
        records: DataFrame,
        batch_col: str,
        order_col: str,
        max_retries: int = 10,
        writer_id: str | None = None,
    ) -> int:
        """Append N sequential batches — the ascending distinct values of
        ``batch_col`` — each as its OWN committed version, exactly as N
        sequential :meth:`append` calls would, but computed in one Spark
        job chain: one offset-assignment window and one staged write for
        ALL batches. The batches and their per-partition counts are read
        back from the staged ``<batch_col>=<b>/partition=<p>/`` tree's
        parquet footers, as :meth:`append` reads its own.

        ``batch_col`` must be an integral column (rejected from the
        schema before any job runs) and must hold no null (rejected after
        the staged write, before any manifest is published). There is no
        ``txn_id`` path: an exactly-once sink must use :meth:`append`.

        Equivalence to sequential appends: within a partition the window
        orders by (``batch_col``, ``order_col``), so batch b's rows get
        dense offsets starting exactly at the watermark left by batch
        b-1 — the same numbers per-batch windows over updated watermarks
        assign. Each batch still lands as its own manifest version with
        its own files and post-batch watermarks (snapshot isolation and
        time travel see identical states), published in batch order
        through the same conditional-PUT race as ``append``.

        Multi-writer safety: offsets for every staged batch assume the
        snapshot taken at stage time, so a conflict on ANY version
        invalidates the remaining batches' files (they stay orphaned and
        invisible, vacuum's job); the loop re-snapshots and re-stages
        only the uncommitted batches, re-evaluating ``records`` as
        :meth:`append` does. Returns the last committed version.
        """
        dtype = records.schema[batch_col].dataType
        if not isinstance(dtype, T.IntegralType):
            raise ValueError(
                f"append_batches: batch_col {batch_col!r} must be integral,"
                f" got {dtype.simpleString()}"
            )
        return self._commit_staged(
            records, batch_col, order_col, max_retries, writer_id, None
        )

    def _commit_staged(
        self,
        records: DataFrame,
        batch_col: str | None,
        order_col: str | None,
        max_retries: int,
        writer_id: str | None,
        txn_id: str | None,
    ) -> int:
        """The one optimistic commit loop behind :meth:`append` (no
        ``batch_col``: the whole frame is one batch) and
        :meth:`append_batches`: snapshot, assign offsets, stage, then per
        batch read its footer counts, publish its files and PUT its
        manifest; on a conflict re-stage the uncommitted batches. Returns
        the last committed version."""
        writer_id = writer_id or uuid.uuid4().hex[:8]
        spark = records.sparkSession
        keep = () if batch_col is None else (batch_col,)
        remaining: list[int] | None = None  # every batch, until staged once
        for attempt in range(max_retries):
            version, watermarks, _files, txns = self._replay()
            if txn_id is not None and txn_id in txns:
                return txns[txn_id]  # already committed: idempotent no-op
            sub = records
            if batch_col is not None and remaining is not None:
                sub = records.filter(F.col(batch_col).isin(remaining))
            # ONE window over (partition) ordered by (batch, order): each
            # batch's block is contiguous, so its offsets are dense and
            # start at the previous batch's end — identical to per-batch
            # assignment against rolling watermarks
            assigned = assign_dense_offsets(
                sub, _watermark_frame(spark, watermarks), batch_col, order_col,
                keep=keep,
            )
            # stage the attempt, then move files into the ONE consistent
            # data/partition=p/ tree (unique names per attempt) — mixed
            # per-writer subtrees would break Spark's partition discovery,
            # and a shared tree keeps partition pruning on reads. Renames
            # are metadata-only locally/on HDFS; an object store pays a
            # copy here (or writes direct with unique keys).
            # unique per CALL and attempt: a reused writer_id (a stable
            # process identity is the natural reading) must never rename
            # over a previous append's committed files
            stage_tag = f"{writer_id}-{uuid.uuid4().hex[:8]}-{attempt}"
            stage_dir = os.path.join(self.root, "_staging", stage_tag)
            # NO repartition before the write: the row_number window above
            # already hash-partitioned the batch by `partition`, so a
            # repartition("partition") here would be a second full shuffle
            # for the same layout. Tasks may hold several log partitions
            # (hash collisions), so the within-task sort leads with the
            # partition column to keep each parquet file offset-ordered;
            # within a partition offset order IS (batch, order) order, so
            # one sort serves every batch subtree.
            (
                assigned.sortWithinPartitions("partition", "offset")
                .write.mode("overwrite")
                .partitionBy(*keep, "partition")
                .parquet(stage_dir)
            )
            staged = _staged_batches(stage_dir, batch_col)
            remaining = sorted(staged)
            committed = version
            for i, b in enumerate(list(remaining)):
                new_marks = dict(watermarks)
                for p, cnt in _staged_counts(staged[b]).items():
                    new_marks[p] = new_marks.get(p, 0) + cnt
                new_files = self._publish_staged(staged[b], f"{stage_tag}-b{i}")
                manifest = {
                    "writer": writer_id,
                    "files": new_files,
                    "watermarks": {str(p): n for p, n in new_marks.items()},
                    "txn_id": txn_id,
                }
                try:
                    top = self._commit(version + 1, manifest, new_files)
                except CommitConflict:
                    # this batch's (and all later staged) offsets assumed
                    # the stale snapshot: orphan them, re-stage the rest
                    break
                committed, version = version + 1, top
                watermarks = new_marks
                remaining.remove(b)
            shutil.rmtree(stage_dir, ignore_errors=True)
            if not remaining:
                return committed
        raise CommitConflict(f"lost {max_retries} commit races on {self.root}")

    def _commit(self, version: int, manifest: dict, files: list[str]) -> int:
        """Land ``manifest`` as ``version`` — the one PUT every append and
        optimize makes — and fold a checkpoint every
        ``_CHECKPOINT_EVERY`` versions. Returns the newest version now in
        the log: ``version``, or the checkpoint's.

        ``files`` are re-stamped IMMEDIATELY before the PUT: the
        publish-time stamp protects staging→publish, but a writer
        suspended between publish and here for longer than vacuum's
        min_age would still commit a manifest referencing vacuumed files
        (for optimize, whose manifest also retires the old files, that
        would leave no surviving copy of the data). This shrinks the
        unprotected span to the stamp→PUT instructions; the residual
        invariant is documented on vacuum(). Raises ``CommitConflict``
        when another writer holds ``version``."""
        for rel in files:
            try:
                os.utime(os.path.join(self.root, rel))
            except OSError:
                pass
        payload = json.dumps({"version": version, **manifest}).encode()
        if not self.backend.put_if_absent(self._manifest_key(version), payload):
            raise CommitConflict(f"version {version} already committed")
        folds = version > 0 and version % _CHECKPOINT_EVERY == 0
        return version + 1 if folds and self._checkpoint(version) else version

    def _checkpoint(self, upto: int) -> bool:
        """Fold all state ≤ upto into one checkpoint manifest at upto + 1
        so snapshot() stops replaying old manifests (Delta's
        checkpoint.parquet analog). Best-effort: False when another
        writer holds that version."""
        _, watermarks, files, txns = self._replay(at_version=upto)
        manifest = {
            "version": upto + 1,
            "checkpoint": True,
            "watermarks": {str(p): n for p, n in watermarks.items()},
            "all_files": files,
            "txn_ids": txns,
        }
        key = self._manifest_key(upto + 1)
        return self.backend.put_if_absent(key, json.dumps(manifest).encode())

    # ------------------------------------------------------------------ #
    # read / maintenance
    # ------------------------------------------------------------------ #

    def read(self, spark: SparkSession, at_version: int | None = None) -> DataFrame:
        """Snapshot-isolated read: exactly the committed files. The
        ``partition`` column is reconstructed from the directory layout
        (basePath keeps partition pruning working). ``at_version`` reads
        the log as of that committed version (time travel): manifests are
        append-only and vacuum only deletes UNreferenced files, so every
        historical version stays readable until its files are aged out by
        an explicit retention pass.

        The schema is known and the files are listed on the driver
        however many there are, so building the frame runs no Spark job, and
        the returned frame is tagged with the snapshot's log-end offsets
        (``tag_log_end_offsets``): ``LogTable`` on it answers
        ``latest_offsets`` / ``high_watermarks`` from the manifest."""
        _, watermarks, files, _ = self._replay(at_version)
        if not files:
            df = local_frame(spark, [], _READ_SCHEMA)
        else:
            paths = [os.path.join(self.root, f) for f in files]
            reader = spark.read.schema(_READ_SCHEMA).option(
                "basePath", os.path.join(self.root, _DATA_DIR)
            )
            df = _list_on_driver(
                spark, len(paths), lambda: reader.parquet(*paths)
            ).select(*LOG_COLUMNS)
        return tag_log_end_offsets(df, watermarks)

    def optimize(self, spark: SparkSession, max_retries: int = 10) -> int:
        """Compact the log's committed files into one offset-sorted file
        per partition, as an ATOMIC commit that removes the old files and
        adds the new ones in a single manifest (Delta OPTIMIZE / Iceberg
        rewrite-data-files). Readers never see a half-compacted log:
        either the old file list or the new one, decided by the same
        conditional manifest PUT appends use — a concurrent append simply wins
        or loses a version, and the loser (this job) re-reads and retries
        over the appended data. Watermarks are untouched: compaction
        rewrites bytes, not offsets.

        Old files stay on disk for time travel until ``vacuum(retain)``
        ages them out — exactly the Delta contract.
        """
        for attempt in range(max_retries):
            version, watermarks, old_files, _ = self._replay()
            if not old_files:
                return version
            current = self.read(spark)
            attempt_tag = f"optimize-{uuid.uuid4().hex[:8]}-{attempt}"
            stage_dir = os.path.join(self.root, "_staging", attempt_tag)
            (
                current.repartition("partition")
                .sortWithinPartitions("offset")
                .write.mode("overwrite")
                .partitionBy("partition")
                .parquet(stage_dir)
            )
            new_files = self._publish_staged(stage_dir, attempt_tag)
            manifest = {
                "optimize": True,
                "files": new_files,
                "removes": old_files,
                "watermarks": {str(p): n for p, n in watermarks.items()},
            }
            try:
                self._commit(version + 1, manifest, new_files)
            except CommitConflict:
                continue  # someone appended; recompact over the new state
            return version + 1
        raise CommitConflict(f"optimize lost {max_retries} races on {self.root}")

    def vacuum(self, min_age_seconds: float = 3600.0) -> list[str]:
        """Delete data files the CURRENT snapshot does not reference —
        debris from lost commit races and files replaced by ``optimize``.
        Like Delta's VACUUM, this ages out time travel: historical
        versions whose files are gone stop being readable.

        ``min_age_seconds`` is the safety window (Delta's retention
        check): a file younger than it is NEVER deleted, because an
        in-flight append may have renamed its files into ``data/`` but not
        yet won its manifest race — deleting those would let the commit
        land referencing vanished files. Writers re-stamp their files'
        mtimes immediately before the manifest PUT and vacuum re-reads the
        log right before unlinking, so the hazard needs a writer suspended
        longer than ``min_age_seconds`` between its final stamp and its
        PUT *and* a vacuum replay inside that sliver. INVARIANT (same as
        Delta's "retention must exceed the longest-running transaction"):
        keep ``min_age_seconds`` above any believable writer pause; only
        lower it when no writer can be active.

        Also sweeps crash debris outside ``data/``: abandoned ``_staging``
        attempt dirs (a writer that died between its parquet write and the
        renames) and orphaned ``_log/*.tmp`` manifests (died between the
        tmp write and the link), under the same age guard."""
        import time

        _, _, files = self.snapshot()
        live = set(files)
        deleted = []
        now = time.time()

        def old_enough(path: str) -> bool:
            try:
                return now - os.path.getmtime(path) >= min_age_seconds
            except OSError:
                return False

        data_root = os.path.join(self.root, _DATA_DIR)
        candidates = []
        for dirpath, _dirs, names in os.walk(data_root):
            for fn in names:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.root)
                if fn.endswith(".parquet") and rel not in live and old_enough(full):
                    candidates.append((full, rel))
        if candidates:
            # second look at the log right before deleting: a writer that
            # committed between our snapshot above and now has its files
            # referenced here, so they drop out of the candidate set. The
            # age guard handles the remaining sliver (a commit landing
            # between THIS replay and the unlink requires the writer to
            # have stalled > min_age_seconds after its pre-commit mtime
            # stamp — the documented retention invariant, same contract as
            # Delta's VACUUM retention vs longest-running transaction).
            _, _, files2, _ = self._replay()
            live2 = set(files2)
            for full, rel in candidates:
                if rel in live2:
                    continue
                os.remove(full)
                deleted.append(rel)
        stage_root = os.path.join(self.root, "_staging")
        if os.path.isdir(stage_root):
            for d in os.listdir(stage_root):
                full = os.path.join(stage_root, d)
                # age by the NEWEST file inside, not the dir mtime: a dir's
                # mtime reflects creation/early writes, so a large write
                # still in flight after min_age would look abandoned and
                # get rmtree'd under the writer
                newest = full
                for dirpath, _dirs, files in os.walk(full):
                    for fn in files:
                        fp = os.path.join(dirpath, fn)
                        try:
                            if os.path.getmtime(fp) > os.path.getmtime(newest):
                                newest = fp
                        except OSError:
                            pass
                if old_enough(newest):
                    shutil.rmtree(full, ignore_errors=True)
                    deleted.append(os.path.relpath(full, self.root))
        log_root = os.path.join(self.root, _LOG_DIR)
        for fn in os.listdir(log_root):
            if fn.endswith(".tmp"):
                full = os.path.join(log_root, fn)
                if old_enough(full):
                    os.unlink(full)
                    deleted.append(os.path.relpath(full, self.root))
        return sorted(deleted)
