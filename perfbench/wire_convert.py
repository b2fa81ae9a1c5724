"""wire_convert: Kafka wire-format conversions over a seeded log.

One pass runs every conversion once over the same seeded inputs:

  produce side  encode_wire_batches (snappy), transcode_batches
                (snappy -> gzip -> zstd), encode_offsets_topic
  fetch side    decode_wire_batches, down_convert_batches (v1, lz4
                wrapper), ingest_message_sets, recover_offsets_from_wire

Each call reads its input from parquet written at set-up, so calls are
independent requests. References are computed Spark-free at set-up: the
scalar codec (``encode_batch_v2``, ``transcode``, ``down_convert``, one
batch at a time) for byte-level outputs and for the decode inputs, never
the many-batch kernels the operators call; the generated rows, headers and
timestamps included, for round trips; pandas for offset recovery.
``kernel_rates`` times the many-batch kernels on the same bytes for the
``functions.*`` layer metrics.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from harness import median, row_digest, table_rows

RECORDS = 24_000        # log records per pass
COMMITS = 6_000         # offset commits per pass
BATCH_RECORDS = 100     # records per RecordBatch
TRANSCODE = ["gzip", "zstd"]
LOG_COLS = ["partition", "offset", "key", "value"]
WIRE_COLS = ["partition", "base_offset", "record_count", "batch"]
OFFSET_COLS = ["group", "topic", "partition", "offset", "metadata"]


class WireConvert:
    name = "wire_convert"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self._scalar = None

    # ------------------------------------------------------------------ #
    # set-up: inputs, Spark-free references, parquet request inputs
    # ------------------------------------------------------------------ #

    def setup(self, round_idx: int) -> None:
        from starlight_for_kafka_spark.functions import offsets_wire as ow

        rng = np.random.default_rng(self.seed)
        d = os.path.join(self.workdir, f"in{round_idx}")
        os.makedirs(d, exist_ok=True)
        self.dir = d
        recs = gen.with_offsets(gen.log_records(gen.events(rng, RECORDS, 0, gen.BASE_TS_US)))
        recs = recs.sort_values(["partition", "offset"], kind="stable").reset_index(drop=True)
        self.rec_bytes = int(sum(len(k) + len(v) for k, v in zip(recs.key, recs.value)))

        # RecordBatch inputs: per partition, offset order, 100-record chunks
        parts, bases, counts = [], [], []
        self.kernel_in = []
        for p, g in recs.groupby("partition", sort=True):
            offs = g.offset.to_numpy(np.int64)
            ts_ms = (g.ts_us.to_numpy(np.int64) // 1000)
            keys, vals = g.key.tolist(), g.value.tolist()
            hdrs = [[(h["key"], h["value"]) for h in hs] for hs in g.headers]
            starts = np.arange(0, len(g), BATCH_RECORDS, dtype=np.int64)
            self.kernel_in.append((offs, ts_ms, keys, vals, hdrs, starts))
            parts += [int(p)] * len(starts)
            bases += offs[starts].tolist()
            counts += np.diff(np.concatenate((starts, [len(g)]))).tolist()
        # the scalar codec is slow, so its bytes are built once per process;
        # the seed does not change between set-up rounds
        if self._scalar is None:
            self._scalar = _scalar_bytes(self.kernel_in)
        blobs, hops, self.msgsets = self._scalar
        self.snappy = blobs
        self.transcoded = hops
        wire = pd.DataFrame({"partition": np.array(parts, np.int32),
                             "base_offset": np.array(bases, np.int64),
                             "record_count": np.array(counts, np.int32),
                             "batch": blobs})

        # offset commits and their __consumer_offsets records
        cm = _commits(rng, COMMITS)
        self.commits = cm
        keys = [ow.encode_offset_key(g, t, int(p), 1)
                for g, t, p in zip(cm.group, cm.topic, cm.partition)]
        vals = [ow.encode_offset_value(int(o), m, int(ms), version=3, leader_epoch=0)
                for o, m, ms in zip(cm.offset, cm.metadata, cm.commit_ms)]
        self.offset_records = pd.DataFrame(
            {"key": keys, "value": vals, "append_ts": cm.commit_ms.to_numpy(np.int64)})
        self.offset_bytes = int(sum(len(k) + len(v) for k, v in zip(keys, vals)))

        # request inputs as parquet
        self.paths = {}
        self._write("records", pa.Table.from_pandas(
            recs[["key", "value", "headers", "timestamp", "partition", "offset"]],
            schema=_log_schema(), preserve_index=False))
        self._write("snappy", pa.Table.from_pandas(wire, preserve_index=False))
        self._write("transcoded", pa.Table.from_pandas(
            wire.assign(batch=hops), preserve_index=False))
        self._write("msgsets", pa.Table.from_pandas(pd.DataFrame({
            "partition": wire.partition, "message_set": self.msgsets}), preserve_index=False))
        self._write("commits", pa.Table.from_pandas(
            cm[["group", "topic", "partition", "offset", "metadata", "commit_ts"]],
            preserve_index=False))
        self._write("offset_records", pa.Table.from_pandas(
            self.offset_records, preserve_index=False))
        # expected digests; v2 carries headers, v0/v1 do not
        ts_ms = (recs.ts_us // 1000).astype(int).tolist()
        hdrs = [tuple((h["key"], h["value"]) for h in hs) for hs in recs.headers]
        log_rows = list(zip(recs.partition.astype(int), recs.offset.astype(int),
                            recs.key, recs.value, hdrs, ts_ms))
        legacy_rows = [r[:4] + ((),) + r[5:] for r in log_rows]
        wire_rows = list(zip(wire.partition.astype(int), wire.base_offset.astype(int),
                             wire.record_count.astype(int)))
        self.expect = {
            "encode_wire_batches": row_digest(
                r + (b,) for r, b in zip(wire_rows, blobs)),
            "transcode_batches": row_digest(
                r + (b,) for r, b in zip(wire_rows, hops)),
            "decode_wire_batches": row_digest(log_rows),
            "down_convert_batches": row_digest(
                r + (b,) for r, b in zip(wire_rows, self.msgsets)),
            "ingest_message_sets": row_digest(legacy_rows),
            "encode_offsets_topic": row_digest(
                zip(keys, vals, cm.commit_ms.astype(int))),
            "recover_offsets_from_wire": row_digest(_recovered(cm)),
        }

    def _write(self, name: str, table: pa.Table) -> None:
        path = os.path.join(self.dir, f"{name}.parquet")
        pq.write_table(table, path, coerce_timestamps="us", allow_truncated_timestamps=True)
        self.paths[name] = path

    # ------------------------------------------------------------------ #
    # one pass
    # ------------------------------------------------------------------ #

    def run_pass(self, rec) -> tuple[int, int]:
        """Returns (input records, key+value bytes through the conversions)."""
        from starlight_for_kafka_spark.operators import groups
        from starlight_for_kafka_spark.sources import wire

        read = lambda name: self.spark.read.parquet(self.paths[name])  # noqa: E731
        nb = self.rec_bytes
        calls = [
            ("produce", "encode_wire_batches", WIRE_COLS,
             lambda: wire.encode_wire_batches(read("records"), BATCH_RECORDS, "snappy"), nb),
            ("produce", "transcode_batches", WIRE_COLS,
             lambda: wire.transcode_batches(read("snappy"), TRANSCODE), nb),
            ("fetch", "decode_wire_batches", LOG_COLS,
             lambda: wire.decode_wire_batches(read("transcoded")), nb),
            ("fetch", "down_convert_batches", ["partition", "base_offset", "record_count",
                                              "message_set"],
             lambda: wire.down_convert_batches(read("snappy"), 1, "lz4"), nb),
            ("fetch", "ingest_message_sets", LOG_COLS,
             lambda: wire.ingest_message_sets(read("msgsets")), nb),
            ("produce", "encode_offsets_topic", ["key", "value", "append_ts"],
             lambda: groups.encode_offsets_topic(read("commits"), 1, 3, 0), self.offset_bytes),
            ("fetch", "recover_offsets_from_wire", OFFSET_COLS,
             lambda: groups.recover_offsets_from_wire(read("offset_records")), self.offset_bytes),
        ]
        nbytes = 0
        for cls, name, cols, fn, nby in calls:
            expect = self.expect[name]

            def check(table, cols=cols, expect=expect):
                rows = _log_rows(table) if cols is LOG_COLS else table_rows(table, cols)
                got = row_digest(rows)
                return got[0], got == expect

            if rec.request(cls, name, fn, check, collect=True) is not None:
                nbytes += nby
        return RECORDS + COMMITS, nbytes

    # ------------------------------------------------------------------ #
    # functions layer: the same kernels on the same bytes, no Spark
    # ------------------------------------------------------------------ #

    def kernel_rates(self, repeats: int = 3) -> dict[str, float]:
        """Input MB (or commits) per second of each kernel, median of
        ``repeats`` calls; ``transcode_mb_s`` covers both hops."""
        from starlight_for_kafka_spark.functions import kafka_records as kr
        from starlight_for_kafka_spark.functions import offsets_wire as ow

        def seconds(fn):
            ts = []
            for _ in range(repeats):
                t = time.perf_counter()
                fn()
                ts.append(time.perf_counter() - t)
            return median(ts)

        mb = self.rec_bytes / 1e6
        snappy_mb = sum(len(b) for b in self.snappy) / 1e6
        crc_parts = [bytes(b[21:]) for b in self.snappy]
        cm = self.commits
        rows = list(zip(cm.group, cm.topic, cm.partition, cm.offset, cm.metadata,
                        cm.commit_ms))
        recs = list(zip(self.offset_records.key, self.offset_records.value))

        def offsets_codec():
            for g, t, p, o, m, ms in rows:
                ow.encode_offset_key(g, t, int(p), 1)
                ow.encode_offset_value(int(o), m, int(ms), version=3, leader_epoch=0)
            for k, v in recs:
                ow.decode_key(k)
                ow.decode_offset_value(v)

        return {
            "encode_v2_mb_s": mb / seconds(lambda: [
                kr.encode_batches_v2_columnar(*a, compression="snappy")
                for a in self.kernel_in]),
            "decode_v2_mb_s": mb / seconds(lambda: kr.decode_batches_v2_columnar(
                self.transcoded)),
            "transcode_mb_s": mb / seconds(lambda: kr.transcode_many(
                kr.transcode_many(self.snappy, TRANSCODE[0]), TRANSCODE[1])),
            "down_convert_mb_s": mb / seconds(lambda: kr.down_convert_many(
                self.snappy, 1, compression="lz4")),
            "decode_v01_mb_s": mb / seconds(lambda: kr.decode_message_sets_v01_many(
                self.msgsets)),
            "crc32c_mb_s": snappy_mb / seconds(lambda: kr.crc32c_many(crc_parts)),
            "offsets_codec_rec_s": len(rows) / seconds(offsets_codec),
        }


def _scalar_bytes(kernel_in) -> tuple[list[bytes], list[bytes], list[bytes]]:
    """(snappy batches, batches after the transcode chain, lz4 v1 message
    sets), one batch at a time through the scalar codec."""
    from starlight_for_kafka_spark.functions import kafka_records as kr

    blobs = []
    for offs, ts_ms, keys, vals, hdrs, starts in kernel_in:
        rows = [{"offset": o, "timestamp_ms": t, "key": k, "value": v, "headers": h}
                for o, t, k, v, h in zip(offs.tolist(), ts_ms.tolist(), keys, vals, hdrs)]
        for s in starts.tolist():
            chunk = rows[s:s + BATCH_RECORDS]
            blobs.append(kr.encode_batch_v2(chunk[0]["offset"], chunk, compression="snappy"))
    hops = blobs
    for target in TRANSCODE:
        hops = [kr.transcode(b, target) for b in hops]
    msgsets = [kr.down_convert(b, 1, compression="lz4") for b in blobs]
    return blobs, hops, msgsets


_TS_PER_MS = {"ms": 1, "us": 1_000, "ns": 1_000_000}


def _log_rows(table: pa.Table):
    """(partition, offset, key, value, headers, timestamp ms) rows of a
    decoded log table, headers as a tuple of (key, value) pairs."""
    ts = table.column("timestamp")
    per_ms = _TS_PER_MS[ts.type.unit]
    ms = [None if v is None else v // per_ms for v in ts.cast(pa.int64()).to_pylist()]
    hdrs = [tuple((h["key"], h["value"]) for h in hs or ())
            for hs in table.column("headers").to_pylist()]
    return (r + (h, m) for r, h, m in zip(table_rows(table, LOG_COLS), hdrs, ms))


def _log_schema() -> pa.Schema:
    return pa.schema([
        ("key", pa.binary()), ("value", pa.binary()),
        ("headers", pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))),
        ("timestamp", pa.timestamp("us")), ("partition", pa.int32()),
        ("offset", pa.int64()),
    ])


def _commits(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Offset commits for 8 groups x 3 topics x 8 partitions with
    increasing, millisecond-distinct commit times."""
    g = rng.integers(0, 8, n)
    t = rng.integers(0, 3, n)
    p = rng.integers(0, gen.N_PARTITIONS, n)
    ms = gen.BASE_TS_US // 1000 + np.cumsum(rng.integers(1, 40, n))
    return pd.DataFrame({
        "group": [f"g{x}" for x in g.tolist()],
        "topic": [f"topic{x}" for x in t.tolist()],
        "partition": p.astype(np.int32),
        "offset": rng.integers(0, 1_000_000, n).astype(np.int64),
        "metadata": [f"m{x}" for x in rng.integers(0, 50, n).tolist()],
        "commit_ms": ms.astype(np.int64),
        "commit_ts": pd.to_datetime(ms, unit="ms"),
    })


def _recovered(cm: pd.DataFrame):
    """Latest commit per (group, topic, partition); commit times are
    distinct, so the latest is unique."""
    last = cm.sort_values("commit_ms").groupby(["group", "topic", "partition"]).last()
    return [(g, t, int(p), int(r.offset), r.metadata)
            for (g, t, p), r in last.iterrows()]
