"""Kafka wire-format operators: log rows ↔ RecordBatch v2 bytes.

The reference's data plane is exactly this layer — Kafka batches encoded
into / decoded out of storage entries, plus magic down-conversion for old
consumers (utils/ByteBufUtils.java:172-278, format/KafkaV1EntryFormatter
.java:40-64, format/AbstractEntryFormatter.java:238-281). Here the byte
codec is functions/kafka_records.py (pure Python, public protocol spec)
and the operators are Arrow-batched:

- encode: applyInPandas grouped by partition — each partition's records
  are offset-sorted and chunked into batches of ``max_records_per_batch``,
  mirroring how a producer's batches land on a partition leader. One
  shuffle on ``partition`` (the same co-location produce needs anyway).
- decode: mapInPandas — batches are self-contained blobs, so decoding is
  embarrassingly parallel, no shuffle; CRC32C is verified per batch.

Kafka timestamps are MILLISECONDS on the wire, so a roundtrip truncates
sub-ms precision — that is wire semantics, not a codec defect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from starlight_for_kafka_spark.functions import kafka_records as kr
from starlight_for_kafka_spark.plans.kernels import kernel

WIRE_BATCH_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("base_offset", T.LongType(), False),
        T.StructField("record_count", T.IntegerType(), False),
        T.StructField("batch", T.BinaryType(), False),
    ]
)


def encode_wire_batches(
    log: DataFrame, max_records_per_batch: int = 100, compression: str | None = None
) -> DataFrame:
    """Encode a log DataFrame into RecordBatch v2 blobs, one row per
    batch: (partition, base_offset, record_count, batch binary);
    ``compression`` of 'gzip' | 'snappy' | 'lz4' | 'zstd' compresses each
    batch's records section per the protocol (full Kafka codec set,
    KopLogValidator.java:495-520).

    Batch membership (positional chunks of ``max_records_per_batch`` rows
    in offset order) is assigned JVM-side with a per-partition row_number,
    and the Python kernel then runs per (partition, bucket-of-16-batches)
    group — so encode parallelism scales with the DATA, not the number of
    log partitions (a per-partition kernel would serialize a hot
    partition's whole byte-assembly into one task: a 2-partition topic
    would use 2 of 32 cores), while each kernel call still amortizes the
    Python/Arrow invocation over 16 batches (one group per batch measured
    slower than the per-partition kernel — per-group overhead dominates).
    The batch boundaries produced are identical in all three shapes."""
    from pyspark.sql import Window

    n = max_records_per_batch
    batches_per_group = 16
    w = Window.partitionBy("partition").orderBy("offset")
    staged = log.withColumn(
        "__grp",
        F.floor(
            (F.row_number().over(w) - 1) / F.lit(n * batches_per_group)
        ).cast("long"),
    )
    # EXPLICIT re-shuffle on (partition, __grp): without it Catalyst
    # reuses the window's hash-partitioning on `partition` alone (it
    # already co-locates equal (partition, __grp) rows), so the whole
    # encode kernel runs in num-log-partitions tasks — measured at 100x:
    # the entire post-shuffle stage (sort + windows + Python encode) ran
    # in 2 tasks, 49.8s of executor time. The extra exchange is C-speed
    # bytes; the Python/Arrow hop is the expensive leg and it must scale
    # with the data, not the partition count.
    staged = staged.repartition("partition", "__grp").withColumn(
        # epoch millis computed JVM-side: a pandas .astype('int64') on the
        # timestamp column would encode SESSION-LOCAL wall-clock millis
        # into the wire bytes (wrong for any non-UTC session, silently
        # self-cancelling on roundtrip) and crashes/corrupts on NULL
        # timestamps. unix_millis is an instant regardless of session TZ;
        # NULL maps to Kafka's NO_TIMESTAMP (-1) in the kernel.
        "__ts_ms",
        F.unix_millis("timestamp"),
    )

    def op(key, pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("offset")
        part = int(key[0])
        n_rec = len(pdf)
        # columnar straight through: building per-record dicts was ~40%
        # of kernel time; the codec itself vectorizes varints across the
        # whole chunk (kafka_records.encode_batches_v2_columnar) with all
        # CRCs in one lane-parallel pass
        offs = pdf["offset"].to_numpy(dtype=np.int64)
        ts_ms = (
            pdf["__ts_ms"].fillna(-1).to_numpy(dtype=np.int64, na_value=-1)
            if pdf["__ts_ms"].isna().any()
            else pdf["__ts_ms"].to_numpy(dtype=np.int64)
        )
        keys = [None if k is None else bytes(k) for k in pdf["key"]]
        vals = [None if v is None else bytes(v) for v in pdf["value"]]
        hdrs_raw = pdf["headers"].tolist()
        headers = None
        if any(hs is not None and len(hs) > 0 for hs in hdrs_raw):
            headers = [
                [
                    (h["key"], bytes(h["value"]) if h["value"] is not None else None)
                    for h in hs
                ]
                if hs is not None and len(hs) > 0
                else None
                for hs in hdrs_raw
            ]
        batch_starts = np.arange(0, n_rec, n, dtype=np.int64)
        blobs = kr.encode_batches_v2_columnar(
            offs, ts_ms, keys, vals, headers, batch_starts,
            compression=compression,
        )
        counts = np.diff(np.concatenate((batch_starts, [n_rec])))
        return pd.DataFrame(
            {
                "partition": np.full(len(blobs), part, dtype=np.int64),
                "base_offset": offs[batch_starts],
                "record_count": counts,
                "batch": blobs,
            },
            columns=["partition", "base_offset", "record_count", "batch"],
        )

    return staged.groupBy("partition", "__grp").applyInPandas(
        kernel(op, kr), WIRE_BATCH_SCHEMA
    )


def decode_wire_batches(batches: DataFrame) -> DataFrame:
    """Decode RecordBatch v2 blobs back to log rows (CRC-verified).
    Map-only — each blob is self-contained."""
    mid_schema = (
        "key binary, value binary, "
        "headers array<struct<key:string,value:binary>>, "
        "__ts_ms long, partition int, offset long"
    )

    def op(batch_iter):
        import numpy as np
        import pandas as pd

        for pdf in batch_iter:
            # columnar decode of the whole chunk: one lane-parallel CRC
            # verify, varints decoded across all records at once, and the
            # pandas frame built from columns instead of per-record dicts
            blobs = [bytes(b) for b in pdf["batch"]]
            col = kr.decode_batches_v2_columnar(blobs)
            _empty: list = []
            yield pd.DataFrame(
                {
                    "key": col["keys"],
                    "value": col["values"],
                    "headers": [
                        [{"key": hk, "value": hv} for hk, hv in h] if h else _empty
                        for h in col["headers"]
                    ],
                    "__ts_ms": col["ts_ms"],
                    "partition": np.repeat(
                        pdf["partition"].to_numpy(dtype=np.int64),
                        col["record_counts"],
                    ),
                    "offset": col["offsets"],
                },
                columns=["key", "value", "headers", "__ts_ms", "partition", "offset"],
            )

    # millis -> TIMESTAMP converted JVM-side (timestamp_millis is an
    # instant, immune to the session timezone — a Python utcfromtimestamp
    # naive datetime would be re-interpreted session-locally on the way
    # back in); Kafka's NO_TIMESTAMP sentinel is EXACTLY -1 — any other
    # negative value is a legitimate pre-1970 instant the encoder wrote
    # faithfully and must round-trip, so the test is != -1, not >= 0.
    return (
        batches.mapInPandas(kernel(op, kr), mid_schema)
        .withColumn(
            "timestamp",
            F.timestamp_millis(F.when(F.col("__ts_ms") != -1, F.col("__ts_ms"))),
        )
        .select("key", "value", "headers", "timestamp", "partition", "offset")
    )


def transcode_batches(
    batches: DataFrame,
    compression: str | None | list[str | None] = None,
) -> DataFrame:
    """Broker-side compression transcode: re-encode every batch with the
    target codec, preserving offsets and producer identity (reference
    meters this as PRODUCE_MESSAGE_CONVERSIONS,
    AbstractEntryFormatter.java:238-281). Map-only.

    ``compression`` may be a LIST of targets: the hops then apply
    sequentially INSIDE one Arrow-batched kernel. A chain of separate
    transcode_batches calls pays a full Arrow serialize/deserialize of
    every batch blob per hop; the fused form crosses the Python boundary
    once, which is the difference between N and 1 scans of the wire table
    at 100 TB."""
    hops = compression if isinstance(compression, (list, tuple)) else [compression]

    def op(batch_iter):
        import pandas as pd

        for pdf in batch_iter:
            out = pdf.copy()
            # whole-chunk hops: each hop's CRC verify + re-CRC run as one
            # lane-parallel crc32c_many over every batch in the Arrow
            # chunk (kafka_records.transcode_many) — CRC was 92% of the
            # per-batch transcode profile
            blobs = [bytes(b) for b in pdf["batch"]]
            for target in hops:
                blobs = kr.transcode_many(blobs, target)
            out["batch"] = blobs
            yield out

    return batches.mapInPandas(kernel(op, kr), WIRE_BATCH_SCHEMA)


def ingest_message_sets(message_sets: DataFrame) -> DataFrame:
    """Legacy v0/v1 MessageSet INGEST: read pre-0.11 message-set blobs
    into typed log rows — the read side the reference performs via
    passthrough + conversion accounting (AbstractEntryFormatter.java:
    248-281), i.e. the up-conversion a replay of a pre-0.11 dump hits.
    The inverse of down_convert_batches (roundtrip pinned by test).

    Input: (partition int, message_set binary) rows (extra columns
    ignored); output matches decode_wire_batches' typed schema. v0
    messages carry no timestamp → NULL; v1's NO_TIMESTAMP sentinel (-1)
    also decodes to NULL, any other value converts JVM-side as an instant
    (same timezone discipline as decode_wire_batches). Headers don't
    exist before v2 → empty array. Per-message CRC32 is verified in the
    kernel. Map-only — each blob is self-contained, no shuffle."""
    mid_schema = (
        "key binary, value binary, "
        "headers array<struct<key:string,value:binary>>, "
        "__ts_ms long, partition int, offset long"
    )

    def op(batch_iter):
        import numpy as np
        import pandas as pd

        cols = ["key", "value", "headers", "__ts_ms", "partition", "offset"]
        for pdf in batch_iter:
            # whole-chunk columnar decode (decode_message_sets_v01_many)
            # + a dict-of-columns DataFrame: the per-record dict rows the
            # old shape built (then pd.DataFrame(rows) re-inferred) were
            # most of this kernel's CPU (guide §4.2)
            offs, ts, keys, values, cnts = kr.decode_message_sets_v01_many(
                [bytes(b) for b in pdf["message_set"]]
            )
            parts = np.repeat(
                pdf["partition"].to_numpy(dtype=np.int64),
                np.asarray(cnts, dtype=np.int64),
            )
            yield pd.DataFrame(
                {
                    "key": keys,
                    "value": values,
                    "headers": [[]] * len(offs),
                    "__ts_ms": ts,
                    "partition": parts,
                    "offset": offs,
                },
                columns=cols,
            )

    return (
        message_sets.mapInPandas(kernel(op, kr), mid_schema)
        .withColumn(
            "timestamp",
            F.timestamp_millis(F.when(F.col("__ts_ms") != -1, F.col("__ts_ms"))),
        )
        .select("key", "value", "headers", "timestamp", "partition", "offset")
    )


def down_convert_batches(
    batches: DataFrame, to_magic: int = 1, compression: str | None = None
) -> DataFrame:
    """Magic down-conversion for legacy consumers: each v2 batch becomes a
    v0/v1 message-set blob (headers dropped, per-message CRC32) — the
    conversion the reference meters as CONSUME_MESSAGE_CONVERSIONS
    (AbstractEntryFormatter.java:238-281). ``compression`` emits the
    legacy wrapper-message form (gzip/snappy/lz4 — what pre-0.11
    producers with compression wrote; relative inner offsets in v1; lz4
    uses the KAFKA-3160 legacy framing, broken HC for magic v0).
    Map-only."""
    def op(batch_iter):
        import pandas as pd

        for pdf in batch_iter:
            out = pdf[["partition", "base_offset", "record_count"]].copy()
            # batch the source-CRC verify across the chunk (one
            # lane-parallel crc32c_many pass), then the whole chunk
            # converts through ONE vectorized decode + v01 encode
            # (down_convert_many — guide §4.2) instead of a per-batch
            # scalar walk
            blobs = [bytes(b) for b in pdf["batch"]]
            kr.verify_batches_v2_crc(blobs)
            out["message_set"] = kr.down_convert_many(
                blobs, to_magic, compression=compression, verify_crc=False
            )
            yield out

    return batches.mapInPandas(
        kernel(op, kr),
        "partition int, base_offset long, record_count int, message_set binary",
    )
