"""Kafka wire-format operators: log rows ↔ RecordBatch v2 bytes.

The reference's data plane is exactly this layer — Kafka batches encoded
into / decoded out of storage entries, plus magic down-conversion for old
consumers (utils/ByteBufUtils.java:172-278, format/KafkaV1EntryFormatter
.java:40-64, format/AbstractEntryFormatter.java:238-281). Here the byte
codec is functions/kafka_records.py (pure Python, public protocol spec)
and the operators are Arrow-batched:

- encode: applyInArrow grouped by (partition, bucket of 16 batches) —
  each partition's records are offset-sorted and chunked into batches of
  ``max_records_per_batch``, mirroring how a producer's batches land on a
  partition leader. Two exchanges: the row_number window's on
  ``partition`` and an explicit one on (partition, bucket), so encode
  tasks scale with the data, not the number of log partitions. The
  kernel hands the group's ``pyarrow.Table`` columns to the codec, which
  joins each record's bytes from the key, value and header buffers.
- decode, transcode, down-convert and legacy ingest: mapInArrow — batches
  are self-contained blobs, so these are embarrassingly parallel, no
  shuffle; CRC32C is verified per batch. Each kernel reads the Arrow
  batch's blob column and yields a ``pyarrow.RecordBatch`` at the
  declared types. The decoders build the key, value and headers columns
  as Arrow arrays gathered straight from the decompressed records
  buffer, which the kernels pass through: the decode side creates no
  Python object per record or header.

No kernel here builds a pandas frame: PySpark's pandas converter, whose
pass over the ``headers`` array<struct> column alone cost more than the
decode it carried, and a per-record Python walk over the headers on
either side, both cost more than the codec work they fed.

Kafka timestamps are MILLISECONDS on the wire, so a roundtrip truncates
sub-ms precision — that is wire semantics, not a codec defect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

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

# what down_convert_batches returns
_MESSAGE_SET_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.IntegerType()),
        T.StructField("base_offset", T.LongType()),
        T.StructField("record_count", T.IntegerType()),
        T.StructField("message_set", T.BinaryType()),
    ]
)

# what the decode kernels return: log rows with the timestamp still epoch
# millis, converted JVM-side by _with_timestamp
_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField(
            "headers",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("key", T.StringType()),
                        T.StructField("value", T.BinaryType()),
                    ]
                )
            ),
        ),
        T.StructField("__ts_ms", T.LongType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
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
    and the applyInArrow kernel then runs per (partition,
    bucket-of-16-batches) group, behind its own exchange on that pair —
    so encode parallelism scales with the DATA, not the number of log
    partitions (a per-partition kernel would serialize a hot partition's
    whole byte-assembly into one task: a 2-partition topic would use 2 of
    32 cores, even where grouping by partition alone measures faster on a
    log with more partitions than cores), while each kernel call still
    amortizes the Python/Arrow invocation over 16 batches (one group per
    batch measured slower than the per-partition kernel — per-group
    overhead dominates). The batch boundaries produced are identical in
    all three shapes. The kernel passes the group's Arrow columns
    straight to ``kafka_records.encode_batches_v2_columnar``: no pandas
    frame and no Python object per record."""
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
        # epoch millis computed JVM-side: unix_millis is an instant
        # regardless of the session timezone (a Python-side conversion of
        # the timestamp column would encode SESSION-LOCAL wall-clock
        # millis into the wire bytes). NULL maps to Kafka's NO_TIMESTAMP
        # (-1) in the kernel.
        "__ts_ms",
        F.unix_millis("timestamp"),
    )
    schema = to_arrow_schema(WIRE_BATCH_SCHEMA)

    def op(table):
        import numpy as np
        import pyarrow as pa

        table = table.sort_by("offset")
        offsets = table.column("offset").to_numpy()
        batch_starts = np.arange(0, table.num_rows, n, dtype=np.int64)
        blobs = kr.encode_batches_v2_columnar(
            offsets, table.column("__ts_ms").fill_null(-1).to_numpy(),
            table.column("key"), table.column("value"), table.column("headers"),
            batch_starts, compression=compression,
        )
        return pa.Table.from_arrays(
            [
                table.column("partition").take(batch_starts).cast(pa.int32()),
                pa.array(offsets[batch_starts], pa.int64()),
                pa.array(np.diff(batch_starts, append=table.num_rows), pa.int32()),
                pa.array(blobs, pa.binary()),
            ],
            schema=schema,
        )

    return staged.groupBy("partition", "__grp").applyInArrow(
        kernel(op, kr), WIRE_BATCH_SCHEMA
    )


def _log_row_kernel(column: str, decode):
    """mapInArrow kernel: log rows (``_DECODED_SCHEMA``) of every blob in
    ``column``. ``decode(blobs)`` returns (offsets, ts_ms, keys, values,
    headers, records per blob): int64 numpy or Arrow offsets and
    timestamps, ``pa.binary()`` keys and values and a
    ``list<struct<key, value>>`` headers array (``None``: no row has a
    header), all passed through; each row takes its blob's
    ``partition``."""
    schema = to_arrow_schema(_DECODED_SCHEMA)

    def op(batches):
        import numpy as np
        import pyarrow as pa

        hdr_type = schema.field("headers").type
        for rb in batches:
            offsets, ts_ms, keys, values, headers, counts = decode(
                rb.column(column).to_pylist()
            )
            if headers is None:
                entries = pa.array([], hdr_type.value_type)
                list_offsets = np.zeros(len(offsets) + 1, np.int32)
            else:  # same layout, relabelled to the schema's list field name
                entries, list_offsets = headers.values, headers.offsets
            blob_of_row = np.repeat(np.arange(rb.num_rows), counts)
            yield pa.RecordBatch.from_arrays(
                [
                    keys,
                    values,
                    pa.ListArray.from_arrays(list_offsets, entries, type=hdr_type),
                    pa.array(ts_ms, pa.int64()),
                    rb.column("partition").take(blob_of_row).cast(pa.int32()),
                    pa.array(offsets, pa.int64()),
                ],
                schema=schema,
            )

    return op


def _with_timestamp(decoded: DataFrame) -> DataFrame:
    """The log columns of a ``_DECODED_SCHEMA`` frame.

    millis -> TIMESTAMP converted JVM-side (timestamp_millis is an
    instant, immune to the session timezone — a Python utcfromtimestamp
    naive datetime would be re-interpreted session-locally on the way
    back in); Kafka's NO_TIMESTAMP sentinel is EXACTLY -1 — any other
    negative value is a legitimate pre-1970 instant the encoder wrote
    faithfully and must round-trip, so the test is != -1, not >= 0."""
    return decoded.withColumn(
        "timestamp",
        F.timestamp_millis(F.when(F.col("__ts_ms") != -1, F.col("__ts_ms"))),
    ).select("key", "value", "headers", "timestamp", "partition", "offset")


def _blob_kernel(convert, schema: T.StructType):
    """mapInArrow kernel: each row's ``batch`` blob replaced by
    ``convert(blobs)`` as ``schema``'s last column; partition,
    base_offset and record_count pass through."""
    arrow_schema = to_arrow_schema(schema)
    kept = list(arrow_schema)[:3]

    def op(batches):
        import pyarrow as pa

        for rb in batches:
            out = convert(rb.column("batch").to_pylist())
            yield pa.RecordBatch.from_arrays(
                [rb.column(f.name).cast(f.type) for f in kept]
                + [pa.array(out, pa.binary())],
                schema=arrow_schema,
            )

    return op


def decode_wire_batches(batches: DataFrame) -> DataFrame:
    """Decode RecordBatch v2 blobs back to log rows (CRC-verified).
    Map-only — each blob is self-contained."""

    def decode(blobs):
        # columnar decode of the whole chunk: one lane-parallel CRC
        # verify, every field decoded across all records at once into
        # Arrow arrays
        col = kr.decode_batches_v2_columnar(blobs)
        return (
            col["offsets"], col["ts_ms"], col["keys"], col["values"],
            col["headers"], col["record_counts"],
        )

    return _with_timestamp(
        batches.mapInArrow(kernel(_log_row_kernel("batch", decode), kr), _DECODED_SCHEMA)
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

    def convert(blobs):
        # whole-chunk hops: each hop's CRC verify + re-CRC run as one
        # lane-parallel crc32c_many over every batch in the Arrow
        # chunk (kafka_records.transcode_many) — CRC was 92% of the
        # per-batch transcode profile
        for target in hops:
            blobs = kr.transcode_many(blobs, target)
        return blobs

    return batches.mapInArrow(
        kernel(_blob_kernel(convert, WIRE_BATCH_SCHEMA), kr), WIRE_BATCH_SCHEMA
    )


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

    def decode(blobs):
        # whole-chunk columnar decode (decode_message_sets_v01_many)
        offsets, ts_ms, keys, values, counts = kr.decode_message_sets_v01_many(blobs)
        return offsets, ts_ms, keys, values, None, counts

    return _with_timestamp(
        message_sets.mapInArrow(
            kernel(_log_row_kernel("message_set", decode), kr), _DECODED_SCHEMA
        )
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

    def convert(blobs):
        # batch the source-CRC verify across the chunk (one lane-parallel
        # crc32c_many pass), then the whole chunk converts through ONE
        # vectorized decode + v01 encode (down_convert_many)
        kr.verify_batches_v2_crc(blobs)
        return kr.down_convert_many(
            blobs, to_magic, compression=compression, verify_crc=False
        )

    return batches.mapInArrow(
        kernel(_blob_kernel(convert, _MESSAGE_SET_SCHEMA), kr), _MESSAGE_SET_SCHEMA
    )
