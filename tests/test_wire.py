"""Kafka wire-format codec + operators: spec-pinned bytes, CRC verify,
roundtrip through Spark, magic down-conversion."""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import functions as F

from starlight_for_kafka_spark.functions import kafka_records as kr
from starlight_for_kafka_spark.sources import wire


def test_crc32c_check_value():
    # canonical CRC32C test vector
    assert kr.crc32c(b"123456789") == 0xE3069283


def test_crc32c_many_matches_the_bytewise_recurrence():
    """crc32c_many runs 512-byte numpy lanes once its blobs total 16 KiB
    and a plain per-byte loop below that; both must equal the CRC32C bit
    recurrence for ragged lengths around the lane size, on either side of
    the 16 KiB switch, and for a payload that spans many lanes."""
    import random

    def reference(data: bytes) -> int:
        crc = 0xFFFFFFFF
        for b in data:
            crc ^= b
            for _ in range(8):
                crc = (crc >> 1) ^ (0x82F63B78 if crc & 1 else 0)
        return crc ^ 0xFFFFFFFF

    rng = random.Random(7)
    ragged = [rng.randbytes(n) for n in (0, 1, 511, 512, 513, 1000, 4096)]
    under = ragged + [rng.randbytes((1 << 14) - 1 - sum(map(len, ragged)))]
    over = under + [rng.randbytes(1)]
    big = [rng.randbytes(70 * 1024 + 3)]
    assert sum(map(len, under)) == (1 << 14) - 1
    want = {b: reference(b) for b in over + big}
    for blobs in (ragged, under, over, big, ragged + big):
        assert kr.crc32c_many(blobs) == [want[b] for b in blobs]
    for b in over + big:
        assert kr.crc32c(b) == want[b]


def test_batch_v2_layout_fields():
    b = kr.encode_batch_v2(
        5, [{"offset": 5, "timestamp_ms": 1000, "key": b"k", "value": b"v", "headers": []}],
        producer_id=9, producer_epoch=2, base_sequence=3,
    )
    assert struct.unpack_from(">q", b, 0)[0] == 5          # baseOffset
    assert struct.unpack_from(">b", b, 16)[0] == 2         # magic
    assert struct.unpack_from(">i", b, 8)[0] == len(b) - 12  # batchLength
    d = kr.decode_batch_v2(b)
    assert (d["producer_id"], d["producer_epoch"], d["base_sequence"]) == (9, 2, 3)


def test_crc_corruption_detected():
    import pytest

    b = bytearray(kr.encode_batch_v2(
        0, [{"offset": 0, "timestamp_ms": 1, "key": None, "value": b"x", "headers": []}]))
    b[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        kr.decode_batch_v2(bytes(b))


def test_down_convert_drops_headers_keeps_payload():
    b = kr.encode_batch_v2(7, [
        {"offset": 7, "timestamp_ms": 123, "key": b"k", "value": b"v",
         "headers": [("h", b"x")]},
        {"offset": 8, "timestamp_ms": 124, "key": None, "value": None, "headers": []},
    ])
    v1 = kr.decode_message_set_v01(kr.down_convert(b, 1))
    assert [(m["offset"], m["key"], m["value"], m["timestamp_ms"]) for m in v1] == [
        (7, b"k", b"v", 123), (8, None, None, 124)]
    v0 = kr.decode_message_set_v01(kr.down_convert(b, 0))
    assert all(m["timestamp_ms"] is None for m in v0)


def test_wire_roundtrip_through_spark(spark, log):
    batches = wire.encode_wire_batches(log.df, max_records_per_batch=16)
    meta = batches.select("partition", "base_offset", "record_count").collect()
    # batches chunk each partition's offset sequence from its base
    by_part = {}
    for r in sorted(meta, key=lambda r: (r.partition, r.base_offset)):
        by_part.setdefault(r.partition, []).append((r.base_offset, r.record_count))
    for p, chunks in by_part.items():
        expect_base = 0
        for base, count in chunks:
            assert base == expect_base
            expect_base += count

    decoded = wire.decode_wire_batches(batches)
    a = log.df.select(
        "partition", "offset", F.col("key").cast("string").alias("k"),
        F.octet_length("value").alias("vl"), F.unix_millis("timestamp").alias("ts"),
    )
    b = decoded.select(
        "partition", "offset", F.col("key").cast("string").alias("k"),
        F.octet_length("value").alias("vl"), F.unix_millis("timestamp").alias("ts"),
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_down_convert_batches_operator(spark, log):
    batches = wire.encode_wire_batches(log.df.filter("partition = 0"),
                                       max_records_per_batch=32)
    legacy = wire.down_convert_batches(batches, to_magic=1)
    row = legacy.first()
    msgs = kr.decode_message_set_v01(bytes(row.message_set))
    assert len(msgs) == row.record_count
    assert msgs[0]["offset"] == row.base_offset


def test_gzip_batch_roundtrip_and_transcode():
    recs = [{"offset": 10 + i, "timestamp_ms": 1000 + i,
             "key": b"k%d" % i, "value": b"payload-" * 20 + bytes([i]),
             "headers": [("h", b"x")]} for i in range(8)]
    plain = kr.encode_batch_v2(10, recs)
    gz = kr.encode_batch_v2(10, recs, compression="gzip")
    assert len(gz) < len(plain)                    # it actually compressed
    d = kr.decode_batch_v2(gz)
    assert d["attributes"] & 0x07 == kr.COMPRESSION_GZIP
    assert d["records"] == recs                    # lossless through gzip
    # transcode gzip -> none preserves bytes-level equality with plain
    assert kr.transcode(gz, compression=None) == plain
    # and none -> gzip -> none is stable
    assert kr.transcode(kr.transcode(plain, "gzip"), None) == plain


def _codec_recs():
    return [{"offset": 10 + i, "timestamp_ms": 1000 + i,
             "key": b"k%d" % i, "value": b"payload-" * 20 + bytes([i]),
             "headers": [("h", b"x")]} for i in range(8)]


def test_snappy_lz4_zstd_roundtrip_and_codec_bits():
    """Full Kafka codec set (KopLogValidator.java:495-520): each codec
    roundtrips losslessly, sets its protocol codec bits, and transcodes
    byte-identically back to the clear encoding."""
    recs = _codec_recs()
    plain = kr.encode_batch_v2(10, recs)
    for name, bits in [("snappy", 2), ("lz4", 3), ("zstd", 4)]:
        comp = kr.encode_batch_v2(10, recs, compression=name)
        assert len(comp) < len(plain), name          # it actually compressed
        d = kr.decode_batch_v2(comp)
        assert d["attributes"] & 0x07 == bits, name
        assert d["records"] == recs, name            # lossless
        assert kr.transcode(comp, compression=None) == plain, name


def test_codec_framing_magics_spec_pinned():
    """The compressed records section must carry each codec's on-wire
    framing: snappy-java stream magic, LZ4 frame magic, zstd frame magic —
    so real Kafka clients could decode these batches."""
    recs = _codec_recs()
    def records_section(b):
        return b[61:]                                # after the 61-byte v2 header
    assert records_section(kr.encode_batch_v2(10, recs, compression="snappy"))[
        :8] == b"\x82SNAPPY\x00"
    assert records_section(kr.encode_batch_v2(10, recs, compression="lz4"))[
        :4] == bytes.fromhex("04224d18")             # LZ4 frame magic (LE)
    assert records_section(kr.encode_batch_v2(10, recs, compression="zstd"))[
        :4] == bytes.fromhex("28b52ffd")             # zstd frame magic (LE)
    assert records_section(kr.encode_batch_v2(10, recs, compression="gzip"))[
        :2] == b"\x1f\x8b"                           # gzip magic


def test_snappy_multi_chunk_roundtrip():
    """Records sections beyond the 32 KiB snappy-java block size span
    multiple framed chunks and still roundtrip losslessly."""
    recs = [{"offset": i, "timestamp_ms": i,
             "key": None, "value": bytes([i & 0xFF]) * 2000, "headers": []}
            for i in range(64)]                      # ~128 KiB of records
    comp = kr.encode_batch_v2(0, recs, compression="snappy")
    assert kr.decode_batch_v2(comp)["records"] == recs


def test_snappy_raw_block_accepted_on_decode():
    """Kafka's decompressor accepts bare raw-snappy blocks (no java
    framing); so do we."""
    import pyarrow as pa
    import struct as _s

    recs = _codec_recs()
    framed = bytearray(kr.encode_batch_v2(10, recs))
    # rebuild the covered section with a raw snappy records blob
    covered = bytearray(framed[21:])
    raw = pa.Codec("snappy").compress(bytes(covered[40:]), asbytes=True)
    covered[1] = (covered[1] & ~0x07) | kr.COMPRESSION_SNAPPY
    covered = covered[:40] + bytearray(raw)
    batch_length = 4 + 1 + 4 + len(covered)
    out = bytearray(framed[:8])
    out += _s.pack(">i", batch_length)
    out += framed[12:16]                             # leader epoch
    out += framed[16:17]                             # magic
    out += _s.pack(">I", kr.crc32c(bytes(covered)))
    out += covered
    assert kr.decode_batch_v2(bytes(out))["records"] == recs


def test_unknown_codec_raises_clearly():
    import pytest

    recs = [{"offset": 0, "timestamp_ms": 1, "key": None, "value": b"v", "headers": []}]
    with pytest.raises(ValueError, match="brotli"):
        kr.encode_batch_v2(0, recs, compression="brotli")
    # a batch claiming a reserved codec id must fail loudly, not garble
    b = bytearray(kr.encode_batch_v2(0, recs))
    import struct as _s
    covered = bytearray(b[21:])
    covered[1] = (covered[1] & ~0x07) | 5            # reserved codec id
    crc = kr.crc32c(bytes(covered))
    b[17:21] = _s.pack(">I", crc)
    b[21:] = covered
    with pytest.raises(ValueError, match="codec id 5"):
        kr.decode_batch_v2(bytes(b))


def test_down_convert_from_gzip_batch():
    recs = [{"offset": 3, "timestamp_ms": 77, "key": b"k", "value": b"v", "headers": []}]
    gz = kr.encode_batch_v2(3, recs, compression="gzip")
    msgs = kr.decode_message_set_v01(kr.down_convert(gz, 1))
    assert msgs[0] == {"offset": 3, "timestamp_ms": 77, "key": b"k", "value": b"v"}


def test_transcode_batches_operator_roundtrip(spark, log):
    gz = wire.encode_wire_batches(log.df.filter("partition = 1"),
                                  max_records_per_batch=32, compression="gzip")
    plain = wire.transcode_batches(gz, compression=None)
    a = wire.decode_wire_batches(gz).select("partition", "offset", "value")
    b = wire.decode_wire_batches(plain).select("partition", "offset", "value")
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))


def test_transcode_header_patch_is_byte_identical_to_reencode():
    """The header-patching transcode must produce byte-for-byte the same
    batch as a full decode-to-dicts/re-encode — same attributes, CRC,
    record bytes — and reject a corrupted source CRC."""
    import pytest

    from starlight_for_kafka_spark.functions import kafka_records as kr

    recs = [
        dict(offset=i, timestamp_ms=1_700_000_000_000 + i, key=b"k%d" % i,
             value=b"v" * 50, headers=[("h", b"x")])
        for i in range(20)
    ]
    b = kr.encode_batch_v2(7, recs, producer_id=3, producer_epoch=1,
                           base_sequence=2, compression="snappy")
    for target in ["lz4", "zstd", "gzip", None]:
        d = kr.decode_batch_v2(b)
        ref = kr.encode_batch_v2(
            d["base_offset"], d["records"], producer_id=d["producer_id"],
            producer_epoch=d["producer_epoch"], base_sequence=d["base_sequence"],
            compression=target,
        )
        assert kr.transcode(b, target) == ref
    corrupted = b[:30] + bytes([b[30] ^ 0xFF]) + b[31:]
    with pytest.raises(ValueError):
        kr.transcode(corrupted, "gzip")


def test_wire_timestamps_are_instants_not_session_local(spark, log):
    """The encoded bytes must carry true epoch millis regardless of the
    session timezone, and NULL timestamps must ride as Kafka's -1
    sentinel and decode back to NULL."""
    import datetime

    from pyspark.sql import functions as F

    from starlight_for_kafka_spark.functions import kafka_records as kr
    from starlight_for_kafka_spark.sources import wire

    rows = spark.createDataFrame(
        [
            (b"k1", b"v1", [], datetime.datetime(2024, 1, 1, 12, 0, 0), 0, 0),
            (b"k2", b"v2", [], None, 0, 1),
        ],
        "key binary, value binary, headers array<struct<key:string,value:binary>>, "
        "timestamp timestamp, partition int, offset long",
    )
    true_ms = rows.select(F.unix_millis("timestamp")).first()[0]
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        blob = wire.encode_wire_batches(rows, max_records_per_batch=10).first()["batch"]
        decoded_raw = kr.decode_batch_v2(bytes(blob))["records"]
        # the BYTES carry the instant, not New-York wall-clock millis
        assert decoded_raw[0]["timestamp_ms"] == true_ms
        assert decoded_raw[1]["timestamp_ms"] == -1
        back = wire.decode_wire_batches(
            wire.encode_wire_batches(rows, max_records_per_batch=10)
        )
        got = {r.offset: r.timestamp for r in back.collect()}
        assert got[1] is None
        assert back.filter(F.unix_millis("timestamp") == true_ms).count() == 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_pre_1970_timestamp_roundtrips(spark):
    """Kafka's NO_TIMESTAMP sentinel is exactly -1; any other negative
    millis value is a legitimate pre-1970 instant and must round-trip
    (only NULL maps to the sentinel)."""
    import datetime

    rows = [
        ("k0", b"v", datetime.datetime(1969, 12, 31, 23, 59, 59), 0, 0),
        ("k1", b"v", None, 0, 1),  # NULL -> wire -1 -> NULL
        ("k2", b"v", datetime.datetime(1955, 6, 1), 0, 2),
    ]
    df = spark.createDataFrame(
        [(k, bytearray(v), ts, p, o) for k, v, ts, p, o in rows],
        "key string, value binary, timestamp timestamp, partition int, offset long",
    ).withColumn("key", F.col("key").cast("binary")).withColumn(
        "headers",
        F.lit(None).cast("array<struct<key:string,value:binary>>"),
    )
    decoded = wire.decode_wire_batches(wire.encode_wire_batches(df))
    got = {
        r.offset: r.ts for r in decoded.select(
            "offset", F.unix_millis("timestamp").alias("ts")
        ).collect()
    }
    assert got[0] == -1000
    assert got[1] is None
    assert got[2] < -400_000_000_000  # 1955 stays 1955, not NULL


def test_legacy_ingest_roundtrips_down_conversion(spark, log):
    """down_convert (v2 -> v0/v1 message set) then ingest_message_sets must
    reproduce the typed rows: v1 keeps ms timestamps, v0 has none; headers
    are gone in both (pre-v2 has no header slot)."""
    batches = wire.encode_wire_batches(log.df, max_records_per_batch=32)
    src = log.df.select(
        "partition", "offset", F.col("key").cast("string").alias("k"),
        F.octet_length("value").alias("vl"),
        F.unix_millis("timestamp").alias("ts"),
    ).collect()

    for magic, keep_ts in ((1, True), (0, False)):
        typed = wire.ingest_message_sets(
            wire.down_convert_batches(batches, to_magic=magic)
        )
        got = typed.select(
            "partition", "offset", F.col("key").cast("string").alias("k"),
            F.octet_length("value").alias("vl"),
            F.unix_millis("timestamp").alias("ts"),
        ).collect()
        a = sorted((r.partition, r.offset, r.k, r.vl, r.ts if keep_ts else None)
                   for r in src)
        b = sorted(map(tuple, got))
        assert a == b, f"magic={magic}"
        assert typed.filter(F.size("headers") != 0).count() == 0


def test_legacy_ingest_rejects_corrupt_crc(spark):
    """A flipped payload byte must fail the per-message CRC32 check."""
    import pytest as _pytest

    from starlight_for_kafka_spark.functions import kafka_records as kr

    ms = kr.down_convert(
        kr.encode_batch_v2(0, [{"offset": 0, "timestamp_ms": 5,
                                "key": b"k", "value": b"hello", "headers": None}]),
        to_magic=1,
    )
    corrupt = ms[:-1] + bytes([ms[-1] ^ 0xFF])
    df = spark.createDataFrame(
        [(0, bytearray(corrupt))], "partition int, message_set binary"
    )
    with _pytest.raises(Exception, match="CRC32"):
        wire.ingest_message_sets(df).collect()


def test_legacy_compressed_wrapper_roundtrip_and_offsets():
    """Compressed legacy sets (how every pre-0.11 producer with
    compression wrote): one wrapper message, codec bits in attributes,
    v1 inner offsets RELATIVE with the wrapper holding the last absolute
    offset, v0 inner offsets absolute. Decode must equal the plain set."""
    from starlight_for_kafka_spark.functions import kafka_records as kr

    recs = [
        {"offset": 100 + i, "timestamp_ms": 5000 + i,
         "key": f"k{i}".encode(), "value": f"v{i}".encode() * 3,
         "headers": []}
        for i in range(7)
    ]
    b = kr.encode_batch_v2(100, recs)
    for magic in (0, 1):
        plain = kr.decode_message_set_v01(kr.down_convert(b, to_magic=magic))
        for codec in ("gzip", "snappy", "lz4"):
            ms = kr.down_convert(b, to_magic=magic, compression=codec)
            got = kr.decode_message_set_v01(ms)
            assert got == plain, (magic, codec)
            assert [g["offset"] for g in got] == list(range(100, 107))
        # wrapper layout pinned: v1 wrapper offset = LAST absolute offset
        ms = kr.down_convert(b, to_magic=magic, compression="gzip")
        import struct
        assert struct.unpack_from(">q", ms, 0)[0] == 106
        attrs = ms[12 + 5]
        assert attrs & 0x07 == kr.COMPRESSION_GZIP


def test_legacy_log_append_time_wrapper_stamps_inner():
    """A v1 wrapper flagged LOG_APPEND_TIME (attribute bit 3) stamps its
    own timestamp onto every inner message."""
    from starlight_for_kafka_spark.functions import kafka_records as kr

    inner = b"".join(
        kr._encode_message_v01(i, 5000 + i, b"k", b"v", 1) for i in range(3)
    )
    w = kr._encode_message_v01(
        42, 9999, None, kr._compress("gzip", inner), 1,
        attributes=kr.COMPRESSION_GZIP | 8,
    )
    got = kr.decode_message_set_v01(w)
    assert [g["offset"] for g in got] == [40, 41, 42]
    assert all(g["timestamp_ms"] == 9999 for g in got)


def test_kafka_lz4_legacy_frame_layout_and_checksums():
    """KAFKA-3160 framing pinned at the byte level: LZ4 Frame magic,
    FLG(version 1, block-independence)=0x60, BD(64 KiB)=0x40; the HC byte
    is xxh32>>8 of the DESCRIPTOR for magic v1 (spec) but of
    MAGIC+DESCRIPTOR for magic v0 (the broken legacy variant). Decode
    accepts both, rejects anything else."""
    import struct

    from starlight_for_kafka_spark.functions import kafka_records as kr

    payload = b"legacy lz4 wrapper " * 40
    good = kr.encode_kafka_lz4(payload, broken_hc=False)
    broken = kr.encode_kafka_lz4(payload, broken_hc=True)
    for f in (good, broken):
        assert f[:4] == b"\x04\x22\x4d\x18"
        assert f[4] == 0x60 and f[5] == 0x40
        assert f[-4:] == struct.pack("<I", 0)  # end mark
        assert kr.decode_kafka_lz4(f) == payload
    # the two variants differ ONLY in the HC byte
    assert good[6] != broken[6] and good[:6] == broken[:6] and good[7:] == broken[7:]
    assert good[6] == (kr._xxh32(good[4:6]) >> 8) & 0xFF
    assert broken[6] == (kr._xxh32(broken[:6]) >> 8) & 0xFF
    # any OTHER checksum value is rejected
    bad = bytearray(good)
    bad[6] ^= 0xFF
    if bad[6] == broken[6]:  # avoid colliding with the broken variant
        bad[6] ^= 0x01
    import pytest as _pytest
    with _pytest.raises(ValueError, match="checksum"):
        kr.decode_kafka_lz4(bytes(bad))
    # xxh32 against the public test vectors
    assert kr._xxh32(b"") == 0x02CC5D05
    assert kr._xxh32(b"a") == 0x550D7456
    assert kr._xxh32(b"abc") == 0x32D153FF


def test_kafka_lz4_frame_fuzz_roundtrip():
    """Deterministic fuzz over payload shapes (empty, tiny, incompressible
    random, highly-compressible, multi-block >64 KiB) x both checksum
    variants; the pure-Python block decoder must invert pyarrow's raw
    block compressor exactly."""
    import random

    from starlight_for_kafka_spark.functions import kafka_records as kr

    rng = random.Random(42)
    payloads = [
        b"",
        b"x",
        bytes(rng.getrandbits(8) for _ in range(1000)),     # incompressible
        b"ab" * 50_000,                                     # compressible
        bytes(rng.getrandbits(8) for _ in range(70_000)),   # multi-block raw
        (b"kafka " * 20_000),                               # multi-block comp
    ]
    for payload in payloads:
        for broken in (False, True):
            f = kr.encode_kafka_lz4(payload, broken_hc=broken)
            assert kr.decode_kafka_lz4(f) == payload, (len(payload), broken)


def test_legacy_lz4_wrapper_end_to_end_both_magics():
    """v0 (broken HC) and v1 (spec HC) lz4 wrapper messages decode through
    decode_message_set_v01 — the 0.9-era lz4 producer dump replay that
    was the one declared-loud rejection left on a supported path."""
    from starlight_for_kafka_spark.functions import kafka_records as kr

    recs = [
        {"offset": 40 + i, "timestamp_ms": 7000 + i,
         "key": b"k%d" % i, "value": b"payload-%d" % i * 10, "headers": []}
        for i in range(5)
    ]
    b = kr.encode_batch_v2(40, recs)
    for magic in (0, 1):
        plain = kr.decode_message_set_v01(kr.down_convert(b, to_magic=magic))
        ms = kr.down_convert(b, to_magic=magic, compression="lz4")
        # wrapper attributes carry the lz4 codec id
        assert ms[12 + 5] & 0x07 == kr.COMPRESSION_LZ4
        assert kr.decode_message_set_v01(ms) == plain


def test_legacy_compacted_wrapper_gapped_inner_offsets():
    """After log compaction a v1 compressed wrapper's inner RELATIVE
    offsets have gaps. Kafka (AbstractLegacyRecordBatch) derives the
    absolute base from the LAST inner relative — base = wrapper_offset -
    inner[-1].relative — so gapped sets land every record correctly; the
    naive ``wrapper - (n-1)`` places only the last record right."""
    from starlight_for_kafka_spark.functions import kafka_records as kr

    # relatives 0, 2, 5 (records at base+1, base+3..4 compacted away)
    inner = b"".join(
        kr._encode_message_v01(rel, 5000 + rel, b"k%d" % rel, b"v", 1)
        for rel in (0, 2, 5)
    )
    base = 200
    w = kr._encode_message_v01(
        base + 5, 0, None, kr._compress("gzip", inner), 1,
        attributes=kr.COMPRESSION_GZIP,
    )
    got = kr.decode_message_set_v01(w)
    assert [g["offset"] for g in got] == [base, base + 2, base + 5]
    assert [g["timestamp_ms"] for g in got] == [5000, 5002, 5005]


def test_legacy_ingest_reads_compressed_sets(spark, log):
    """ingest_message_sets over wrapper-compressed legacy blobs equals the
    plain path — the real-dump replay case."""
    batches = wire.encode_wire_batches(log.df, max_records_per_batch=40)
    plain = wire.ingest_message_sets(
        wire.down_convert_batches(batches, to_magic=1)
    )
    gz = wire.ingest_message_sets(
        wire.down_convert_batches(batches, to_magic=1, compression="gzip")
    )
    cols = ["partition", "offset", F.col("key").cast("string"),
            F.octet_length("value"), F.unix_millis("timestamp")]
    assert sorted(map(tuple, plain.select(*cols).collect())) == sorted(
        map(tuple, gz.select(*cols).collect())
    )


def test_kafka_lz4_block_rejects_match_offset_beyond_output():
    """A corrupt block whose match offset exceeds the bytes decoded so
    far must fail loudly — the sliced fast paths would otherwise clamp
    silently and emit wrong-length garbage into record parsing."""
    import struct

    import pytest

    from starlight_for_kafka_spark.functions.kafka_records import (
        _lz4_block_decompress,
    )

    bad = bytes([0x13]) + b"abc" + struct.pack("<H", 5) + bytes([0x00])
    with pytest.raises(ValueError, match="match offset beyond output"):
        _lz4_block_decompress(bad)


def test_kafka_lz4_block_rejects_truncated_input():
    """Corrupt blocks whose declared lengths run past the input must
    raise, not silently truncate: (a) a literal run longer than the
    remaining bytes, (b) a literal-length extension that never
    terminates, (c) a match offset cut off mid-read, (d) a match-length
    extension past the end — all on the same untrusted wire-decode path
    as the match-offset guards."""
    import struct

    import pytest

    from starlight_for_kafka_spark.functions.kafka_records import (
        _lz4_block_decompress,
    )

    # (a) token declares 10 literals, only 3 present
    with pytest.raises(ValueError, match="literal run past input"):
        _lz4_block_decompress(bytes([0xA0]) + b"abc")
    # (b) lit_len==15 extension runs off the end (every byte 255)
    with pytest.raises(ValueError, match="literal length runs past input"):
        _lz4_block_decompress(bytes([0xF0, 0xFF, 0xFF]))
    # (c) literals complete but the 2-byte match offset is truncated
    with pytest.raises(ValueError, match="truncated match offset"):
        _lz4_block_decompress(bytes([0x12]) + b"a" + b"\x01")
    # (d) match_len==15 extension runs off the end
    with pytest.raises(ValueError, match="match length runs past input"):
        _lz4_block_decompress(
            bytes([0x1F]) + b"a" + struct.pack("<H", 1) + bytes([0xFF])
        )


def test_columnar_codec_matches_scalar_paths():
    """The numpy-vectorized record codec is byte-identical to per-record
    encoding and value-identical to per-record decoding across the edge
    cases that exercise every branch: None/empty keys and values, headers
    (incl. None header values), multi-byte varints, negative-delta-free
    zigzag, every codec, and the >4-byte varint decode fallback."""
    import random

    import numpy as np

    from starlight_for_kafka_spark.functions import kafka_records as kr

    random.seed(42)

    def mkrec(i, base):
        key = (
            None
            if i % 7 == 0
            else bytes([random.getrandbits(8) for _ in range(random.choice([0, 3, 200]))])
        )
        val = (
            None
            if i % 11 == 3
            else bytes([random.getrandbits(8) for _ in range(random.choice([0, 96, 300]))])
        )
        hdrs = (
            [("h%d" % j, None if j % 2 else bytes([j]) * j) for j in range(i % 4)]
            if i % 13 == 5
            else None
        )
        return {
            "offset": base + i,
            "timestamp_ms": 1_700_000_000_000 + i * 997,
            "key": key,
            "value": val,
            "headers": hdrs,
        }

    def encode_columnar(chunks, **kw):
        """``chunks`` of (base_offset, records) through the columnar
        encoder, in the column layout ``encode_wire_batches`` hands it."""
        recs = [r for _, rs in chunks for r in rs]
        hdrs = [r["headers"] for r in recs]
        return kr.encode_batches_v2_columnar(
            [r["offset"] for r in recs],
            [r["timestamp_ms"] for r in recs],
            [r["key"] for r in recs],
            [r["value"] for r in recs],
            hdrs if any(hdrs) else None,
            np.cumsum([0] + [len(rs) for _, rs in chunks])[:-1],
            **kw,
        )

    chunks = []
    off = 10**12  # exercises multi-byte offset varints via base, deltas small
    for _ in range(8):
        n = random.randint(1, 40)
        chunks.append((off, [mkrec(i, off) for i in range(n)]))
        off += n
    for comp in [None, "gzip", "snappy", "lz4", "zstd"]:
        want = [
            kr.encode_batch_v2(
                b, r, producer_id=9, producer_epoch=2, base_sequence=4,
                compression=comp,
            )
            for b, r in chunks
        ]
        got = encode_columnar(
            chunks, compression=comp, producer_id=9, producer_epoch=2,
            base_sequence=4,
        )
        assert want == got, comp

    blobs = encode_columnar(chunks, compression="lz4")
    col = kr.decode_batches_v2_columnar(blobs)
    keys, values = col["keys"].to_pylist(), col["values"].to_pylist()
    headers = [[(h["key"], h["value"]) for h in hs]
               for hs in col["headers"].to_pylist()]
    ri = 0
    for bi, blob in enumerate(blobs):
        d = kr.decode_batch_v2(blob)
        assert col["record_counts"][bi] == len(d["records"])
        assert col["producer_ids"][bi] == d["producer_id"]
        for rec in d["records"]:
            assert col["offsets"][ri] == rec["offset"]
            assert col["ts_ms"][ri] == rec["timestamp_ms"]
            assert keys[ri] == rec["key"]
            assert values[ri] == rec["value"]
            assert headers[ri] == rec["headers"]
            ri += 1

    # >4-byte varint (2^40 ts delta) forces the width-10 decode fallback
    recs = [
        {"offset": 5, "timestamp_ms": 0, "key": b"a", "value": b"b", "headers": None},
        {"offset": 6, "timestamp_ms": 2**40, "key": None, "value": b"c" * 150,
         "headers": None},
    ]
    blob = encode_columnar([(5, recs)])
    assert blob[0] == kr.encode_batch_v2(5, recs)
    c = kr.decode_batches_v2_columnar(blob)
    keys, values = c["keys"].to_pylist(), c["values"].to_pylist()
    assert c["ts_ms"][1] == 2**40 and values[1] == b"c" * 150
    assert keys[1] is None and values[0] == b"b"



def test_down_convert_many_matches_scalar():
    """The columnar legacy down-convert is byte-identical to the
    per-batch scalar path across magic x codec, with gapped offsets
    (compaction), None/empty keys and values, and a single-record set —
    the hot-ingest kernel may never drift from the reference shape."""
    import random

    random.seed(113)

    def rand_records(n):
        keys = [
            None if random.random() < 0.15
            else bytes(random.getrandbits(8) for _ in range(random.randrange(0, 40)))
            for _ in range(n)
        ]
        values = [
            None if random.random() < 0.1
            else bytes(random.getrandbits(8) for _ in range(random.randrange(0, 200)))
            for _ in range(n)
        ]
        offs, o = [], random.randrange(0, 1000)
        for _ in range(n):
            offs.append(o)
            o += random.randrange(1, 4)  # gapped (post-compaction) offsets
        ts = [1700000000000 + random.randrange(0, 10_000) for _ in range(n)]
        return [
            {"offset": o, "timestamp_ms": t, "key": k, "value": v, "headers": []}
            for o, t, k, v in zip(offs, ts, keys, values)
        ]

    for trial in range(6):
        bufs = [
            kr.encode_batch_v2(recs[0]["offset"], recs)
            for recs in (rand_records(random.randrange(1, 40)) for _ in range(5))
        ]
        for magic in (0, 1):
            for codec in (None, "gzip", "snappy", "lz4"):
                want = [kr.down_convert(b, magic, compression=codec) for b in bufs]
                got = kr.down_convert_many(bufs, magic, compression=codec)
                assert got == want, (trial, magic, codec)


def test_decode_message_sets_v01_many_matches_scalar():
    """The columnar legacy decode is value-identical to the scalar
    per-set decoder over every magic x codec combination, including the
    LOG_APPEND_TIME wrapper (bit 3) that stamps the wrapper timestamp
    onto every inner record."""
    import random

    random.seed(211)
    recs = [
        {
            "offset": 3 * i + 1,
            "timestamp_ms": 1700000000000 + i,
            "key": None if i % 7 == 0 else f"k{i}".encode(),
            "value": None if i % 11 == 0 else bytes([i % 256]) * (i % 90),
            "headers": [],
        }
        for i in range(30)
    ]
    bufs = [kr.encode_batch_v2(1, recs), kr.encode_batch_v2(1, recs[:1])]
    sets = []
    for magic in (0, 1):
        for codec in (None, "gzip", "snappy", "lz4"):
            sets += [kr.down_convert(b, magic, compression=codec) for b in bufs]
    # LOG_APPEND_TIME wrapper (crafted; down_convert never sets bit 3)
    inner = bytearray()
    for i, r in enumerate(recs[:10]):
        inner += kr._encode_message_v01(
            i, r["timestamp_ms"], r["key"], r["value"], 1
        )
    w = kr._encode_message_v01(
        99, 1700000099999, None,
        kr.encode_kafka_lz4(bytes(inner), broken_hc=False), 1,
        attributes=kr._LEGACY_CODECS["lz4"] | 0x08,
    )
    sets.append(w)
    want = [kr.decode_message_set_v01(s) for s in sets]
    offs, ts, keys, values, cnts = kr.decode_message_sets_v01_many(sets)
    flat = [r for rows in want for r in rows]
    assert cnts == [len(rows) for rows in want]
    assert offs.tolist() == [r["offset"] for r in flat]
    assert ts.to_pylist() == [r["timestamp_ms"] for r in flat]
    assert keys.to_pylist() == [r["key"] for r in flat]
    assert values.to_pylist() == [r["value"] for r in flat]


def _legacy_message(offset: int, body: bytes) -> bytes:
    """A legacy message: offset, size, then a valid CRC32 over ``body``
    (magic onward), whatever lengths ``body`` declares."""
    msg = struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF) + body
    return struct.pack(">qi", offset, len(msg)) + msg


def test_legacy_decoders_bound_fields_and_message_sizes():
    """Both legacy decoders raise ValueError, naming the reason, when a
    timestamp, key or value ends past its message (CRC valid) or a
    message ends past its set; the good message before it changes
    nothing."""
    import pytest

    good = kr._encode_message_v01(0, 1700000000000, b"k", b"v", 1)
    ts = struct.pack(">q", 1700000000001)
    field_cases = {
        # the v1 message of 30 bytes whose key length is 1000
        "v1 key": b"\x01\x00" + ts + struct.pack(">i", 1000) + bytes(12),
        "v0 key": b"\x00\x00" + struct.pack(">i", 9) + b"abc" + struct.pack(">i", -1),
        "v1 value": b"\x01\x00" + ts + struct.pack(">ii", -1, 50) + b"abcd",
        "v0 value": b"\x00\x00" + struct.pack(">ii", 1, 5) + b"k" + b"ab",
        "v1 timestamp": b"\x01\x00" + ts + b"\x00\x00",
        "wrapper key": (
            b"\x01" + bytes([kr._LEGACY_CODECS["gzip"]]) + ts
            + struct.pack(">i", 400) + bytes(8)
        ),
        "wrapper value": (
            b"\x01" + bytes([kr._LEGACY_CODECS["gzip"]]) + ts
            + struct.pack(">ii", -1, 400) + bytes(8)
        ),
    }
    bad_sets = {
        name: good + _legacy_message(1, body) for name, body in field_cases.items()
    }
    longer = bytearray(good)
    longer[8:12] = struct.pack(">i", len(good) - 12 + 5)
    shorter = bytearray(good)
    shorter[8:12] = struct.pack(">i", -12)
    set_cases = {
        "size past the set": good + bytes(longer),
        "negative size": good + bytes(shorter),
        "size under the fixed fields": good + struct.pack(">qi", 1, 5) + bytes(5),
        "truncated header": good + good[:7],
    }
    for cases, reason in (
        (bad_sets, "field ends past its message"),
        (set_cases, "ends past its message set"),
    ):
        for name, buf in cases.items():
            with pytest.raises(ValueError, match=reason):
                kr.decode_message_set_v01(buf)
            with pytest.raises(ValueError, match=reason):
                kr.decode_message_sets_v01_many([good, buf])
    # the bounds admit a message whose value ends exactly at its size
    exact = good + _legacy_message(1, b"\x00\x00" + struct.pack(">ii", -1, 2) + b"ab")
    assert [r["value"] for r in kr.decode_message_set_v01(exact)] == [b"v", b"ab"]
    assert kr.decode_message_sets_v01_many([exact])[3].to_pylist() == [b"v", b"ab"]


def _restamp(blob, fix_length=True) -> bytes:
    """``blob`` with its CRC32C recomputed over the part its batchLength
    covers, after setting batchLength to the blob's size (unless
    ``fix_length`` is false)."""
    out = bytearray(blob)
    if fix_length:
        out[8:12] = struct.pack(">i", len(out) - 12)
    (batch_length,) = struct.unpack_from(">i", out, 8)
    out[17:21] = struct.pack(">I", kr.crc32c(bytes(out[21 : 12 + batch_length])))
    return bytes(out)


def _columnar_rows(col):
    """decode_batches_v2_columnar's columns as decode_batch_v2 records."""
    return [
        {"offset": o, "timestamp_ms": t, "key": k, "value": v,
         "headers": [(h["key"], h["value"]) for h in hs]}
        for o, t, k, v, hs in zip(
            col["offsets"].tolist(), col["ts_ms"].tolist(), col["keys"].to_pylist(),
            col["values"].to_pylist(), col["headers"].to_pylist(),
        )
    ]


def test_arrow_decoders_match_scalar_on_edges():
    """The Arrow-building decoders (decode_batches_v2_columnar,
    down_convert_many, decode_message_sets_v01_many) equal the scalar
    codec on every codec: a null key or value next to an empty one; 0, 1,
    2 and 3 headers mixed in one batch; a null header value and a
    non-ASCII header key; a zero-record batch; the empty input; the
    >4-byte varint fallback. An invalid UTF-8 header key raises
    ValueError in both v2 decoders."""
    import pytest

    recs = [
        {"offset": 7, "timestamp_ms": 1_700_000_000_000, "key": None, "value": b"",
         "headers": []},
        {"offset": 8, "timestamp_ms": 1_700_000_000_001, "key": b"", "value": None,
         "headers": [("ключ-é", None)]},
        {"offset": 9, "timestamp_ms": -1, "key": b"k", "value": b"v",
         "headers": [("a", b""), ("b", b"2")]},
        {"offset": 11, "timestamp_ms": 1_700_000_000_000 + 2**40, "key": None,
         "value": None, "headers": [("a", b"1"), ("", None), ("c", b"3" * 200)]},
        {"offset": 12, "timestamp_ms": 5, "key": b"x" * 300, "value": b"",
         "headers": []},
    ]
    empty = _restamp(kr._assemble_v2(
        50, 0, 0, struct.pack(">hiqqqhii", 0, -1, -1, -1, -1, -1, -1, 0)
    ))
    assert kr.decode_batch_v2(empty)["records"] == []
    for codec in _CODECS:
        bufs = [kr.encode_batch_v2(7, recs, compression=codec), empty,
                kr.encode_batch_v2(12, recs[4:], compression=codec)]
        col = kr.decode_batches_v2_columnar(bufs)
        assert _columnar_rows(col) == [
            r for b in bufs for r in kr.decode_batch_v2(b)["records"]
        ]
        assert col["record_counts"].tolist() == [5, 0, 1]
        bare = kr.decode_batches_v2_columnar(bufs, headers=False)
        assert bare["headers"] is None
        assert bare["keys"].equals(col["keys"]) and bare["values"].equals(col["values"])
        for magic in (0, 1):
            for legacy in (None, "gzip", "snappy", "lz4"):
                sets = kr.down_convert_many(bufs, magic, compression=legacy)
                assert sets == [kr.down_convert(b, magic, compression=legacy) for b in bufs]
                want = [kr.decode_message_set_v01(m) for m in sets]
                flat = [r for rows in want for r in rows]
                offs, ts, keys, values, counts = kr.decode_message_sets_v01_many(sets)
                assert counts == [len(rows) for rows in want]
                assert offs.tolist() == [r["offset"] for r in flat]
                assert ts.to_pylist() == [r["timestamp_ms"] for r in flat]
                assert keys.to_pylist() == [r["key"] for r in flat]
                assert values.to_pylist() == [r["value"] for r in flat]

    col = kr.decode_batches_v2_columnar([])
    assert _columnar_rows(col) == [] and col["record_counts"].tolist() == []
    assert kr.down_convert_many([]) == []
    offs, ts, keys, values, counts = kr.decode_message_sets_v01_many([])
    assert (offs.tolist(), ts.to_pylist(), keys.to_pylist(), values.to_pylist(),
            counts) == ([], [], [], [], [])

    # an invalid start byte and a UTF-16 surrogate: neither is UTF-8
    for bad in (b"\xff\xfe", b"\xed\xa0\x80"):
        mark = b"Z" * len(bad)
        blob = kr.encode_batch_v2(0, [{"offset": 0, "timestamp_ms": 0, "key": b"k",
                                       "value": b"v", "headers": [(mark.decode(), b"h")]}])
        assert blob[61:].count(mark) == 1
        blob = _restamp(blob[:61] + blob[61:].replace(mark, bad))
        with pytest.raises(ValueError):
            kr.decode_batch_v2(blob)
        with pytest.raises(ValueError, match="UTF-8"):
            kr.decode_batches_v2_columnar([blob])


def test_v2_decoders_agree_on_mutated_batches():
    """Seeded mutations of v2 batches of every codec, the CRC re-stamped
    after each so that it reaches the record parsers: a bit flip in the
    21 batch-header bytes, in the CRC-covered part, or in the
    uncompressed records section (then recompressed), and a truncation.
    For every input the scalar and the columnar decoder return equal
    rows or both raise ValueError (any other exception fails the
    test)."""
    import collections
    import random

    rng = random.Random(20261020)

    def blob_of(n):
        return bytearray(kr.encode_batch_v2(40, [
            {"offset": 40 + i,
             "timestamp_ms": 1_700_000_000_000 + rng.randrange(-9, 9000),
             "key": rng.choice([None, b"", rng.randbytes(rng.randrange(1, 12))]),
             "value": rng.choice([None, b"", rng.randbytes(rng.randrange(1, 150))]),
             "headers": [(rng.choice(["h", "é", "kk"]),
                          rng.choice([None, b"", rng.randbytes(rng.randrange(1, 9))]))
                         for _ in range(rng.randrange(4))]}
            for i in range(n)
        ], compression=codec))

    def outcome(decode):
        try:
            return decode()
        except ValueError:
            return ValueError

    seen = collections.Counter()
    for codec in _CODECS:
        for trial in range(600):
            blob = blob_of(rng.randrange(1, 8))
            kind = trial % 4
            if kind == 0:  # base offset, batchLength, leader epoch, magic, CRC
                blob[rng.randrange(21)] ^= 1 << rng.randrange(8)
            elif kind == 1:  # attributes .. records, as stored
                blob[rng.randrange(21, len(blob))] ^= 1 << rng.randrange(8)
            elif kind == 2:
                del blob[rng.randrange(61, len(blob)):]
            else:
                section = bytearray(kr._v2_records(blob, kr._v2_header(blob)))
                section[rng.randrange(len(section))] ^= 1 << rng.randrange(8)
                blob[61:] = section if codec is None else kr._compress(codec, bytes(section))
            blob = _restamp(blob, fix_length=kind != 0)
            scalar = outcome(lambda: kr.decode_batch_v2(blob)["records"])
            columnar = outcome(lambda: _columnar_rows(kr.decode_batches_v2_columnar([blob])))
            assert scalar == columnar, (codec, trial)
            seen[scalar is ValueError] += 1
    assert seen[True] > 600 and seen[False] > 600, seen


def _lz4_frame(blocks, flg=0x60, broken_hc=False, content=b""):
    """An LZ4 frame around ``blocks`` (compressed block payloads; a
    ``bytes`` wrapped in a 1-tuple is stored raw), honouring FLG's
    block-checksum (0x10), content-size (0x08) and content-checksum
    (0x04) bits; ``content`` is the decoded payload those describe."""
    descriptor = bytes([flg, 0x40])
    if flg & 0x08:
        descriptor += struct.pack("<Q", len(content))
    hc_input = kr._LZ4_FRAME_MAGIC + descriptor if broken_hc else descriptor
    out = bytearray(kr._LZ4_FRAME_MAGIC) + descriptor
    out.append((kr._xxh32(hc_input) >> 8) & 0xFF)
    for blk in blocks:
        raw = isinstance(blk, tuple)
        body = blk[0] if raw else blk
        out += struct.pack("<I", len(body) | (kr._LZ4_UNCOMPRESSED_BIT if raw else 0))
        out += body
        if flg & 0x10:
            out += struct.pack("<I", kr._xxh32(body))
    out += struct.pack("<I", 0)
    if flg & 0x04:
        out += struct.pack("<I", kr._xxh32(content))
    return bytes(out)


def _lz4_blocks(payload, size=65536):
    import pyarrow as pa

    codec = pa.Codec("lz4_raw")
    out = []
    for i in range(0, len(payload), size):
        chunk = payload[i : i + size]
        comp = codec.compress(chunk, asbytes=True)
        out.append((chunk,) if len(comp) >= len(chunk) else comp)
    return out


def test_lz4_frame_decode_matches_pure_python_blocks():
    """The C frame decoder inverts the raw block compressor exactly, like
    the pure-Python block decoder, AND a frame around each corrupt-block
    class raises the pure-Python decoder's guard message."""
    import random

    import pyarrow as pa
    import pytest

    rng = random.Random(42)
    for _ in range(30):
        raw = rng.randbytes(rng.randrange(0, 2000)) + bytes(
            [rng.randrange(0, 200)]
        ) * rng.randrange(0, 3000)
        comp = pa.Codec("lz4_raw").compress(raw, asbytes=True)
        assert kr._lz4_block_decompress(comp) == raw
        for broken in (False, True):
            assert kr.decode_kafka_lz4(_lz4_frame([comp], broken_hc=broken)) == raw
    cases = [
        (bytes([0x13]) + b"abc" + struct.pack("<H", 5) + bytes([0x00]),
         "match offset beyond output"),
        (bytes([0xA0]) + b"abc", "literal run past input"),
        (bytes([0xF0, 0xFF, 0xFF]), "literal length runs past input"),
        (bytes([0x12]) + b"a" + b"\x01", "truncated match offset"),
        (bytes([0x1F]) + b"a" + struct.pack("<H", 1) + bytes([0xFF]),
         "match length runs past input"),
        (bytes([0x14]) + b"a" + struct.pack("<H", 0), "zero match offset"),
    ]
    good = pa.Codec("lz4_raw").compress(b"legacy " * 300, asbytes=True)
    for bad, msg in cases:
        with pytest.raises(ValueError, match=msg):
            kr._lz4_block_decompress(bad)
        for flg in (0x60, 0x70):
            for blocks in ([bad], [good, bad]):
                with pytest.raises(ValueError, match=msg):
                    kr.decode_kafka_lz4(_lz4_frame(blocks, flg=flg))
    # a block that only refers back into the PREVIOUS block: the frame
    # says independent blocks, so this is corrupt, as it always was
    linked = bytes([0x04]) + struct.pack("<H", 8) + bytes([0x50]) + b"xxxxx"
    with pytest.raises(ValueError, match="match offset beyond output"):
        kr.decode_kafka_lz4(_lz4_frame([good, linked]))


def test_lz4_frame_checksums_and_content_size_are_skipped():
    """Block checksums, content size and a content checksum are read past
    without verification, in every combination, both HC variants, over
    multi-block compressed and raw payloads: each frame decodes to its
    payload. A block longer than the 64 KiB its descriptor declares
    decodes too."""
    import random

    rng = random.Random(7)
    payloads = [
        b"",
        b"x",
        rng.randbytes(70_000),
        b"kafka " * 20_000,
        b"".join(rng.randbytes(rng.randrange(1, 40)) * rng.randrange(1, 30)
                 for _ in range(2000)),
    ]
    for payload in payloads:
        for flg in (0x60, 0x70, 0x68, 0x64, 0x7C, 0x40, 0x5C):
            for broken in (False, True):
                for size in (65536, 1000):
                    f = _lz4_frame(_lz4_blocks(payload, size), flg, broken, payload)
                    assert kr.decode_kafka_lz4(f) == payload, (len(payload), flg)
        assert kr.decode_kafka_lz4(
            _lz4_frame(_lz4_blocks(payload, 200_000))
        ) == payload
    # checksum values are not checked: a wrong one still decodes
    payload = b"checksums are skipped " * 100
    f = bytearray(_lz4_frame(_lz4_blocks(payload), 0x74, content=payload))
    f[-9] ^= 0xFF  # last byte of the block checksum
    f[-1] ^= 0xFF  # content checksum
    assert kr.decode_kafka_lz4(bytes(f)) == payload


def test_lz4_zero_offset_mid_block_fails_the_wrapper_crc():
    """A zero match offset FOLLOWED by more sequences passes Arrow's C
    decoder (it copies from the output position), where the Python token
    walk rejected it; inside a legacy lz4 wrapper the inner message's
    CRC32 still rejects the set."""
    import pytest

    inner = bytearray()
    for i in range(3):
        inner += kr._encode_message_v01(i, 1700000000000 + i, b"k", bytes([0x5A + i]) * 40, 1)

    def seq(literals, offset=None, match_len=4):
        lit = len(literals)
        m = match_len - 4 if offset is not None else 0
        out = bytearray([(min(lit, 15) << 4) | min(m, 15)])
        if lit >= 15:
            rest = lit - 15
            while rest >= 255:
                out.append(255)
                rest -= 255
            out.append(rest)
        out += literals
        if offset is not None:
            out += struct.pack("<H", offset)
        return bytes(out)

    cut = len(inner) - 30  # inside the last message's value
    block = seq(bytes(inner[:cut]), offset=0, match_len=8) + seq(bytes(inner[cut + 8 :]))
    msgset = kr._encode_message_v01(
        10, 1700000000000, None, _lz4_frame([block]), 1,
        attributes=kr._LEGACY_CODECS["lz4"],
    )
    with pytest.raises(ValueError, match="CRC32 mismatch"):
        kr.decode_message_sets_v01_many([msgset])
    with pytest.raises(ValueError):
        kr.decode_message_set_v01(msgset)


def _functions_importing_pandas(module):
    """Names of the module's top-level functions that import pandas."""
    import ast
    import inspect

    def imports_pandas(fn):
        for node in ast.walk(fn):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            else:
                continue
            if any(n.split(".")[0] == "pandas" for n in names):
                return True
        return False

    tree = ast.parse(inspect.getsource(module))
    functions = [f for f in tree.body if isinstance(f, ast.FunctionDef)]
    return {f.name for f in functions}, {f.name for f in functions if imports_pandas(f)}


def test_map_only_wire_kernels_import_no_pandas():
    """No function in ``sources/wire.py`` imports pandas: the four
    mapInArrow kernels, their factories and ``encode_wire_batches``
    (applyInArrow) all read and return Arrow."""
    names, with_pandas = _functions_importing_pandas(wire)
    assert with_pandas == set()
    assert {"encode_wire_batches", "decode_wire_batches", "transcode_batches",
            "down_convert_batches", "ingest_message_sets"} <= names


def test_offsets_topic_operators_import_no_pandas():
    """Both ``__consumer_offsets`` codec operators in ``operators/groups.py``
    are mapInArrow kernels that import no pandas."""
    from starlight_for_kafka_spark.operators import groups

    ops = {"encode_offsets_topic", "decode_offsets_topic"}
    names, with_pandas = _functions_importing_pandas(groups)
    assert ops <= names
    assert ops & with_pandas == set()


# ---------------------------------------------------------------------------
# the mapInArrow kernels against the scalar codec
# ---------------------------------------------------------------------------

def _wire_schemas():
    from pyspark.sql import types as T

    headers = T.ArrayType(
        T.StructType([T.StructField("key", T.StringType()),
                      T.StructField("value", T.BinaryType())])
    )
    log = T.StructType([
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("headers", headers),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
    ])
    batches = T.StructType([
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("base_offset", T.LongType(), False),
        T.StructField("record_count", T.IntegerType(), False),
        T.StructField("batch", T.BinaryType(), False),
    ])
    sets = T.StructType([
        T.StructField("partition", T.IntegerType()),
        T.StructField("base_offset", T.LongType()),
        T.StructField("record_count", T.IntegerType()),
        T.StructField("message_set", T.BinaryType()),
    ])
    return log, batches, sets


def _edge_batches():
    """(partition, v2 blob) pairs over the edge cases: null key, null
    value, empty key and value, zero / one / several headers (a null
    header value among them), NO_TIMESTAMP (-1), pre-1970 millis."""
    recs = [
        (None, b"v0", [], 1_700_000_000_000),
        (b"k1", None, [("h1", b"x"), ("h2", None), ("h3", b"")], -1),
        (b"", b"", [("only", b"y")], -86_400_000),
        (b"k3", b"v3" * 50, [], -1_000),
        (None, None, [("a", b"1"), ("b", b"2")], 0),
    ]
    out = []
    for i, partition in enumerate([0, 3, 7, 3, 0, 5, 7]):
        base = 100 * i
        chunk = recs[i % len(recs):] + recs[: i % len(recs)]
        rows = [
            {"offset": base + j, "timestamp_ms": ts, "key": k, "value": v, "headers": h}
            for j, (k, v, h, ts) in enumerate(chunk[: 1 + i % 5])
        ]
        out.append((partition, kr.encode_batch_v2(base, rows)))
    return out


def _log_rows_of(df):
    return [
        (r.partition, r.offset,
         None if r.key is None else bytes(r.key),
         None if r.value is None else bytes(r.value),
         [(h.key, None if h.value is None else bytes(h.value)) for h in r.headers],
         r.ts)
        for r in df.select(
            "partition", "offset", "key", "value", "headers",
            F.unix_millis("timestamp").alias("ts"),
        ).collect()
    ]


def _expected_log_rows(partition, records):
    return [
        (partition, r["offset"], r["key"], r["value"],
         [tuple(h) for h in r.get("headers") or []],
         None if r["timestamp_ms"] in (-1, None) else r["timestamp_ms"])
        for r in records
    ]


def test_arrow_wire_kernels_match_scalar_codec_on_edges(spark):
    """decode_wire_batches, transcode_batches, down_convert_batches and
    ingest_message_sets against the scalar codec, row for row and in
    order, on one task that receives several Arrow batches (two rows per
    batch): null key / value, zero and several headers, -1, pre-1970 and
    v0 (NULL) timestamps; each schema, nullability included, as the
    pandas kernels had it; an empty input gives no rows."""
    from starlight_for_kafka_spark.plans import local_frame

    log_schema, batch_schema, set_schema = _wire_schemas()
    pairs = _edge_batches()
    rows = [
        (p, kr.decode_batch_v2(b)["base_offset"], len(kr.decode_batch_v2(b)["records"]), b)
        for p, b in pairs
    ]
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        frame = local_frame(spark, rows, batch_schema).coalesce(1)
        assert frame.rdd.getNumPartitions() == 1 and len(rows) > 2

        decoded = wire.decode_wire_batches(frame)
        assert decoded.schema == log_schema
        want = [r for p, b in pairs
                for r in _expected_log_rows(p, kr.decode_batch_v2(b)["records"])]
        assert _log_rows_of(decoded) == want

        hops = ["lz4", "zstd", None]
        transcoded = wire.transcode_batches(frame, hops)
        assert transcoded.schema == batch_schema
        want_t = []
        for p, base, n, b in rows:
            for h in hops:
                b = kr.transcode(b, h)
            want_t.append((p, base, n, b))
        assert [(r.partition, r.base_offset, r.record_count, bytes(r.batch))
                for r in transcoded.collect()] == want_t

        for magic, codec in ((0, None), (1, None), (1, "lz4"), (0, "gzip")):
            sets = wire.down_convert_batches(frame, magic, codec)
            assert sets.schema == set_schema
            got = [(r.partition, r.base_offset, r.record_count, bytes(r.message_set))
                   for r in sets.collect()]
            assert got == [(p, base, n, kr.down_convert(b, magic, compression=codec))
                           for p, base, n, b in rows]

            ingested = wire.ingest_message_sets(sets)
            assert ingested.schema == log_schema
            want_i = [
                r for p, _, _, ms in got
                for r in _expected_log_rows(p, kr.decode_message_set_v01(ms))
            ]
            assert _log_rows_of(ingested) == want_i
            if magic == 0:
                assert {r[5] for r in want_i} == {None}
    finally:
        spark.conf.set(conf, saved)

    empty = local_frame(spark, [], batch_schema)
    empty_sets = local_frame(spark, [], "partition int, message_set binary")
    for df, schema in (
        (wire.decode_wire_batches(empty), log_schema),
        (wire.transcode_batches(empty, "gzip"), batch_schema),
        (wire.down_convert_batches(empty, 1, "lz4"), set_schema),
        (wire.ingest_message_sets(empty_sets), log_schema),
    ):
        assert df.schema == schema
        assert df.collect() == []


# ---------------------------------------------------------------------------
# the produce-side encoder against the scalar codec
# ---------------------------------------------------------------------------

_CODECS = [None, "gzip", "snappy", "lz4", "zstd"]


def _encode_edge_rows():
    """(key, value, headers, timestamp ms) over the encoder's edge cases:
    null, empty and >= 128-byte keys and values (two-byte length
    varints); a null header list and an empty one; a null header value; a
    non-ASCII header key; two and three headers; NO_TIMESTAMP (-1) and
    pre-1970 millis."""
    big = bytes(range(256)) * 2
    return [
        (None, b"v", None, 1_700_000_000_000),
        (b"k", None, [], -1),
        (b"", b"", [("h", None)], -86_400_000),
        (big, big[:200], [("ключ-é", b"x"), ("b", b""), ("c", big)], 0),
        (big[:128], None, [("a", b"1"), ("a", None)], -1_000),
        (None, None, None, 5),
        (b"k" * 300, b"", [("", b"")], 1_700_000_000_999),
    ]


def _scalar_batches(offsets, rows, per_batch, compression):
    """encode_batch_v2 over ``rows`` (offset order) in chunks of
    ``per_batch``: the bytes every columnar path must reproduce."""
    recs = [
        {"offset": o, "timestamp_ms": ts, "key": k, "value": v, "headers": h}
        for o, (k, v, h, ts) in zip(offsets, rows)
    ]
    return [
        kr.encode_batch_v2(recs[i]["offset"], recs[i:i + per_batch],
                           compression=compression)
        for i in range(0, len(recs), per_batch)
    ]


def test_columnar_encoder_matches_scalar_on_arrow_edges():
    """encode_batches_v2_columnar is byte-identical to encode_batch_v2 for
    every codec, from Python lists and from Arrow columns: plain, sliced
    (non-zero offset), chunked, and with null slots whose offsets still
    span bytes or header entries."""
    import numpy as np
    import pyarrow as pa

    hdr_type = pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))
    rows = _encode_edge_rows() * 3
    n = len(rows)
    offsets = np.arange(10**12, 10**12 + 2 * n, 2, dtype=np.int64)  # gapped
    keys, values, headers, ts = (list(c) for c in zip(*rows))
    starts = np.arange(0, n, 4)

    def spanning_nulls(col, typ):
        """``col`` rebuilt so every null slot covers 3 bytes / 2 entries."""
        arr = pa.array(col, typ)
        if typ == hdr_type:
            fill = pa.array([[("x", b"y"), ("z", None)]] * n, typ).values
            items = [arr[i].values if arr[i].is_valid else fill[2 * i:2 * i + 2]
                     for i in range(n)]
            lens = [len(x) for x in items]
            return pa.ListArray.from_arrays(
                pa.array(np.concatenate(([0], np.cumsum(lens))), pa.int32()),
                pa.concat_arrays(items), typ, mask=arr.is_null())
        data = b"".join(b"NUL" if x is None else x for x in col)
        lens = [3 if x is None else len(x) for x in col]
        out = pa.Array.from_buffers(typ, n, [
            arr.buffers()[0],
            pa.py_buffer(np.concatenate(([0], np.cumsum(lens))).astype(np.int32)),
            pa.py_buffer(data)])
        assert out.null_count == arr.null_count and len(out.buffers()[2]) == len(data)
        return out

    def sliced(col, typ):
        pad = pa.array([None, None], typ)
        return pa.concat_arrays([pad, pa.array(col, typ), pad]).slice(2, n)

    def chunked(col, typ):
        return pa.chunked_array([pa.array(col[:5], typ), pa.array(col[5:], typ)])

    forms = {
        "lists": lambda col, typ: col,
        "arrow": lambda col, typ: pa.array(col, typ),
        "sliced": sliced,
        "chunked": chunked,
        "spanning_nulls": spanning_nulls,
    }
    for codec in _CODECS:
        want = _scalar_batches(offsets.tolist(), rows, 4, codec)
        for name, form in forms.items():
            got = kr.encode_batches_v2_columnar(
                offsets, ts, form(keys, pa.binary()), form(values, pa.binary()),
                form(headers, hdr_type), starts, compression=codec,
            )
            assert got == want, (codec, name)
    # the whole headers argument None: no record has headers
    bare = [(k, v, None, t) for k, v, _, t in rows]
    assert kr.encode_batches_v2_columnar(
        offsets, ts, keys, values, None, starts
    ) == _scalar_batches(offsets.tolist(), bare, 4, None)


def test_columnar_encoder_rejects_a_null_header_key():
    """A null header key (or a null header entry) is a ValueError raised
    before any bytes are written, from lists and from Arrow."""
    import pyarrow as pa
    import pytest

    hdr_type = pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))
    for headers in (
        [[("k", b"v")], [(None, b"x")]],
        pa.array([[("k", b"v")], [(None, b"x")]], hdr_type),
        pa.array([[("k", b"v")], [None]], hdr_type),
    ):
        with pytest.raises(ValueError, match="null header key"):
            kr.encode_batches_v2_columnar(
                [0, 1], [0, 0], [b"a", b"b"], [b"c", b"d"], headers, [0])


def test_encode_wire_batches_matches_scalar_on_edges(spark):
    """encode_wire_batches against encode_batch_v2 for every codec: rows
    handed over out of offset order, gapped offsets, a partition spanning
    two kernel groups (16 batches each), a NULL timestamp (-1 on the
    wire), and the declared schema with its nullability."""
    import random

    from starlight_for_kafka_spark.plans import local_frame

    log_schema, batch_schema, _ = _wire_schemas()
    edge = _encode_edge_rows()
    parts = {0: 40, 3: 5}
    log_rows, want_in = [], {}
    for p, count in parts.items():
        offsets = [7 + 3 * i for i in range(count)]
        rows = [edge[(i + p) % len(edge)] for i in range(count)]
        rows[1] = rows[1][:3] + (None,)  # NULL timestamp
        want_in[p] = (offsets, [r[:3] + (-1 if r[3] is None else r[3],) for r in rows])
        log_rows += [(k, v, h, ts, p, o) for o, (k, v, h, ts) in zip(offsets, rows)]
    random.Random(5).shuffle(log_rows)
    frame = local_frame(
        spark, log_rows,
        "key binary, value binary, headers array<struct<key: string, value: binary>>, "
        "ts long, partition int, offset long",
    ).select("key", "value", "headers", F.timestamp_millis("ts").alias("timestamp"),
             "partition", "offset")
    assert frame.schema == log_schema
    for codec in _CODECS:
        out = wire.encode_wire_batches(frame, max_records_per_batch=2, compression=codec)
        assert out.schema == batch_schema
        got = sorted((r.partition, r.base_offset, r.record_count, bytes(r.batch))
                     for r in out.collect())
        want = sorted(
            (p, offsets[2 * i], len(rows[2 * i:2 * i + 2]), blob)
            for p, (offsets, rows) in want_in.items()
            for i, blob in enumerate(_scalar_batches(offsets, rows, 2, codec))
        )
        assert got == want, codec
    assert wire.encode_wire_batches(frame.limit(0)).collect() == []


def test_encode_plan_groups_behind_a_partition_and_group_exchange(spark, log):
    """Encode's FlatMapGroupsInArrow reads a hash exchange on
    (partition, __grp), not the window's exchange on partition alone, so
    its tasks scale with the data rather than the number of log
    partitions; no pandas node appears in the plan."""
    import re

    plan = wire.encode_wire_batches(log.df)._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    at = [i for i, line in enumerate(lines) if "FlatMapGroupsInArrow" in line]
    assert len(at) == 1, plan
    below = next(line for line in lines[at[0]:] if "Exchange" in line)
    assert re.search(r"Exchange hashpartitioning\(partition#\d+, __grp#\d+L?, \d+\)",
                     below), plan
    assert "Pandas" not in plan
