"""Kafka record-batch wire codec (RecordBatch v2 + legacy v0/v1), pure
Python, from the public Kafka protocol specification.

The reference's core data-plane job is exactly this conversion: Kafka
record batches ↔ broker storage entries, including magic down-conversion
for old consumers (kafka-impl/.../utils/ByteBufUtils.java:172-278,
format/KafkaV1EntryFormatter.java:40-64 zero-copy passthrough,
format/AbstractEntryFormatter.java down-convert accounting). This module
re-expresses the byte layer so the engine can ingest/serve real Kafka
wire bytes without a broker or client jar:

- RecordBatch v2 (magic 2): 61-byte header (baseOffset, batchLength,
  partitionLeaderEpoch, magic, CRC32C, attributes, lastOffsetDelta,
  baseTimestamp, maxTimestamp, producerId, producerEpoch, baseSequence,
  recordCount) + varint-delta records with headers.
- Legacy MessageSet v0/v1 (magic 0/1): per-message [offset, size, CRC32
  (zlib), magic, attributes, (v1 timestamp), int32-prefixed key/value] —
  the DOWN-CONVERSION target for pre-0.11 consumers (headers are dropped,
  exactly as Kafka's down-converter drops them).

CRC32C (Castagnoli) is implemented table-based from the public polynomial
(reflected 0x82F63B78) — verified against the canonical check value
crc32c(b"123456789") == 0xE3069283. Varints are zigzag, as in the Kafka
record encoding.

Compression covers every Kafka wire codec (KopLogValidator.java:495-520
getSourceCodec/getTargetCodec): gzip via stdlib zlib (gzip framing),
snappy / lz4 / zstd via pyarrow's bundled codecs (pyarrow ships inside
pyspark's dependency set — no extra install). Framing follows the Kafka
conventions per codec:

- gzip: standard gzip stream (zlib wbits=31).
- snappy: snappy-java framed stream (magic ``\\x82SNAPPY\\x00`` + version
  ints + [int32 length | raw snappy block] chunks of 32 KiB), the format
  Kafka's SnappyOutputStream writes; bare raw-snappy blocks are also
  accepted on decode, as Kafka's decompressor does.
- lz4: LZ4 Frame format for v2 batches; legacy v0/v1 wrapper messages use
  the KAFKA-3160 framing (encode_kafka_lz4/decode_kafka_lz4): broken
  descriptor checksum for magic v0, spec-correct for v1, decode accepts
  both — same as Kafka's KafkaLZ4Block streams.
- zstd: standard zstd frame (v2-only codec per KIP-110).
"""

from __future__ import annotations

import struct
import zlib

try:  # snappy/lz4/zstd come from pyarrow; gate so gzip-only still works
    import pyarrow as _pa
except ImportError:  # pragma: no cover - pyarrow ships with pyspark
    _pa = None

MAGIC_V2 = 2
RECORD_BATCH_OVERHEAD = 61

# ---------------------------------------------------------------------- #
# CRC32C (Castagnoli), table-driven, public polynomial
# ---------------------------------------------------------------------- #

_CRC32C_POLY = 0x82F63B78
_crc32c_table: list[int] = []


def _build_table() -> None:
    for i in range(256):
        crc = i
        for _ in range(8):
            crc = (crc >> 1) ^ (_CRC32C_POLY if crc & 1 else 0)
        _crc32c_table.append(crc)


_build_table()

def _crc32c_bytewise(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _crc32c_table[(crc ^ b) & 0xFF]
    return ~crc & 0xFFFFFFFF


# ---------------------------------------------------------------------- #
# Lane-parallel CRC32C for large payloads.
#
# The per-byte loop was 92% of transcode() time under profile — CRC has a
# strict per-byte dependency chain, so the only way to vectorize it is
# ACROSS independent chunks: split the payload into K contiguous lanes,
# run the table recurrence on all K lane registers simultaneously (numpy
# gather per byte POSITION, K-wide), then fold the K standalone lane CRCs
# left-to-right with the GF(2) "append L zero bytes" operator — the same
# linear-algebra construction as zlib's crc32_combine, built for the
# Castagnoli polynomial: combine(c1, c2, len2) = M(8*len2)(c1) XOR c2,
# where M is multiplication by x^(8*len2) mod P in the reflected domain
# (init/final XORs cancel under this identity; verified against the
# bytewise reference on random splits). The operator is applied via four
# 256-entry byte tables, so the fold costs 4 lookups per lane.
# ---------------------------------------------------------------------- #

def _gf2_matrix_times(mat: list[int], vec: int) -> int:
    s = 0
    i = 0
    while vec:
        if vec & 1:
            s ^= mat[i]
        vec >>= 1
        i += 1
    return s


def _gf2_matrix_square(mat: list[int]) -> list[int]:
    return [_gf2_matrix_times(mat, mat[n]) for n in range(32)]


def _zero_shift_operator(n_bytes: int) -> list[int]:
    """32 column images of the operator 'advance the CRC register past
    ``n_bytes`` zero bytes' (reflected domain)."""
    odd = [_CRC32C_POLY] + [1 << (n - 1) for n in range(1, 32)]
    even = _gf2_matrix_square(odd)   # x^2
    odd = _gf2_matrix_square(even)   # x^4
    mat = _gf2_matrix_square(odd)    # x^8 == one zero byte
    out: list[int] | None = None
    n = n_bytes
    while n:
        if n & 1:
            out = mat if out is None else [
                _gf2_matrix_times(mat, out[i]) for i in range(32)
            ]
        n >>= 1
        if n:
            mat = _gf2_matrix_square(mat)
    return out if out is not None else [1 << i for i in range(32)]


def _operator_byte_tables(mat: list[int]):
    """4 x 256 lookup tables for applying a 32x32 GF(2) operator."""
    tabs = []
    for b in range(4):
        col = mat[8 * b : 8 * b + 8]
        t = [0] * 256
        for v in range(256):
            s = 0
            vv = v
            i = 0
            while vv:
                if vv & 1:
                    s ^= col[i]
                vv >>= 1
                i += 1
            t[v] = s
        tabs.append(t)
    return tabs


_LANE_LEN = 512
_lane_op_cache: dict[int, list] = {}


def _lane_op(n_bytes: int) -> list:
    tabs = _lane_op_cache.get(n_bytes)
    if tabs is None:
        tabs = _operator_byte_tables(_zero_shift_operator(n_bytes))
        _lane_op_cache[n_bytes] = tabs
    return tabs


def _apply_op(tabs: list, crc: int) -> int:
    return (
        tabs[0][crc & 0xFF]
        ^ tabs[1][(crc >> 8) & 0xFF]
        ^ tabs[2][(crc >> 16) & 0xFF]
        ^ tabs[3][crc >> 24]
    )


def crc32c(data: bytes) -> int:
    """CRC32C of one payload (:func:`crc32c_many` of a one-blob list)."""
    return crc32c_many([data])[0]


def crc32c_many(blobs: list[bytes]) -> list[int]:
    """CRC32C of MANY independent payloads at once — the wire kernels'
    shape (one CRC per record batch, hundreds-to-thousands of 1-16 KB
    batches per Arrow chunk), where per-call laning can't win because
    each payload is too small to amortize the numpy setup.

    Every blob is cut into 512-byte SEGMENTS and every segment is a lane
    of one masked table-recurrence pass — so the iteration count is a
    constant 512 while the vector width is the TOTAL segment count
    (blob count x blob length / 512), independent of how long or ragged
    the individual blobs are. Per blob, the standalone segment CRCs fold
    left-to-right with the cached GF(2) zero-shift operator (4 table
    lookups per segment).

    Exactly equal to the bytewise CRC32C recurrence per blob (asserted
    by ``tests/test_wire.py``)."""
    k = len(blobs)
    if k == 0:
        return []
    lens = [len(b) for b in blobs]
    if sum(lens) < (1 << 14):  # numpy setup costs more than the loop
        return [_crc32c_bytewise(b) for b in blobs]
    import numpy as np

    table_np = _crc32c_np_table()
    seg = _LANE_LEN
    n_segs = sum((ln + seg - 1) // seg for ln in lens)
    # REMAINDER-FIRST segmentation: each blob contributes one short
    # leading segment of ln % seg bytes (if any) followed by full
    # seg-byte segments, so every fold hop below shifts by exactly
    # ``seg`` zero bytes — ONE cached operator, instead of building a
    # GF(2) operator per distinct trailing length (measured: operator
    # construction for ~500 distinct lengths dwarfed the lane loop).
    seg_lens: list[int] = []
    pieces: list[bytes] = []
    pad = b"\x00" * seg
    for b, ln in zip(blobs, lens):
        if ln == 0:
            continue
        rem = ln % seg
        if rem:
            seg_lens.append(rem)
            pieces.append(b[:rem])
            pieces.append(pad[rem:])
            seg_lens.extend([seg] * (ln // seg))
            pieces.append(b[rem:])
        else:
            seg_lens.extend([seg] * (ln // seg))
            pieces.append(b)
    # one C-level join onto the (lane, position) segment grid; the loop
    # reads strided COLUMNS — measured 2.6x cheaper than paying an
    # upfront uint8 transpose copy for contiguous rows (numpy byte
    # transposes are unblocked), and 4x cheaper than per-blob strided
    # writes into a transposed matrix
    mat = np.frombuffer(b"".join(pieces), dtype=np.uint8).reshape(
        n_segs, seg
    )
    seg_lens_np = np.asarray(seg_lens, dtype=np.int64)
    reg = np.full(n_segs, 0xFFFFFFFF, dtype=np.uint32)
    for i in range(seg):
        nxt = (reg >> np.uint32(8)) ^ table_np[
            (reg ^ mat[:, i]) & np.uint32(0xFF)
        ]
        reg = np.where(seg_lens_np > i, nxt, reg)
    seg_crcs = (~reg & np.uint32(0xFFFFFFFF)).tolist()
    tabs = _lane_op(seg)
    out: list[int] = []
    si = 0
    for ln in lens:
        if ln == 0:
            out.append(0)
            continue
        n = (ln + seg - 1) // seg
        crc = seg_crcs[si]
        for j in range(si + 1, si + n):
            crc = _apply_op(tabs, crc) ^ seg_crcs[j]
        si += n
        out.append(crc)
    return out


_np_table_cache: list = []


def _crc32c_np_table():
    if not _np_table_cache:
        import numpy as np

        _np_table_cache.append(np.array(_crc32c_table, dtype=np.uint32))
    return _np_table_cache[0]


# ---------------------------------------------------------------------- #
# zigzag varints (Kafka record encoding)
# ---------------------------------------------------------------------- #


def _write_varint(n: int, out: bytearray) -> None:
    z = (n << 1) ^ (n >> 63)
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    accum = 0
    while True:
        byte = buf[pos]
        pos += 1
        accum |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
        if shift > 63:
            raise ValueError("varint longer than 10 bytes")
    accum &= 0xFFFFFFFFFFFFFFFF  # 64 bits, as the columnar decode reads it
    return (accum >> 1) ^ -(accum & 1), pos


# ---------------------------------------------------------------------- #
# RecordBatch v2
# ---------------------------------------------------------------------- #


def encode_record_v2(
    offset_delta: int,
    timestamp_delta: int,
    key: bytes | None,
    value: bytes | None,
    headers: list[tuple[str, bytes | None]] | None = None,
) -> bytes:
    body = bytearray()
    body.append(0)  # record attributes (unused)
    _write_varint(timestamp_delta, body)
    _write_varint(offset_delta, body)
    for blob in (key, value):
        if blob is None:
            _write_varint(-1, body)
        else:
            _write_varint(len(blob), body)
            body += blob
    headers = headers or []
    _write_varint(len(headers), body)
    for hk, hv in headers:
        kb = hk.encode("utf-8")
        _write_varint(len(kb), body)
        body += kb
        if hv is None:
            _write_varint(-1, body)
        else:
            _write_varint(len(hv), body)
            body += hv
    out = bytearray()
    _write_varint(len(body), out)
    out += body
    return bytes(out)


# attributes bits 0-2: compression codec (Kafka protocol)
COMPRESSION_NONE = 0
COMPRESSION_GZIP = 1
COMPRESSION_SNAPPY = 2
COMPRESSION_LZ4 = 3
COMPRESSION_ZSTD = 4
_CODEC_NAMES = {0: "none", 1: "gzip", 2: "snappy", 3: "lz4", 4: "zstd"}
_CODEC_IDS = {v: k for k, v in _CODEC_NAMES.items() if k}

# snappy-java framed stream constants (the container Kafka's snappy
# writer emits): 8-byte magic, two int32 version fields, then
# [int32 compressed-length | raw snappy block] chunks.
_SNAPPY_JAVA_MAGIC = b"\x82SNAPPY\x00"
_SNAPPY_BLOCK_SIZE = 32 * 1024


def _require_pyarrow(codec: str) -> None:
    if _pa is None:
        raise ValueError(f"codec {codec!r} needs pyarrow, which is not importable")


def _snappy_raw_size(block: bytes) -> int:
    """Raw snappy blocks start with a little-endian varint of the
    uncompressed length (public snappy format description) — parse it so
    pyarrow's decompress gets the exact output size."""
    pos = size = shift = 0
    while True:
        b = block[pos]
        pos += 1
        size |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    # a snappy element of n bytes emits at most 64 / 3 bytes per byte, so
    # a larger claim is a corrupt header, not a buffer to allocate
    if size > 22 * len(block):
        raise ValueError("corrupt snappy block: uncompressed length")
    return size


def _compress(codec: str, data: bytes) -> bytes:
    if codec == "gzip":
        # zlib default level (-1 ≈ 6), matching Kafka's GZIPOutputStream /
        # Deflater.DEFAULT_COMPRESSION — level 9 costs ~2x CPU for ~1%
        # extra ratio and is NOT what the reference broker produces
        return zlib.compress(data, -1, wbits=31)
    _require_pyarrow(codec)
    if codec in ("lz4", "zstd"):
        # pyarrow's 'lz4' codec is the LZ4 Frame format — the Kafka v2
        # on-wire framing; zstd frames are self-describing.
        return _pa.Codec(codec).compress(data, asbytes=True)
    if codec == "snappy":
        c = _pa.Codec("snappy")
        out = bytearray(_SNAPPY_JAVA_MAGIC)
        out += struct.pack(">ii", 1, 1)  # version, min-compatible version
        for i in range(0, len(data), _SNAPPY_BLOCK_SIZE):
            blk = c.compress(data[i : i + _SNAPPY_BLOCK_SIZE], asbytes=True)
            out += struct.pack(">i", len(blk))
            out += blk
        return bytes(out)
    raise ValueError(f"unknown codec {codec!r}")


def _decompress(codec_id: int, data: bytes) -> bytes:
    """``data`` decompressed with Kafka codec ``codec_id``; a payload
    the codec rejects raises ``ValueError``."""
    try:
        return _decompress_payload(codec_id, data)
    except (zlib.error, OSError, IndexError, struct.error) as e:
        name = _CODEC_NAMES[codec_id]
        raise ValueError(f"corrupt {name} payload: {e}") from None


def _decompress_payload(codec_id: int, data: bytes) -> bytes:
    if codec_id == COMPRESSION_GZIP:
        return zlib.decompress(bytes(data), wbits=31)
    name = _CODEC_NAMES.get(codec_id)
    if name is None:
        raise ValueError(f"unknown codec id {codec_id}")
    _require_pyarrow(name)
    if codec_id in (COMPRESSION_LZ4, COMPRESSION_ZSTD):
        # frame formats don't carry a total uncompressed size we can trust
        # up front; stream-decompress instead of guessing.
        stream = _pa.CompressedInputStream(_pa.BufferReader(bytes(data)), name)
        return bytes(stream.read())
    if codec_id == COMPRESSION_SNAPPY:
        c = _pa.Codec("snappy")
        data = bytes(data)
        if data[: len(_SNAPPY_JAVA_MAGIC)] == _SNAPPY_JAVA_MAGIC:
            out = bytearray()
            pos = 16  # magic + 2 version ints
            while pos < len(data):
                (clen,) = struct.unpack_from(">i", data, pos)
                pos += 4
                blk = data[pos : pos + clen]
                pos += clen
                out += c.decompress(
                    blk, decompressed_size=_snappy_raw_size(blk), asbytes=True
                )
            return bytes(out)
        return c.decompress(
            data, decompressed_size=_snappy_raw_size(data), asbytes=True
        )
    raise ValueError(f"codec {name!r} not handled")


def encode_batch_v2(
    base_offset: int,
    records: list[dict],
    producer_id: int = -1,
    producer_epoch: int = -1,
    base_sequence: int = -1,
    partition_leader_epoch: int = 0,
    attributes: int = 0,
    compression: str | None = None,
) -> bytes:
    """records: [{offset, timestamp_ms, key, value, headers}] sorted by
    offset; offsets/timestamps are stored as deltas from the base, exactly
    per the v2 layout. ``compression`` of 'gzip' | 'snappy' | 'lz4' |
    'zstd' compresses the records section only (the v2 header stays
    clear, per the protocol) and sets the codec bits in attributes —
    the full Kafka codec set, as KopLogValidator.getTargetCodec:510
    supports."""
    crc_part = _encode_v2_crc_part(
        base_offset, records, producer_id, producer_epoch, base_sequence,
        attributes, compression,
    )
    return _assemble_v2(
        base_offset, partition_leader_epoch, crc32c(crc_part), crc_part
    )


def _encode_v2_crc_part(
    base_offset: int,
    records: list[dict],
    producer_id: int,
    producer_epoch: int,
    base_sequence: int,
    attributes: int,
    compression: str | None,
) -> bytes:
    if not records:
        raise ValueError("empty batch")
    base_ts = min(r["timestamp_ms"] for r in records)
    max_ts = max(r["timestamp_ms"] for r in records)
    recs = bytearray()
    for r in records:
        recs += encode_record_v2(
            r["offset"] - base_offset,
            r["timestamp_ms"] - base_ts,
            r.get("key"),
            r.get("value"),
            r.get("headers"),
        )
    if compression not in (None, "none"):
        if compression not in _CODEC_IDS:
            raise ValueError(f"unknown codec {compression!r}")
        recs = bytearray(_compress(compression, bytes(recs)))
        attributes = (attributes & ~0x07) | _CODEC_IDS[compression]
    last_offset_delta = records[-1]["offset"] - base_offset
    # part covered by the CRC: attributes .. records
    crc_part = bytearray()
    crc_part += struct.pack(">h", attributes)
    crc_part += struct.pack(">i", last_offset_delta)
    crc_part += struct.pack(">q", base_ts)
    crc_part += struct.pack(">q", max_ts)
    crc_part += struct.pack(">q", producer_id)
    crc_part += struct.pack(">h", producer_epoch)
    crc_part += struct.pack(">i", base_sequence)
    crc_part += struct.pack(">i", len(records))
    crc_part += recs
    return bytes(crc_part)


def _assemble_v2(
    base_offset: int, partition_leader_epoch: int, crc: int, crc_part: bytes
) -> bytes:
    # batchLength counts everything after the batchLength field itself
    batch_length = 4 + 1 + 4 + len(crc_part)  # leaderEpoch + magic + crc + covered
    out = bytearray()
    out += struct.pack(">q", base_offset)
    out += struct.pack(">i", batch_length)
    out += struct.pack(">i", partition_leader_epoch)
    out += struct.pack(">b", MAGIC_V2)
    out += struct.pack(">I", crc)
    out += crc_part
    return bytes(out)


# ---------------------------------------------------------------------- #
# columnar (numpy-vectorized) v2 record codec
#
# The wire hot path's remaining Python cost after the CRC batching was
# record-level varint encode/decode plus per-record dict/bytearray work
# (profiled: ~70% of encode, ~100% of decode). Varints inside one record
# chain sequentially, but ACROSS the records of an Arrow chunk every
# field is independent — the same lane axis crc32c_many exploits. Encode
# writes every record's zigzag varints with one masked byte-matrix
# scatter per varint column and lets Arrow's element-wise binary join
# interleave them with the key, value and header buffers (no per-record
# Python); decode walks only the record-length prefixes sequentially
# (~4 Python ops per record), decodes every interior field of all
# records in one vectorized pass per field (headers: one pass per header
# index) and gathers keys, values and headers into Arrow arrays straight
# from the records buffer. Outputs are byte-identical to encode_batch_v2
# / value-identical to decode_batch_v2 (pinned by tests).
# ---------------------------------------------------------------------- #


def _vec_zigzag(n):
    """Zigzag an int64 array to uint64."""
    return ((n << 1) ^ (n >> 63)).view(__import__("numpy").uint64)


def _vec_varint_nb(z):
    """Per-value varint byte counts for a zigzagged uint64 array."""
    import numpy as np

    nb = np.ones(len(z), dtype=np.int64)
    tmp = z >> np.uint64(7)
    while tmp.any():
        nb += tmp > 0
        tmp = tmp >> np.uint64(7)
    return nb


def _vec_varint_scatter(out, starts, z, nb):
    """Write varint(z[i]) at out[starts[i]...] for all i in one masked
    scatter. The byte matrix is only as wide as the LONGEST varint in the
    batch (typically 2-3 of the max 10 — deltas and lengths are small),
    which matters on this host: memory traffic, not arithmetic, bounds
    these kernels."""
    import numpy as np

    width = int(nb.max())
    j = np.arange(width, dtype=np.uint64)
    w = (z[:, None] >> (j * np.uint64(7))) & np.uint64(0x7F)
    cont = (np.arange(width)[None, :] + 1) < nb[:, None]
    w = (w | (cont.astype(np.uint64) << np.uint64(7))).astype(np.uint8)
    mask = np.arange(width)[None, :] < nb[:, None]
    pos = starts[:, None] + np.arange(width)[None, :]
    out[pos[mask]] = w[mask]


def _varint_array(*fields):
    """A binary Arrow array whose element i is ``varint(f[i])`` for each
    int64 array ``f`` in ``fields``, back to back: one scatter for all."""
    import numpy as np
    import pyarrow as pa

    z = np.stack([_vec_zigzag(np.asarray(f, np.int64)) for f in fields], 1).ravel()
    nb = _vec_varint_nb(z)
    ends = np.cumsum(nb)
    out = np.zeros(int(ends[-1]) if len(z) else 0, dtype=np.uint8)
    if len(z):
        _vec_varint_scatter(out, ends - nb, z, nb)
    n = len(z) // len(fields)
    offsets = np.zeros(n + 1, dtype=np.int32)
    offsets[1:] = ends[len(fields) - 1 :: len(fields)]
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(out)]
    )


def encode_batches_v2_columnar(
    offsets,
    ts_ms,
    keys,
    values,
    headers,
    batch_starts,
    compression: str | None = None,
    producer_id: int = -1,
    producer_epoch: int = -1,
    base_sequence: int = -1,
    partition_leader_epoch: int = 0,
    attributes: int = 0,
) -> list[bytes]:
    """Columnar :func:`encode_batch_v2` over many batches at once:
    ``offsets``/``ts_ms`` are per-record int64 arrays, ``keys``/``values``
    binary columns, ``headers`` a ``list<struct<key string, value
    binary>>`` column (or ``None`` for the whole argument when no record
    has headers; a null list and an empty one both encode no headers).
    Columns are Arrow arrays (chunked or sliced) or Python lists of
    ``bytes | None`` and ``(key, value)`` tuples, which go through
    ``pa.array`` first. ``batch_starts`` are the record indices where each
    batch begins (each batch's base offset is its first record's offset).

    Every record's bytes come from Arrow's element-wise binary join over
    the key, value and header buffers and the varint columns between
    them, so no Python object is built per record. A null header key
    raises ``ValueError`` before any bytes are written.
    Byte-identical to per-record encoding (pinned by tests)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    offsets = np.asarray(offsets, dtype=np.int64)
    ts_ms = np.asarray(ts_ms, dtype=np.int64)
    n_rec = len(offsets)
    batch_starts = np.asarray(batch_starts, dtype=np.int64)
    if len(batch_starts) == 0:
        return []
    if n_rec == 0 or (np.diff(batch_starts) <= 0).any() or (
        batch_starts[0] != 0 or batch_starts[-1] >= n_rec
    ):
        raise ValueError("empty batch")
    if compression not in (None, "none", *_CODEC_IDS):
        raise ValueError(f"unknown codec {compression!r}")
    counts = np.diff(np.concatenate((batch_starts, [n_rec])))
    base_ts_b = np.minimum.reduceat(ts_ms, batch_starts)
    max_ts_b = np.maximum.reduceat(ts_ms, batch_starts)
    ts_delta = ts_ms - np.repeat(base_ts_b, counts)
    off_delta = offsets - np.repeat(offsets[batch_starts], counts)

    def arrow(col, typ):
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        return (col if isinstance(col, pa.Array) else pa.array(col, typ)).cast(typ)

    def lengths(col):  # -1 for null, as the protocol writes it
        return pc.binary_length(col).fill_null(-1).to_numpy().astype(np.int64)

    def join(*cols):  # null elements join as b""
        return pc.binary_join_element_wise(*cols, b"", null_handling="replace")

    keys, values = arrow(keys, pa.binary()), arrow(values, pa.binary())
    klen, vlen = lengths(keys), lengths(values)
    hdr_type = pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))
    headers = arrow(pa.nulls(n_rec, hdr_type) if headers is None else headers, hdr_type)
    n_hdr = pc.list_value_length(headers).fill_null(0).to_numpy().astype(np.int64)
    # a null list's child slots are skipped; a null struct nulls its key
    hk, hv = pc.list_flatten(headers).flatten()
    if hk.null_count:
        raise ValueError("null header key")
    hk = hk.cast(pa.binary())
    entries = join(_varint_array(lengths(hk)), hk, _varint_array(lengths(hv)), hv)
    hdr_offsets = np.concatenate(([0], np.cumsum(n_hdr))).astype(np.int32)
    hdr_bytes = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(hdr_offsets), entries), b""
    )
    # attributes byte 0 is varint(0)
    body = (
        _varint_array(np.zeros(n_rec), ts_delta, off_delta, klen), keys,
        _varint_array(vlen), values, _varint_array(n_hdr), hdr_bytes,
    )
    body_len = sum(np.maximum(lengths(col), 0) for col in body)
    recs = join(_varint_array(body_len), *body)

    # split per batch and finish with the scalar header assembly (40
    # fixed bytes per batch) + one lane-parallel CRC pass
    rec_starts = np.frombuffer(recs.buffers()[1], np.int32)
    data = memoryview(recs.buffers()[2])
    b_start = rec_starts[batch_starts].tolist()
    b_end = b_start[1:] + [int(rec_starts[n_rec])]
    parts: list[bytes] = []
    for bi in range(len(batch_starts)):
        section = data[b_start[bi] : b_end[bi]]
        attr = attributes
        if compression not in (None, "none"):
            section = _compress(compression, section)
            attr = (attr & ~0x07) | _CODEC_IDS[compression]
        last = int(batch_starts[bi] + counts[bi] - 1)
        last_offset_delta = int(offsets[last] - offsets[batch_starts[bi]])
        parts.append(
            struct.pack(
                ">hiqqqhii",
                attr,
                last_offset_delta,
                int(base_ts_b[bi]),
                int(max_ts_b[bi]),
                producer_id,
                producer_epoch,
                base_sequence,
                int(counts[bi]),
            )
            + section
        )
    return [
        _assemble_v2(
            int(offsets[batch_starts[bi]]), partition_leader_epoch, crc, part
        )
        for bi, (crc, part) in enumerate(zip(crc32c_many(parts), parts))
    ]


def _vec_varint_decode_w(arr, starts, width):
    """Fixed-width masked varint decode; returns (values, byte counts,
    terminated mask) — rows whose varint does not end within ``width``
    bytes carry garbage and are flagged False."""
    import numpy as np

    idx = starts[:, None] + np.arange(width)[None, :]
    w = arr[idx].astype(np.uint64)
    stop = (w & np.uint64(0x80)) == 0
    ok = stop.any(axis=1)
    nb = stop.argmax(axis=1) + 1
    mask = np.arange(width)[None, :] < nb[:, None]
    vals = (w & np.uint64(0x7F)) << (
        np.arange(width, dtype=np.uint64) * np.uint64(7)
    )
    u = (vals * mask).sum(axis=1, dtype=np.uint64)
    n = (u >> np.uint64(1)).view(np.int64) ^ -((u & np.uint64(1)).view(np.int64))
    return n, nb.astype(np.int64), ok


def _vec_varint_decode(arr, starts):
    """Decode zigzag varints at N start positions of a padded uint8
    array: returns (values int64, byte counts). Reads each varint's first
    4 bytes as one little-endian uint32 (covers deltas/lengths up to
    2^27, virtually every real record field) and re-reads only the rare
    longer rows at the full 10 — the narrow window matters because
    memory traffic, not arithmetic, bounds these kernels on this host."""
    import numpy as np

    # the uint32 that starts at every byte position (an unaligned view)
    words = np.ndarray((len(arr) - 3,), "<u4", arr, 0, (1,))
    w = words[starts]
    stops = ~w & np.uint32(0x80808080)  # 0x80 in each byte that ends
    first = stops & (np.uint32(0) - stops)  # the lowest such byte
    nb = (
        1 + (first > 0x80).astype(np.int64) + (first > 0x8000) + (first > 0x800000)
    )
    u = (
        (w & np.uint32(0x7F))
        | ((w >> np.uint32(1)) & np.uint32(0x3F80))
        | ((w >> np.uint32(2)) & np.uint32(0x1FC000))
        | ((w >> np.uint32(3)) & np.uint32(0xFE00000))
    ) & ((np.uint32(1) << (7 * nb).astype(np.uint32)) - np.uint32(1))
    u = u.astype(np.int64)
    n = (u >> 1) ^ -(u & 1)
    wide = np.flatnonzero(stops == 0)
    if len(wide):
        n2, nb2, ok2 = _vec_varint_decode_w(arr, starts[wide], 10)
        if not ok2.all():
            raise ValueError("varint longer than 10 bytes")
        n[wide] = n2
        nb[wide] = nb2
    return n, nb


def _binary_array(data, starts, lens, typ=None):
    """Arrow array (``pa.binary()`` unless ``typ``) whose element i is
    ``data[starts[i] : starts[i] + lens[i]]`` of the uint8 array ``data``,
    null where ``lens[i]`` < 0: offsets from a cumsum, the bytes from one
    numpy gather, no Python object per element."""
    import numpy as np
    import pyarrow as pa

    n = len(lens)
    valid = lens >= 0
    nbytes = np.where(valid, lens, 0)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    if offsets[-1] >= 1 << 31:
        raise ValueError("binary column over 2 GiB")
    body = data[np.repeat(starts - offsets[:-1], nbytes) + np.arange(offsets[-1])]
    nulls = n - int(np.count_nonzero(valid))
    bitmap = pa.py_buffer(np.packbits(valid, bitorder="little")) if nulls else None
    return pa.Array.from_buffers(
        typ or pa.binary(), n,
        [bitmap, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(body)],
        null_count=nulls,
    )


def _binary_parts(col):
    """(lengths, bytes) of a ``pa.binary()`` array: int64 numpy lengths,
    -1 for null, and the non-null elements' bytes back to back as a
    uint8 numpy array, read from the array's buffers."""
    import numpy as np
    import pyarrow.compute as pc

    if col.null_count:
        lens = pc.binary_length(col).fill_null(-1).to_numpy().astype(np.int64)
        col = col.drop_null()
    else:
        lens = pc.binary_length(col).to_numpy().astype(np.int64)
    if len(col) == 0:
        return lens, np.zeros(0, dtype=np.uint8)
    _, offs, data = col.buffers()
    offs = np.frombuffer(offs, np.int32)[col.offset : col.offset + len(col) + 1]
    if data is None:  # every element empty
        return lens, np.zeros(0, dtype=np.uint8)
    return lens, np.frombuffer(data, np.uint8)[offs[0] : offs[-1]]


# base offset, batch length, leader epoch, magic, CRC, attributes, last
# offset delta, base and max timestamp, producer id and epoch, base
# sequence, record count (a format string: the module ships by value to
# the Python workers, and a compiled ``struct.Struct`` does not pickle)
_V2_HEADER = ">qiibIhiqqqhii"


def _v2_header(buf) -> tuple:
    """The 13 header fields of a v2 batch (``_V2_HEADER`` order), checked:
    the blob holds the 61-byte header and the ``batchLength`` bytes, the
    magic is 2 and the record count is not negative."""
    if len(buf) < RECORD_BATCH_OVERHEAD:
        raise ValueError("truncated v2 batch")
    h = struct.unpack_from(_V2_HEADER, buf)
    if h[3] != MAGIC_V2:
        raise ValueError(f"not a v2 batch (magic={h[3]})")
    if not RECORD_BATCH_OVERHEAD - 12 <= h[1] <= len(buf) - 12:
        raise ValueError("batch length outside the blob")
    if h[12] < 0:
        raise ValueError("negative record count")
    return h


def _v2_records(buf, h: tuple) -> bytes:
    """The records section of the v2 batch ``buf`` (header ``h``),
    decompressed."""
    rbuf = bytes(buf[RECORD_BATCH_OVERHEAD : 12 + h[1]])
    codec = h[5] & 0x07
    return rbuf if codec == COMPRESSION_NONE else _decompress(codec, rbuf)


def decode_batches_v2_columnar(
    bufs: list[bytes], verify_crc: bool = True, headers: bool = True
):
    """Columnar decode of many v2 batches. Returns a dict of per-record
    columns: ``offsets`` and ``ts_ms`` (int64 numpy), ``keys`` and
    ``values`` (``pa.binary()`` arrays, null where the length is
    negative) and ``headers`` (one ``list<struct<key string, value
    binary>>`` array, or ``None`` with ``headers=False``); plus per-batch
    int64 numpy {record_counts, attributes, producer_ids,
    producer_epochs, base_sequences}. Value-identical to
    :func:`decode_batch_v2` over the same bufs (pinned by tests); CRC
    verification runs as one lane-parallel pass.

    Every Arrow column is gathered from the one decompressed records
    buffer, so no Python object is built per record or header. Only the
    record-length prefixes are walked in Python (each record's position
    depends on the previous length); every field, headers included,
    decodes in vectorized passes — one per header index j, over the
    records with more than j headers. ``headers=False`` (the
    down-converter: v0/v1 drop headers) still walks the header
    positions for the length check but builds no header array and does
    not check the keys' UTF-8.

    The contract both decoders hold, each break a ``ValueError``: the
    batch header as :func:`_v2_header` checks it; each batch's records
    exactly fill its records section; every record length is not
    negative and every record's fields end exactly at its declared
    length; varints stay within their record and at 10 bytes; header
    counts and header key lengths are not negative; header keys are
    UTF-8."""
    import numpy as np
    import pyarrow as pa

    if verify_crc:
        verify_batches_v2_crc(bufs)
    hdrs = [_v2_header(b) for b in bufs]
    rbufs = [_v2_records(b, h) for b, h in zip(bufs, hdrs)]
    # base offset, attributes, base ts, producer id, epoch, base sequence,
    # record count per batch
    batch = np.array(
        [(h[0], h[5], h[7], h[9], h[10], h[11], h[12]) for h in hdrs], np.int64
    ).reshape(-1, 7)
    counts = batch[:, 6]
    n_rec = int(counts.sum())
    big = b"".join(rbufs)
    # a record takes at least 7 bytes (its length, attributes and five
    # varints), which also bounds the walk below on a corrupt count
    if 7 * n_rec > len(big):
        raise ValueError("record count exceeds the records section")

    # sequential walk over record-length prefixes only (the one truly
    # chained read — payload bytes make record boundaries undiscoverable
    # without it); every field decodes vectorized below. The 1- and
    # 2-byte fast paths cover real record lengths up to 8 KiB.
    prefix_list: list[int] = []
    append = prefix_list.append
    pos = 0
    try:
        for _ in range(n_rec):
            append(pos)
            b0 = big[pos]
            if b0 < 0x80:
                pos += 1
                z = b0
            else:
                b1 = big[pos + 1]
                if b1 < 0x80:
                    pos += 2
                    z = (b0 & 0x7F) | (b1 << 7)
                else:
                    z = (b0 & 0x7F) | ((b1 & 0x7F) << 7)
                    shift = 14
                    pos += 2
                    while True:
                        byte = big[pos]
                        pos += 1
                        z |= (byte & 0x7F) << shift
                        if not byte & 0x80:
                            break
                        shift += 7
                        if shift > 63:
                            raise ValueError("varint longer than 10 bytes")
                    z &= 0xFFFFFFFFFFFFFFFF
            pos += (z >> 1) ^ -(z & 1)
    except IndexError:
        raise ValueError("record read past the records section") from None
    prefix = np.array(prefix_list, dtype=np.int64)
    sec_len = np.array([len(r) for r in rbufs], dtype=np.int64)
    has_recs = counts > 0
    if (
        pos != len(big)
        or (sec_len[~has_recs] != 0).any()
        or (
            prefix[(np.cumsum(counts) - counts)[has_recs]]
            != (np.cumsum(sec_len) - sec_len)[has_recs]
        ).any()
    ):
        raise ValueError("records section length mismatch")

    arr = np.frombuffer(big + b"\x00" * 10, dtype=np.uint8)
    length, nb = _vec_varint_decode(arr, prefix)
    if (length < 0).any():
        raise ValueError("negative record length")
    rec_end = prefix + nb + length

    # every position stays at or before its record's end, so a varint
    # read (at most 10 bytes) stays inside the zero padding of ``arr``
    def skip(p, n, end=rec_end):
        n = np.maximum(n, 0)
        if (n > end - p).any():
            raise ValueError("record fields run past the record length")
        return p + n

    def varint(p, end=rec_end):
        v, nb_ = _vec_varint_decode(arr, p)
        return v, skip(p, nb_, end)

    p = skip(prefix + nb, 1)  # record attributes
    ts_delta, p = varint(p)
    off_delta, p = varint(p)
    klen, key_start = varint(p)
    vlen, val_start = varint(skip(key_start, klen))
    hcount, p = varint(skip(val_start, vlen))
    if (hcount < 0).any():
        raise ValueError("negative header count")
    if (hcount > (rec_end - p) // 2).any():  # a header takes >= 2 bytes
        raise ValueError("header count exceeds the record length")

    hdr_offsets = np.zeros(n_rec + 1, dtype=np.int64)
    np.cumsum(hcount, out=hdr_offsets[1:])
    hk_start, hk_len, hv_start, hv_len = (
        np.empty(int(hdr_offsets[-1]), dtype=np.int64) for _ in range(4)
    )
    act = np.flatnonzero(hcount)
    q = p[act]
    j = 0
    while len(act):
        end = rec_end[act]
        slot = hdr_offsets[act] + j
        hkl, q = varint(q, end)
        if (hkl < 0).any():
            raise ValueError("negative header key length")
        hk_start[slot], hk_len[slot] = q, hkl
        hvl, q = varint(skip(q, hkl, end), end)
        hv_start[slot], hv_len[slot] = q, hvl
        q = skip(q, hvl, end)
        p[act] = q
        j += 1
        more = hcount[act] > j
        act, q = act[more], q[more]
    if (p != rec_end).any():
        raise ValueError("record length mismatch")

    header_col = None
    if headers:
        hk = _binary_array(arr, hk_start, hk_len, pa.string())
        try:
            hk.validate(full=True)
        except pa.ArrowInvalid:
            raise ValueError("header key is not valid UTF-8") from None
        header_col = pa.ListArray.from_arrays(
            pa.array(hdr_offsets.astype(np.int32)),
            pa.StructArray.from_arrays(
                [hk, _binary_array(arr, hv_start, hv_len)], ["key", "value"]
            ),
        )
    return {
        "offsets": np.repeat(batch[:, 0], counts) + off_delta,
        "ts_ms": np.repeat(batch[:, 2], counts) + ts_delta,
        "keys": _binary_array(arr, key_start, klen),
        "values": _binary_array(arr, val_start, vlen),
        "headers": header_col,
        "record_counts": counts,
        "attributes": batch[:, 1],
        "producer_ids": batch[:, 3],
        "producer_epochs": batch[:, 4],
        "base_sequences": batch[:, 5],
    }


def verify_batches_v2_crc(bufs: list[bytes]) -> None:
    """Batch CRC verification for many v2 batches (ONE lane-parallel
    :func:`crc32c_many` pass); raises on the first mismatch. Callers then
    decode with ``verify_crc=False``."""
    hdrs = [_v2_header(b) for b in bufs]
    covered = [bytes(b[21 : 12 + h[1]]) for b, h in zip(bufs, hdrs)]
    for h, calc in zip(hdrs, crc32c_many(covered)):
        if h[4] != calc:
            raise ValueError("CRC32C mismatch")


def decode_batch_v2(buf: bytes, verify_crc: bool = True) -> dict:
    """Decode one v2 batch → {base_offset, producer_id, producer_epoch,
    base_sequence, attributes, records: [{offset, timestamp_ms, key,
    value, headers}]}. Raises ``ValueError`` on a magic or CRC mismatch
    and on any break of the contract :func:`decode_batches_v2_columnar`
    states."""
    h = _v2_header(buf)
    (base_offset, batch_length, _, _, crc, attributes, _, base_ts, _,
     producer_id, producer_epoch, base_sequence, record_count) = h
    if verify_crc and crc32c(bytes(buf[21 : 12 + batch_length])) != crc:
        raise ValueError("CRC32C mismatch")
    rbuf = _v2_records(buf, h)
    pos = 0
    records = []
    try:
        for _ in range(record_count):
            length, pos = _read_varint(rbuf, pos)
            end = pos + length
            if length < 0:
                raise ValueError("negative record length")
            if end > len(rbuf):
                raise ValueError("record read past the records section")
            pos += 1  # record attributes
            ts_delta, pos = _read_varint(rbuf, pos)
            off_delta, pos = _read_varint(rbuf, pos)
            klen, pos = _read_varint(rbuf, pos)
            key = None
            if klen >= 0:
                key = bytes(rbuf[pos : pos + klen])
                pos += klen
            vlen, pos = _read_varint(rbuf, pos)
            value = None
            if vlen >= 0:
                value = bytes(rbuf[pos : pos + vlen])
                pos += vlen
            hcount, pos = _read_varint(rbuf, pos)
            if hcount < 0:
                raise ValueError("negative header count")
            headers = []
            for _ in range(hcount):
                hklen, pos = _read_varint(rbuf, pos)
                if hklen < 0:
                    raise ValueError("negative header key length")
                hk = rbuf[pos : pos + hklen].decode("utf-8")
                pos += hklen
                hvlen, pos = _read_varint(rbuf, pos)
                hv = None
                if hvlen >= 0:
                    hv = bytes(rbuf[pos : pos + hvlen])
                    pos += hvlen
                headers.append((hk, hv))
            if pos != end:
                raise ValueError("record length mismatch")
            records.append(
                {
                    "offset": base_offset + off_delta,
                    "timestamp_ms": base_ts + ts_delta,
                    "key": key,
                    "value": value,
                    "headers": headers,
                }
            )
    except IndexError:
        raise ValueError("record read past the records section") from None
    if pos != len(rbuf):
        raise ValueError("records section length mismatch")
    return {
        "base_offset": base_offset,
        "attributes": attributes,
        "producer_id": producer_id,
        "producer_epoch": producer_epoch,
        "base_sequence": base_sequence,
        "records": records,
    }


def transcode(batch_bytes: bytes, compression: str | None = None) -> bytes:
    """Compression transcode, header-patching: verify the CRC, decompress
    the records section with the source codec, recompress with the target,
    and rewrite attributes/length/CRC — the RECORD bytes are
    codec-invariant in v2 (compression wraps the records section only), so
    no record-level varint parse happens. This is the broker's own
    recompression shape (AbstractEntryFormatter.java:238-281, metered as
    PRODUCE_MESSAGE_CONVERSIONS) and ~4x faster than the previous
    decode-to-dicts/re-encode path; output is byte-identical to it
    (pinned by test)."""
    if len(batch_bytes) < 61:
        raise ValueError("truncated v2 batch")
    crc_part = batch_bytes[21:]
    (stored_crc,) = struct.unpack_from(">I", batch_bytes, 17)
    if crc32c(bytes(crc_part)) != stored_crc:
        raise ValueError("CRC mismatch in source batch")
    (attributes,) = struct.unpack_from(">h", crc_part, 0)
    recs = bytes(crc_part[40:])
    codec_id = attributes & 0x07
    if codec_id:
        recs = _decompress(codec_id, recs)
    if compression in (None, "none"):
        new_attr = attributes & ~0x07
    else:
        if compression not in _CODEC_IDS:
            raise ValueError(f"unknown codec {compression!r}")
        new_attr = (attributes & ~0x07) | _CODEC_IDS[compression]
        recs = _compress(compression, recs)
    new_crc_part = struct.pack(">h", new_attr) + bytes(crc_part[2:40]) + recs
    crc = crc32c(new_crc_part)
    batch_length = 4 + 1 + 4 + len(new_crc_part)  # leaderEpoch+magic+crc+covered
    return (
        batch_bytes[:8]
        + struct.pack(">i", batch_length)
        + batch_bytes[12:17]
        + struct.pack(">I", crc)
        + new_crc_part
    )


def transcode_many(
    batches: list[bytes], compression: str | None = None
) -> list[bytes]:
    """:func:`transcode` over MANY batches, byte-identical outputs
    (pinned by test) — the per-Arrow-chunk form the wire kernels call.
    CRC32C was 92% of per-batch transcode under profile and has a strict
    per-byte dependency chain, so the win comes from lane-parallelism
    ACROSS batches: both the source-CRC verify and the re-CRC run as ONE
    :func:`crc32c_many` call over the whole chunk (each batch is a lane),
    while the decompress/recompress hops stay per-batch C calls."""
    if not batches:
        return []
    crc_parts: list[bytes] = []
    for b in batches:
        if len(b) < 61:
            raise ValueError("truncated v2 batch")
        crc_parts.append(bytes(b[21:]))
    for b, calc in zip(batches, crc32c_many(crc_parts)):
        if struct.unpack_from(">I", b, 17)[0] != calc:
            raise ValueError("CRC mismatch in source batch")
    new_parts: list[bytes] = []
    for part in crc_parts:
        (attributes,) = struct.unpack_from(">h", part, 0)
        recs: bytes = part[40:]
        codec_id = attributes & 0x07
        if codec_id:
            recs = _decompress(codec_id, recs)
        if compression in (None, "none"):
            new_attr = attributes & ~0x07
        else:
            if compression not in _CODEC_IDS:
                raise ValueError(f"unknown codec {compression!r}")
            new_attr = (attributes & ~0x07) | _CODEC_IDS[compression]
            recs = _compress(compression, recs)
        new_parts.append(struct.pack(">h", new_attr) + part[2:40] + recs)
    out: list[bytes] = []
    for b, part, crc in zip(batches, new_parts, crc32c_many(new_parts)):
        batch_length = 4 + 1 + 4 + len(part)
        out.append(
            b[:8]
            + struct.pack(">i", batch_length)
            + b[12:17]
            + struct.pack(">I", crc)
            + part
        )
    return out


# ---------------------------------------------------------------------- #
# legacy MessageSet v0/v1 — the down-conversion target
# ---------------------------------------------------------------------- #


def _encode_message_v01(
    offset: int,
    timestamp_ms: int,
    key: bytes | None,
    value: bytes | None,
    magic: int,
    attributes: int = 0,
) -> bytes:
    body = bytearray()
    body += struct.pack(">b", magic)
    body.append(attributes & 0xFF)  # codec bits 0-2 (+ ts-type bit 3 in v1)
    if magic == 1:
        body += struct.pack(">q", timestamp_ms)
    for blob in (key, value):
        if blob is None:
            body += struct.pack(">i", -1)
        else:
            body += struct.pack(">i", len(blob))
            body += blob
    crc = zlib.crc32(bytes(body)) & 0xFFFFFFFF
    msg = struct.pack(">I", crc) + bytes(body)
    return struct.pack(">q", offset) + struct.pack(">i", len(msg)) + msg


# ---------------------------------------------------------------------- #
# Kafka legacy LZ4 framing (KAFKA-3160)
#
# Pre-0.11 lz4 wrapper messages use the LZ4 Frame format, but magic-v0
# producers computed the frame-descriptor checksum (HC byte) over the
# 4 magic bytes + descriptor instead of the descriptor alone — the
# "broken HC" variant KAFKA-3160 documents. The 0.10 fix kept the broken
# checksum for magic v0 (compatibility) and writes the spec-correct one
# for magic v1+ (Kafka CompressionType.LZ4 wraps with
# useBrokenFlagDescriptorChecksum = (magic == v0)). Decode accepts BOTH
# variants, like KafkaLZ4BlockInputStream with the ignore flag the
# broker passes. Frame blocks are independent LZ4 raw blocks (public
# LZ4 Frame + Block specs); xxhash32 is implemented from the public
# XXH32 algorithm for the HC byte.
# ---------------------------------------------------------------------- #

_LZ4_FRAME_MAGIC = b"\x04\x22\x4d\x18"
_LZ4_BLOCK_MAX = 64 * 1024  # BD 0x40, Kafka's default blockMaxSize
_LZ4_UNCOMPRESSED_BIT = 0x80000000


def _xxh32(data: bytes, seed: int = 0) -> int:
    """XXH32 (public xxHash algorithm) — the LZ4 Frame descriptor
    checksum. Pure stdlib; only runs over 2-6 header bytes per frame."""
    p1, p2, p3, p4, p5 = (
        2654435761, 2246822519, 3266489917, 668265263, 374761393,
    )
    mask = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) & mask) | (x >> (32 - r))

    n = len(data)
    i = 0
    if n >= 16:
        v1 = (seed + p1 + p2) & mask
        v2 = (seed + p2) & mask
        v3 = seed & mask
        v4 = (seed - p1) & mask
        while i <= n - 16:
            v1 = (rotl((v1 + int.from_bytes(data[i : i + 4], "little") * p2) & mask, 13) * p1) & mask
            v2 = (rotl((v2 + int.from_bytes(data[i + 4 : i + 8], "little") * p2) & mask, 13) * p1) & mask
            v3 = (rotl((v3 + int.from_bytes(data[i + 8 : i + 12], "little") * p2) & mask, 13) * p1) & mask
            v4 = (rotl((v4 + int.from_bytes(data[i + 12 : i + 16], "little") * p2) & mask, 13) * p1) & mask
            i += 16
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & mask
    else:
        h = (seed + p5) & mask
    h = (h + n) & mask
    while i <= n - 4:
        h = (h + int.from_bytes(data[i : i + 4], "little") * p3) & mask
        h = (rotl(h, 17) * p4) & mask
        i += 4
    while i < n:
        h = (h + data[i] * p5) & mask
        h = (rotl(h, 11) * p1) & mask
        i += 1
    h ^= h >> 15
    h = (h * p2) & mask
    h ^= h >> 13
    h = (h * p3) & mask
    h ^= h >> 16
    return h


def _lz4_block_decompress(src: bytes) -> bytes:
    """LZ4 raw BLOCK decompression (public block spec): token-driven
    literal/match sequences. Pure Python: :func:`decode_kafka_lz4` uses it
    without pyarrow, and to name the fault in a block Arrow's C decoder
    rejects."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n:
        token = src[i]
        i += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                if i >= n:
                    raise ValueError(
                        "corrupt lz4 block: literal length runs past input"
                    )
                b = src[i]
                i += 1
                lit_len += b
                if b != 255:
                    break
        if i + lit_len > n:
            # a short slice would silently truncate and return garbage —
            # fail loudly like the match-offset guards below (same
            # untrusted wire-decode path)
            raise ValueError("corrupt lz4 block: literal run past input")
        out += src[i : i + lit_len]
        i += lit_len
        if i >= n:
            break  # last sequence carries literals only
        if i + 2 > n:
            raise ValueError("corrupt lz4 block: truncated match offset")
        offset = int.from_bytes(src[i : i + 2], "little")
        i += 2
        if offset == 0:
            raise ValueError("corrupt lz4 block: zero match offset")
        match_len = token & 0xF
        if match_len == 15:
            while True:
                if i >= n:
                    raise ValueError(
                        "corrupt lz4 block: match length runs past input"
                    )
                b = src[i]
                i += 1
                match_len += b
                if b != 255:
                    break
        match_len += 4
        if offset > len(out):
            # the old per-byte loop raised IndexError here; the sliced
            # fast paths would silently clamp and emit garbage instead
            raise ValueError("corrupt lz4 block: match offset beyond output")
        if offset >= match_len:
            start = len(out) - offset
            out += out[start : start + match_len]
        else:
            # overlapping copy: the semantics are "repeat the last
            # ``offset`` bytes until ``match_len`` is filled" — replicate
            # the pattern with C-speed bytes multiplication instead of a
            # per-byte Python loop (RLE-heavy payloads hit this path for
            # nearly every match; measured ~6x on repetitive wrappers)
            pattern = bytes(out[-offset:])
            rep, rem = divmod(match_len, offset)
            out += pattern * rep
            out += pattern[:rem]
    return bytes(out)


def encode_kafka_lz4(data: bytes, broken_hc: bool) -> bytes:
    """Frame ``data`` as a Kafka legacy LZ4 stream: LZ4 Frame magic +
    FLG(version 1, block-independence) + BD(64 KiB) + HC + independent
    raw blocks + end mark. ``broken_hc`` selects the KAFKA-3160 magic-v0
    checksum (computed over magic+descriptor) vs the spec-correct one."""
    _require_pyarrow("lz4")
    flg, bd = 0x60, 0x40
    descriptor = bytes([flg, bd])
    hc_input = _LZ4_FRAME_MAGIC + descriptor if broken_hc else descriptor
    hc = (_xxh32(hc_input) >> 8) & 0xFF
    out = bytearray(_LZ4_FRAME_MAGIC)
    out += descriptor
    out.append(hc)
    codec = _pa.Codec("lz4_raw")
    for i in range(0, len(data), _LZ4_BLOCK_MAX):
        blk = data[i : i + _LZ4_BLOCK_MAX]
        comp = codec.compress(blk, asbytes=True)
        if len(comp) >= len(blk):  # incompressible: store raw, high bit set
            out += struct.pack("<I", len(blk) | _LZ4_UNCOMPRESSED_BIT)
            out += blk
        else:
            out += struct.pack("<I", len(comp))
            out += comp
    out += struct.pack("<I", 0)  # end mark
    return bytes(out)


# headers of the frame decode_kafka_lz4 hands Arrow's C decoder: FLG 0x60
# (version 1, independent blocks, no checksums, no content size), spec HC,
# BD 64 KiB (Kafka's block size) first: the C decoder sizes its buffer by
# BD and runs twice as fast as with 4 MiB, the largest block the frame
# spec allows, which only a frame with larger blocks needs
_LZ4_PLAIN_HEADERS = tuple(
    _LZ4_FRAME_MAGIC + bytes([0x60, bd, (_xxh32(bytes([0x60, bd])) >> 8) & 0xFF])
    for bd in (0x40, 0x70)
)


def decode_kafka_lz4(data: bytes) -> bytes:
    """Decode a Kafka legacy LZ4 frame, accepting BOTH the broken-HC
    (magic v0, KAFKA-3160) and spec-correct descriptor checksums — the
    tolerant read side Kafka's own KafkaLZ4BlockInputStream implements
    (reference consumes these in the down-convert read path,
    format/AbstractEntryFormatter.java:248-281).

    Python checks the header and walks the block headers only (end mark,
    truncation); the blocks then go to Arrow's C frame decoder as one
    rebuilt frame with the spec HC and no block checksums, content size
    or content checksum, which this replay path never verified. A block
    the C decoder rejects raises the pure-Python decoder's guard message
    when one of its guards names the fault.

    Known gap: a zero match offset followed by more sequences is accepted
    by the C decoder, which copies from the output position and returns
    bytes the input never held (a zero offset that ends the block is
    still rejected). Inside a legacy wrapper the inner messages' CRC32
    fails the set; a direct caller gets the wrong bytes. Rejecting it
    needs a Python token walk over every block."""
    data = bytes(data)
    if data[:4] != _LZ4_FRAME_MAGIC:
        raise ValueError("not an LZ4 frame (bad magic)")
    flg = data[4]
    if (flg >> 6) != 1:
        raise ValueError(f"unsupported LZ4 frame version {flg >> 6}")
    if flg & 0x01:
        raise ValueError("LZ4 dictionaries not supported")
    has_content_size = bool(flg & 0x08)
    has_block_checksum = bool(flg & 0x10)
    desc_len = 2 + (8 if has_content_size else 0)
    descriptor = data[4 : 4 + desc_len]
    hc = data[4 + desc_len]
    ok_correct = hc == (_xxh32(descriptor) >> 8) & 0xFF
    ok_broken = hc == (_xxh32(_LZ4_FRAME_MAGIC + descriptor) >> 8) & 0xFF
    if not (ok_correct or ok_broken):
        raise ValueError("LZ4 frame descriptor checksum mismatch")
    pos = first = 4 + desc_len + 1
    blocks = []  # (header start, payload end, stored raw)
    while True:
        if pos + 4 > len(data):
            raise ValueError("truncated LZ4 frame (no end mark)")
        size = struct.unpack_from("<I", data, pos)[0]
        if size == 0:
            break
        raw = bool(size & _LZ4_UNCOMPRESSED_BIT)
        end = pos + 4 + (size & ~_LZ4_UNCOMPRESSED_BIT)
        if end > len(data):
            raise ValueError("truncated LZ4 block")
        blocks.append((pos, end, raw))
        pos = end + (4 if has_block_checksum else 0)  # xxh32, not verified
    if _pa is None:
        return b"".join(
            data[s + 4 : e] if raw else _lz4_block_decompress(data[s + 4 : e])
            for s, e, raw in blocks
        )
    body = (
        b"".join(data[s:e] for s, e, _ in blocks)
        if has_block_checksum
        else data[first:pos]
    )
    for header in _LZ4_PLAIN_HEADERS:
        frame = _pa.py_buffer(header + body + bytes(4))
        try:
            return _pa.input_stream(frame, compression="lz4").read()
        except OSError as ex:
            error = ex
    for s, e, raw in blocks:
        if not raw:
            _lz4_block_decompress(data[s + 4 : e])
    raise ValueError(f"corrupt lz4 block: {error}") from None


# legacy wrapper compression: gzip and snappy via the shared codecs; lz4
# via the KAFKA-3160 legacy framing above (broken HC for magic v0,
# spec-correct for v1 — matching Kafka's CompressionType.LZ4). zstd is
# v2-only (KIP-110) and stays rejected.
_LEGACY_CODECS = {
    "gzip": COMPRESSION_GZIP,
    "snappy": COMPRESSION_SNAPPY,
    "lz4": COMPRESSION_LZ4,
}


def down_convert(
    batch_bytes: bytes,
    to_magic: int = 1,
    compression: str | None = None,
    verify_crc: bool = True,
) -> bytes:
    """Magic down-conversion: a v2 batch re-encoded as a v0/v1 message set
    for pre-0.11 consumers. Headers are dropped and per-message CRC32
    (zlib) replaces the batch CRC32C — the same lossy mapping Kafka's
    down-converter performs (and the reference meters as
    CONSUME_MESSAGE_CONVERSIONS_TIME_NANOS).

    ``compression`` wraps the set in one compressed WRAPPER message per
    the legacy scheme (A Guide To The Kafka Protocol, "Compression"):
    inner messages carry RELATIVE offsets 0..n-1 in v1 (the broker only
    assigns the wrapper's offset — KIP-31's no-recompression path) but
    ABSOLUTE offsets in v0 (the broker rewrote them); the wrapper holds
    the LAST inner message's absolute offset, the max inner timestamp
    (v1), and the codec id in its attribute bits."""
    if to_magic not in (0, 1):
        raise ValueError("legacy magic must be 0 or 1")
    batch = decode_batch_v2(batch_bytes, verify_crc=verify_crc)
    recs = batch["records"]
    if compression is None:
        out = bytearray()
        for r in recs:
            out += _encode_message_v01(
                r["offset"], r["timestamp_ms"], r["key"], r["value"], to_magic
            )
        return bytes(out)
    if compression not in _LEGACY_CODECS:
        raise ValueError(
            f"legacy message sets support gzip/snappy/lz4, not {compression!r}"
        )
    if not recs:
        return b""
    inner = bytearray()
    for i, r in enumerate(recs):
        inner_offset = i if to_magic == 1 else r["offset"]
        inner += _encode_message_v01(
            inner_offset, r["timestamp_ms"], r["key"], r["value"], to_magic
        )
    if compression == "lz4":
        # KAFKA-3160: magic v0 keeps the broken descriptor checksum for
        # compatibility; v1 writes the spec-correct frame
        wrapper_value = encode_kafka_lz4(bytes(inner), broken_hc=(to_magic == 0))
    else:
        wrapper_value = _compress(compression, bytes(inner))
    wrapper_ts = max(r["timestamp_ms"] for r in recs)
    return _encode_message_v01(
        recs[-1]["offset"],
        wrapper_ts,
        None,
        wrapper_value,
        to_magic,
        attributes=_LEGACY_CODECS[compression],
    )


def _encode_sets_v01_columnar(offsets, ts_ms, keys, values, magic, set_starts):
    """Vectorized v0/v1 message-set encode over per-record arrays
    (``keys`` and ``values`` are ``pa.binary()`` arrays): returns
    (all_bytes, set_byte_starts) where set i is
    ``all_bytes[set_byte_starts[i]:set_byte_starts[i+1]]``. Byte-identical
    to concatenating :func:`_encode_message_v01` per record (pinned by
    tests) — same numpy scatter shape as the v2 columnar encoder, the key
    and value bytes scattered straight from the Arrow buffers; the
    per-message CRC32 stays one C zlib call per message (bodies are tens
    of bytes, the laning setup would dominate)."""
    import numpy as np

    offsets = np.asarray(offsets, dtype=np.int64)
    ts_ms = np.asarray(ts_ms, dtype=np.int64)
    n = len(offsets)
    klen, key_data = _binary_parts(keys)
    vlen, val_data = _binary_parts(values)
    kbytes = np.maximum(klen, 0)
    vbytes = np.maximum(vlen, 0)
    ts_w = 8 if magic == 1 else 0
    # size field: crc(4)+magic(1)+attr(1)+[ts]+klen(4)+key+vlen(4)+value
    msg_size = 14 + ts_w + kbytes + vbytes
    rec_len = 12 + msg_size  # + offset(8) + size(4)
    rec_starts = np.zeros(n, dtype=np.int64)
    if n:
        np.cumsum(rec_len[:-1], out=rec_starts[1:])
    total = int(rec_len.sum())
    out = np.zeros(total, dtype=np.uint8)

    def put_be(starts, vals, width):
        dt = {8: ">i8", 4: ">i4"}[width]
        b = np.ascontiguousarray(vals.astype(dt)).view(np.uint8).reshape(-1, width)
        out[starts[:, None] + np.arange(width)] = b

    def put_bytes(starts, nbytes, data):  # spans back to back in ``data``
        src = np.cumsum(nbytes) - nbytes
        out[np.repeat(starts - src, nbytes) + np.arange(len(data))] = data

    put_be(rec_starts, offsets, 8)
    put_be(rec_starts + 8, msg_size, 4)
    # crc at +12 is filled once the body bytes are in place
    body_start = rec_starts + 16
    out[body_start] = magic & 0xFF
    # attributes byte at body_start+1 stays 0 (zero-filled buffer)
    p = body_start + 2
    if magic == 1:
        put_be(p, ts_ms, 8)
        p = p + 8
    put_be(p, klen, 4)
    key_start = p + 4
    put_bytes(key_start, kbytes, key_data)
    vlen_start = key_start + kbytes
    put_be(vlen_start, vlen, 4)
    put_bytes(vlen_start + 4, vbytes, val_data)
    mv = out.data
    crcs = np.fromiter(
        (
            zlib.crc32(mv[s:e])
            for s, e in zip(body_start.tolist(), (rec_starts + rec_len).tolist())
        ),
        np.int64,
        n,
    )
    out[(rec_starts + 12)[:, None] + np.arange(4)] = (
        np.ascontiguousarray(crcs.astype(">u4")).view(np.uint8).reshape(-1, 4)
    )
    all_bytes = out.tobytes()
    set_starts = np.asarray(set_starts, dtype=np.int64)
    # index an edge-extended starts array so a zero-record set (whose
    # start equals the record count) maps to the end of the buffer
    edges = np.concatenate((rec_starts, [total]))
    set_byte_starts = np.concatenate((edges[set_starts], [total]))
    return all_bytes, set_byte_starts


def down_convert_many(
    bufs: list[bytes],
    to_magic: int = 1,
    compression: str | None = None,
    verify_crc: bool = True,
) -> list[bytes]:
    """Columnar :func:`down_convert` over many v2 batches at once —
    byte-identical output (pinned by tests), one vectorized decode +
    one vectorized v01 encode instead of a per-batch scalar walk
    (guide §4.2). The wrapper-message assembly for compressed sets stays
    per batch: it is one compress call + 40-odd header bytes each."""
    import numpy as np

    if to_magic not in (0, 1):
        raise ValueError("legacy magic must be 0 or 1")
    if not bufs:
        return []
    # v0/v1 carry no headers: the decoder builds no header column
    d = decode_batches_v2_columnar(bufs, verify_crc=verify_crc, headers=False)
    counts = d["record_counts"]
    n_batches = len(counts)
    set_starts = np.zeros(n_batches, dtype=np.int64)
    np.cumsum(counts[:-1], out=set_starts[1:])
    offsets = d["offsets"]
    ts_ms = d["ts_ms"]
    if compression is None:
        all_bytes, sbs = _encode_sets_v01_columnar(
            offsets, ts_ms, d["keys"], d["values"], to_magic, set_starts
        )
        return [
            all_bytes[int(sbs[i]) : int(sbs[i + 1])] for i in range(n_batches)
        ]
    if compression not in _LEGACY_CODECS:
        raise ValueError(
            f"legacy message sets support gzip/snappy/lz4, not {compression!r}"
        )
    # inner offsets: sequential 0..n-1 per batch in v1 (the broker only
    # assigns the wrapper's offset — KIP-31; matches down_convert's
    # enumerate, NOT the offset delta, which differs on gapped offsets),
    # absolute in v0
    if to_magic == 1:
        n_rec = int(counts.sum())
        inner_off = np.arange(n_rec, dtype=np.int64) - np.repeat(
            set_starts, counts
        )
    else:
        inner_off = offsets
    all_bytes, sbs = _encode_sets_v01_columnar(
        inner_off, ts_ms, d["keys"], d["values"], to_magic, set_starts
    )
    out: list[bytes] = []
    for bi in range(n_batches):
        cnt = int(counts[bi])
        if not cnt:
            out.append(b"")
            continue
        s = int(set_starts[bi])
        inner = all_bytes[int(sbs[bi]) : int(sbs[bi + 1])]
        if compression == "lz4":
            wrapper_value = encode_kafka_lz4(inner, broken_hc=(to_magic == 0))
        else:
            wrapper_value = _compress(compression, inner)
        out.append(
            _encode_message_v01(
                int(offsets[s + cnt - 1]),
                int(ts_ms[s : s + cnt].max()),
                None,
                wrapper_value,
                to_magic,
                attributes=_LEGACY_CODECS[compression],
            )
        )
    return out


# A legacy message is at least crc, magic, attributes and the key and
# value lengths (v1 adds an 8-byte timestamp); both v0/v1 decoders raise
# these for a message that ends past its set or a field that ends past
# its message.
_V01_MIN_SIZE = 14
_V01_SET_ERR = "legacy message ends past its message set"
_V01_FIELD_ERR = "legacy message field ends past its message"


def decode_message_set_v01(buf: bytes) -> list[dict]:
    """Decode a legacy v0/v1 message set → [{offset, timestamp_ms|None,
    key, value}] (verifying each per-message CRC32, wrapper and inner).

    Compressed WRAPPER messages (codec bits in the attributes byte — how
    every pre-0.11 producer with compression actually wrote) decompress
    and recurse: v1 inner offsets are RELATIVE (absolute = wrapper_offset
    - last_inner_relative + relative, per AbstractLegacyRecordBatch —
    NOT ``- (n-1)``, which breaks on compaction-gapped inner sets); v0
    inner offsets are already absolute. A v1
    wrapper flagged LOG_APPEND_TIME (attribute bit 3) stamps its own
    timestamp onto every inner message, per the protocol guide.

    Raises ``ValueError`` when a message ends past its set, or its
    timestamp, key or value ends past the message."""
    out = []
    pos = 0
    while pos < len(buf):
        size = int.from_bytes(buf[pos + 8 : pos + 12], "big", signed=True)
        if not _V01_MIN_SIZE <= size <= len(buf) - pos - 12:
            raise ValueError(_V01_SET_ERR)
        offset = struct.unpack_from(">q", buf, pos)[0]
        msg = buf[pos + 12 : pos + 12 + size]
        crc = struct.unpack_from(">I", msg, 0)[0]
        if zlib.crc32(msg[4:]) & 0xFFFFFFFF != crc:
            raise ValueError("CRC32 mismatch")
        magic = struct.unpack_from(">b", msg, 4)[0]
        attributes = msg[5]
        mpos = 6
        ts = None
        if magic == 1:
            if size < _V01_MIN_SIZE + 8:
                raise ValueError(_V01_FIELD_ERR)
            ts = struct.unpack_from(">q", msg, mpos)[0]
            mpos += 8
        klen = struct.unpack_from(">i", msg, mpos)[0]
        mpos += 4
        key = None
        if klen >= 0:
            if mpos + klen + 4 > size:
                raise ValueError(_V01_FIELD_ERR)
            key = bytes(msg[mpos : mpos + klen])
            mpos += klen
        vlen = struct.unpack_from(">i", msg, mpos)[0]
        mpos += 4
        value = None
        if vlen >= 0:
            if mpos + vlen > size:
                raise ValueError(_V01_FIELD_ERR)
            value = bytes(msg[mpos : mpos + vlen])
            mpos += vlen
        codec_id = attributes & 0x07
        if codec_id:
            if value is None:
                raise ValueError("compressed wrapper message with null value")
            payload = (
                decode_kafka_lz4(value)
                if codec_id == COMPRESSION_LZ4
                else _decompress(codec_id, value)
            )
            inner = decode_message_set_v01(payload)
            log_append_time = magic == 1 and (attributes >> 3) & 1
            # relative inner offsets; wrapper holds the LAST absolute
            # offset. Kafka (AbstractLegacyRecordBatch) derives the base
            # from the LAST inner record's relative offset — after log
            # compaction inner relatives have gaps, so `wrapper - (n-1)`
            # would mis-place every record but the last.
            base = offset - inner[-1]["offset"] if inner and magic == 1 else 0
            for r in inner:
                if magic == 1:
                    r["offset"] = base + r["offset"]
                if log_append_time:
                    r["timestamp_ms"] = ts
                out.append(r)
        else:
            out.append(
                {"offset": offset, "timestamp_ms": ts, "key": key, "value": value}
            )
        pos += 12 + size
    return out


def decode_message_sets_v01_many(bufs: list[bytes]):
    """Columnar ``[decode_message_set_v01(b) for b in bufs]`` — returns
    (offsets, ts_ms, keys, values, set_counts): per record an int64 numpy
    offset, an int64 Arrow timestamp (null where the scalar decoder
    gives ``None``) and ``pa.binary()`` keys and values gathered from
    the message bytes, plus the per-buf record count as a list; records
    in the scalar decoder's order (value-identical, pinned by tests). The
    size-chained boundary walk stays scalar (each message's position
    depends on the previous size) but touches only 12 bytes per message;
    every interior field, the CRC verify batch, and the v1
    relative-offset fixups run over ALL messages at once (guide §4.2),
    replacing the per-message dict construction that dominated the
    scalar ingest path. Raises ``ValueError`` on the same malformed sets
    as the scalar decoder: the walk bounds each message by its set, and
    one vectorized comparison bounds every timestamp, key and value by
    its message."""
    import numpy as np
    import pyarrow as pa

    segs: list[bytes] = []            # backing buffers (outer + inflated)
    # one row per plain message: (seg_idx, offset, msg_start, msg_size)
    rows: list[tuple[int, int, int, int]] = []
    stamp_ts: list[int | None] = []   # LOG_APPEND_TIME wrapper stamp
    rel_base: list[int | None] = []   # v1 inner relative-offset base
    set_counts: list[int] = []
    from_bytes = int.from_bytes
    append_row = rows.append
    append_stamp = stamp_ts.append
    append_base = rel_base.append

    def walk(buf: bytes, si: int, stamp) -> int:
        n_here = 0
        pos = 0
        blen = len(buf)
        while pos < blen:
            size = from_bytes(buf[pos + 8 : pos + 12], "big", signed=True)
            if not _V01_MIN_SIZE <= size <= blen - pos - 12:
                raise ValueError(_V01_SET_ERR)
            start = pos + 12
            attributes = buf[start + 5]
            codec_id = attributes & 0x07
            if codec_id:
                # wrapper message: verify its own CRC here (one per
                # compressed set), decompress, recurse
                offset = from_bytes(buf[pos : pos + 8], "big", signed=True)
                magic = buf[start + 4]
                msg = buf[start : start + size]
                crc = from_bytes(msg[:4], "big")
                if zlib.crc32(msg[4:]) & 0xFFFFFFFF != crc:
                    raise ValueError("CRC32 mismatch")
                mpos = 6
                wts = None
                if magic == 1:
                    if size < _V01_MIN_SIZE + 8:
                        raise ValueError(_V01_FIELD_ERR)
                    wts = from_bytes(msg[6:14], "big", signed=True)
                    mpos += 8
                klen = from_bytes(msg[mpos : mpos + 4], "big", signed=True)
                mpos += 4
                if klen >= 0:
                    if mpos + klen + 4 > size:
                        raise ValueError(_V01_FIELD_ERR)
                    mpos += klen
                vlen = from_bytes(msg[mpos : mpos + 4], "big", signed=True)
                mpos += 4
                if vlen < 0:
                    raise ValueError(
                        "compressed wrapper message with null value"
                    )
                if mpos + vlen > size:
                    raise ValueError(_V01_FIELD_ERR)
                value = bytes(msg[mpos : mpos + vlen])
                payload = (
                    decode_kafka_lz4(value)
                    if codec_id == COMPRESSION_LZ4
                    else _decompress(codec_id, value)
                )
                log_append = magic == 1 and (attributes >> 3) & 1
                inner_stamp = wts if log_append else None
                # v1 inner offsets are relative; the base derives from
                # the LAST inner record (AbstractLegacyRecordBatch — not
                # wrapper-(n-1), which breaks on compaction gaps), so
                # fix the recursion's rows up after it returns
                i0 = len(rows)
                segs.append(payload)
                n_inner = walk(payload, len(segs) - 1, inner_stamp)
                if n_inner and magic == 1:
                    b = offset - rows[-1][1]
                    for j in range(i0, i0 + n_inner):
                        rel_base[j] = b
                n_here += n_inner
            else:
                append_row(
                    (
                        si,
                        from_bytes(buf[pos : pos + 8], "big", signed=True),
                        start,
                        size,
                    )
                )
                append_stamp(stamp)
                append_base(None)
                n_here += 1
            pos += 12 + size
        return n_here

    for buf in bufs:
        buf = bytes(buf)
        segs.append(buf)
        set_counts.append(walk(buf, len(segs) - 1, None))

    n = len(rows)
    if n == 0:
        empty = pa.array([], pa.binary())
        return np.zeros(0, np.int64), pa.array([], pa.int64()), empty, empty, set_counts
    msg_buf, msg_off, msg_start, msg_size = zip(*rows)

    # concatenate the backing buffers once (a message never spans two);
    # all fixed-width fields gather vectorized off the one byte array
    seg_base: list[int] = []
    acc = 0
    for b in segs:
        seg_base.append(acc)
        acc += len(b)
    # 8 zero bytes of tail padding keep every length read below inside
    # the array, even for a v1 message too short for its timestamp
    big = b"".join(segs + [bytes(8)])
    arr = np.frombuffer(big, dtype=np.uint8)
    starts = np.fromiter(
        (seg_base[si] + st for si, st in zip(msg_buf, msg_start)), np.int64, n
    )
    sizes = np.asarray(msg_size, dtype=np.int64)

    def be(starts_, width, signed=True):
        b = arr[starts_[:, None] + np.arange(width)]
        dt = (">i8" if width == 8 else ">i4") if signed else ">u4"
        return np.ascontiguousarray(b).view(dt).ravel().astype(np.int64)

    crc_field = be(starts, 4, signed=False)
    magic = arr[starts + 4].astype(np.int64)
    ts_w = np.where(magic >= 1, 8, 0)
    room = sizes - _V01_MIN_SIZE - ts_w  # bytes left for key and value
    klen = be(starts + 6 + ts_w, 4)
    # a key running past the message is clamped here and rejected below
    kbytes = np.minimum(np.maximum(klen, 0), np.maximum(room, 0))
    vlen_start = starts + 10 + ts_w + kbytes
    vlen = be(vlen_start, 4)
    vbytes = np.maximum(vlen, 0)
    ts_vals = np.zeros(n, dtype=np.int64)
    m1 = magic == 1
    if m1.any():
        ts_vals[m1] = be(starts[m1] + 6, 8)

    # CRC verify: one C zlib call per message over the body slice
    mv = memoryview(big)
    got = np.fromiter(
        (
            zlib.crc32(mv[s:e])
            for s, e in zip((starts + 4).tolist(), (starts + sizes).tolist())
        ),
        np.int64,
        n,
    )
    if (got != crc_field).any():
        raise ValueError("CRC32 mismatch")
    if (np.maximum(klen, 0) + vbytes > room).any():
        raise ValueError(_V01_FIELD_ERR)

    keys = _binary_array(arr, starts + 10 + ts_w, klen)
    values = _binary_array(arr, vlen_start + 4, vlen)
    has_stamp = np.fromiter((t is not None for t in stamp_ts), bool, n)
    ts = np.where(
        has_stamp, np.fromiter((t or 0 for t in stamp_ts), np.int64, n), ts_vals
    )
    offs = np.asarray(msg_off, dtype=np.int64) + np.fromiter(
        (b or 0 for b in rel_base), np.int64, n
    )
    ts = pa.array(ts, pa.int64(), mask=~(has_stamp | m1))
    return offs, ts, keys, values, set_counts
