"""Log-semantics tests mirroring the reference's protocol tests:
offset density/ordering (KafkaMessageOrderKafkaTest), LIST_OFFSETS
(KafkaRequestHandler.java:1279-1623), truncate (DELETE_RECORDS), append
continuation, validation (KopLogValidator)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from starlight_for_kafka_spark.sources import LogTable, validate_records


def test_offsets_dense_per_partition(log):
    # per partition: offsets are exactly 0..n-1 (dense assignment,
    # KopLogValidator.buildRecordsAndAssignOffsets)
    check = log.df.groupBy("partition").agg(
        F.min("offset").alias("lo"),
        F.max("offset").alias("hi"),
        F.count("*").alias("n"),
        F.countDistinct("offset").alias("nd"),
    )
    for r in check.collect():
        assert r.lo == 0
        assert r.hi == r.n - 1
        assert r.nd == r.n


def test_offset_order_follows_arrival_order(log, events):
    # within a partition, offset order == event_id (arrival) order
    joined = log.df.withColumn("uid", F.col("key").cast("string").cast("long"))
    rows = joined.filter(F.col("partition") == 3).orderBy("offset").collect()
    arrivals = [
        r.event_id
        for r in events.filter(F.col("user_id") % 8 == 3).orderBy("event_id").collect()
    ]
    assert len(rows) == len(arrivals)


def test_fetch_range(log):
    out = log.fetch(partition=1, start_offset=5, max_records=10).collect()
    assert [r.offset for r in out] == sorted(r.offset for r in out)
    assert all(5 <= r.offset < 15 for r in out)
    assert len(out) <= 10


def test_fetch_out_of_range_returns_empty(log):
    hwm = {r.partition: r.offset for r in log.latest_offsets().collect()}
    assert log.fetch(partition=0, start_offset=hwm[0] + 100).count() == 0


def test_list_offsets(log):
    earliest = {r.partition: r.offset for r in log.earliest_offsets().collect()}
    latest = {r.partition: r.offset for r in log.latest_offsets().collect()}
    counts = {
        r.partition: r["count"]
        for r in log.df.groupBy("partition").count().collect()
    }
    for p, n in counts.items():
        assert earliest[p] == 0
        assert latest[p] == n  # log-end offset = max+1 = count (dense)


def test_offsets_for_times(log):
    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    result = {r.partition: r.offset for r in log.offsets_for_times(ts).collect()}
    # oracle: min offset among records with timestamp >= ts
    oracle = {
        r.partition: r.o
        for r in log.df.filter(F.col("timestamp") >= F.lit(ts))
        .groupBy("partition")
        .agg(F.min("offset").alias("o"))
        .collect()
    }
    assert result == oracle
    # first-offset-at-or-after-time must itself have ts >= query ts
    sample = log.df.filter((F.col("partition") == 0)).orderBy("offset")
    off0 = result.get(0)
    if off0 is not None:
        row = sample.filter(F.col("offset") == off0).first()
        assert row.timestamp >= ts


def test_truncate_before(log):
    truncated = log.truncate_before(10)
    assert truncated.df.filter(F.col("offset") < 10).count() == 0
    per_part = truncated.earliest_offsets().collect()
    assert all(r.offset == 10 for r in per_part)


def test_append_continues_offsets(spark, log):
    hwm_before = {r.partition: r.offset for r in log.latest_offsets().collect()}
    new = spark.createDataFrame(
        [
            (b"900", b"x", None, datetime.datetime(2025, 1, 1), 0),
            (b"901", b"y", None, datetime.datetime(2025, 1, 2), 0),
            (b"902", b"z", None, datetime.datetime(2025, 1, 3), 5),
        ],
        "key binary, value binary, headers array<struct<key:string,value:binary>>, timestamp timestamp, partition int",
    )
    appended = log.append(new)
    hwm_after = {r.partition: r.offset for r in appended.latest_offsets().collect()}
    assert hwm_after[0] == hwm_before[0] + 2
    assert hwm_after[5] == hwm_before[5] + 1
    # appended rows got consecutive offsets at the tail
    tail = (
        appended.df.filter((F.col("partition") == 0) & (F.col("offset") >= hwm_before[0]))
        .orderBy("offset")
        .collect()
    )
    assert [r.value for r in tail] == [b"x", b"y"]


def test_append_to_empty_partition_starts_at_zero(spark, log):
    new = spark.createDataFrame(
        [(b"1", b"v", None, datetime.datetime(2025, 1, 1), 99)],
        "key binary, value binary, headers array<struct<key:string,value:binary>>, timestamp timestamp, partition int",
    )
    appended = log.append(new)
    row = appended.df.filter(F.col("partition") == 99).first()
    assert row.offset == 0


def test_validate_records_compacted_requires_key(spark):
    df = spark.createDataFrame(
        [(b"k", b"v", datetime.datetime(2024, 1, 1)), (None, b"v", datetime.datetime(2024, 1, 1))],
        "key binary, value binary, timestamp timestamp",
    )
    out = validate_records(df, compacted=True)
    errs = [r._error for r in out.orderBy(F.col("key").desc_nulls_last()).collect()]
    assert errs[0] is None and errs[1] is not None


def test_roundtrip_write_read(tmp_path, spark, log):
    path = str(tmp_path / "log")
    log.write(path)
    back = LogTable.read(spark, path)
    assert back.df.count() == log.df.count()
    # hash-match the full content (M0 end-to-end check)
    def content_hash(df):
        return (
            df.select(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("key").cast("string"),
                        F.col("value").cast("string"),
                        F.col("partition").cast("string"),
                        F.col("offset").cast("string"),
                    )
                ).alias("h")
            )
            .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")))
            .first()[0]
        )

    assert content_hash(back.df) == content_hash(log.df)


def test_retain_bytes_keeps_newest_within_budget(spark):
    from starlight_for_kafka_spark.sources.logtable import KAFKA_RECORD_SCHEMA

    rows = []
    for p in (0, 1):
        for off in range(5):
            rows.append((None, bytes([0]) * 10, None, None, p, off))
    df = spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA)
    kept = LogTable(df).retain_bytes(25).df
    out = sorted((r.partition, r.offset) for r in kept.collect())
    # 25-byte budget over 10-byte records keeps the newest 2 per partition
    assert out == [(0, 3), (0, 4), (1, 3), (1, 4)]


def test_retain_bytes_always_keeps_newest_record(log):
    kept = log.retain_bytes(1).df  # budget smaller than any single record
    latest = {r.partition: r.offset for r in log.latest_offsets().collect()}
    got = sorted((r.partition, r.offset) for r in kept.collect())
    assert got == sorted((p, o - 1) for p, o in latest.items())


def test_migrate_from_preserves_order_and_density(log):
    src = log
    dst = LogTable(log.df.filter(F.col("offset") < 10))
    merged, mapping = dst.migrate_from(src)
    # mapping covers every source record, shift is the dst watermark (10)
    m = mapping.collect()
    assert len(m) == src.df.count()
    assert all(r.offset_shift == 10 for r in m)
    assert all(r.dst_offset == r.src_offset + 10 for r in m)
    # merged log is dense per partition
    hwm = {r.partition: r.high_watermark for r in merged.high_watermarks().collect()}
    counts = {r.partition: r["count"] for r in merged.df.groupBy("partition").count().collect()}
    assert hwm == counts
    dup = (
        merged.df.groupBy("partition", "offset").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0


def test_compression_transcode_roundtrip(tmp_path, spark, log):
    """Compression transcode analog (KopLogValidator.getSourceCodec/
    getTargetCodec, utils/KopLogValidator.java:495-510): at rest the codec
    is a storage property; transcoding = rewrite under a different codec
    with identical logical content."""
    src = str(tmp_path / "zstd_log")
    dst = str(tmp_path / "snappy_log")
    spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
    log.write(src)
    relay = LogTable.read(spark, src)
    spark.conf.set("spark.sql.parquet.compression.codec", "snappy")
    relay.write(dst)
    spark.conf.set("spark.sql.parquet.compression.codec", "snappy")
    out = LogTable.read(spark, dst)
    a = sorted((r.partition, r.offset, bytes(r.value or b"")) for r in log.df.collect())
    b = sorted((r.partition, r.offset, bytes(r.value or b"")) for r in out.df.collect())
    assert a == b
    import glob
    assert any(f.endswith(".zstd.parquet") or "zstd" in f for f in glob.glob(src + "/**/*.parquet", recursive=True))
    assert any("snappy" in f for f in glob.glob(dst + "/**/*.parquet", recursive=True))


def test_retain_bytes_kept_set_is_contiguous_tail(log):
    """Size retention must behave like head-truncation: for any budget the
    kept offsets are a contiguous suffix of each partition's log."""
    for budget in (1, 100, 300, 10_000):
        kept = log.retain_bytes(budget).df
        stats = kept.groupBy("partition").agg(
            F.min("offset").alias("lo"),
            F.max("offset").alias("hi"),
            F.count("*").alias("n"),
        )
        latest = {r.partition: r.offset for r in log.latest_offsets().collect()}
        for r in stats.collect():
            assert r.hi - r.lo + 1 == r.n, (budget, r)   # contiguous
            assert r.hi == latest[r.partition] - 1, (budget, r)  # ends at tail


def test_fetch_max_bytes_bounds_response(log):
    full = log.fetch(1, 0).collect()
    # max.bytes counts whole records (key + value), like Kafka's budgets
    sizes = {
        r.offset: len(bytes(r.key or b"")) + len(bytes(r.value or b""))
        for r in full
    }
    got = sorted(r.offset for r in log.fetch(1, 0, max_bytes=100).collect())
    # prefix of offsets, cumulative size within budget (except a lone first)
    assert got == list(range(len(got))) and got
    assert sum(sizes[o] for o in got) <= 100 or len(got) == 1
    # adding the next record would blow the budget
    nxt = len(got)
    if nxt in sizes:
        assert sum(sizes[o] for o in got) + sizes[nxt] > 100
    # a 1-byte budget still serves exactly the first record
    tiny = log.fetch(1, 0, max_bytes=1).collect()
    assert [r.offset for r in tiny] == [0]


@pytest.fixture(scope="module")
def at_rest(tmp_path_factory, spark, log):
    """The fixture log written partitioned by ``partition`` and read back:
    the shape fetches see at rest (partition directories to prune)."""
    path = str(tmp_path_factory.mktemp("at_rest") / "log")
    log.write(path)
    return LogTable.read(spark, path)


def test_fetch_max_bytes_runs_without_exchange(at_rest, log):
    """The fetch filter selects one log partition, so the budget's
    running sum runs in one Spark partition: no shuffle in the plan."""
    from starlight_for_kafka_spark.plans.inspect import exchange_count

    out = at_rest.fetch(1, 0, max_bytes=100)
    assert exchange_count(out) == 0
    got = [r.offset for r in out.collect()]
    assert got == [r.offset for r in log.fetch(1, 0, max_bytes=100).collect()]


def test_compact_segments_reduces_files_preserves_content(tmp_path, spark, log):
    path = str(tmp_path / "fragmented")
    # simulate a microbatch-per-file producer: many tiny files per partition
    (
        log.df.repartition(48)
        .write.mode("overwrite")
        .partitionBy("partition")
        .parquet(path)
    )
    before_hash = sorted(
        (r.partition, r.offset, bytes(r.value or b""))
        for r in LogTable.read(spark, path).df.collect()
    )
    stats = LogTable.compact_segments(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert stats["files_after"] < stats["files_before"]
    after = LogTable.read(spark, path)
    after_hash = sorted(
        (r.partition, r.offset, bytes(r.value or b"")) for r in after.df.collect()
    )
    assert after_hash == before_hash
    # fetch still partition-prunes on the compacted layout
    got = after.fetch(partition=2, start_offset=0).count()
    want = sum(1 for p, _, _ in before_hash if p == 2)
    assert got == want


def test_max_timestamp_offsets(log):
    got = {r.partition: (r.offset, r.timestamp) for r in log.max_timestamp_offsets().collect()}
    for p, (off, ts) in got.items():
        part = log.df.filter(F.col("partition") == p)
        max_ts = part.agg(F.max("timestamp")).first()[0]
        min_off = (
            part.filter(F.col("timestamp") == max_ts).agg(F.min("offset")).first()[0]
        )
        assert (off, ts) == (min_off, max_ts)


def test_describe_log_bounds(log):
    from starlight_for_kafka_spark.sources.logtable import describe_log

    rows = {r.partition: r for r in describe_log(log.df).collect()}
    latest = {r.partition: r.offset for r in log.latest_offsets().collect()}
    for p, r in rows.items():
        assert r.log_start_offset == 0
        assert r.log_end_offset == latest[p] == r.n_records
        assert r.record_bytes > 0 and r.earliest_ts <= r.latest_ts


def test_append_to_empty_log_starts_at_zero(spark):
    from starlight_for_kafka_spark.sources.logtable import KAFKA_RECORD_SCHEMA

    empty = LogTable(spark.createDataFrame([], KAFKA_RECORD_SCHEMA))
    batch = spark.createDataFrame(
        [(None, b"v%d" % i, None, None, i % 2) for i in range(6)],
        "key binary, value binary, headers array<struct<key:string,value:binary>>, "
        "timestamp timestamp, partition int",
    )
    out = empty.append(batch).df
    got = sorted((r.partition, r.offset) for r in out.collect())
    # dense offsets from 0 in every partition — the empty-watermark case
    assert got == [(0, 0), (0, 1), (0, 2), (1, 0), (1, 1), (1, 2)]
    # and appending again continues the sequence
    again = LogTable(out).append(batch).df
    hw = {r.partition: r.high_watermark
          for r in LogTable(again).high_watermarks().collect()}
    assert hw == {0: 6, 1: 6}


def test_compact_segments_splits_oversized_partition(tmp_path, spark):
    import glob

    from starlight_for_kafka_spark.sources.logtable import KAFKA_RECORD_SCHEMA

    import hashlib

    def blob(seed: int, n: int) -> bytes:  # incompressible, deterministic
        out = b""
        h = hashlib.md5(str(seed).encode()).digest()
        while len(out) < n:
            h = hashlib.md5(h).digest()
            out += h
        return out[:n]

    rows = []
    for off in range(40):
        rows.append((None, blob(off, 20_000), None, None, 0, off))  # ~800KB
    for off in range(5):
        rows.append((None, b"tiny", None, None, 1, off))
    path = str(tmp_path / "log")
    LogTable(spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA)).write(path)

    report = LogTable.compact_segments(spark, path, target_file_bytes=64 * 1024)
    big = glob.glob(f"{path}/partition=0/*.parquet")
    small = glob.glob(f"{path}/partition=1/*.parquet")
    assert len(big) >= 2, "oversized partition must split into multiple files"
    assert len(small) >= 1
    back = LogTable.read(spark, path)
    assert back.df.count() == 45
    # offsets intact and each file internally sorted with disjoint ranges
    offs = sorted(r.offset for r in back.df.filter("partition = 0").collect())
    assert offs == list(range(40))
    ranges = []
    for f in big:
        pdf = spark.read.parquet(f).select("offset").collect()
        o = [r.offset for r in pdf]
        assert o == sorted(o)
        ranges.append((min(o), max(o)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "segment offset ranges must be disjoint"
    assert report["files_after"] >= report["files_before"] - 100  # sanity


def test_fetch_multi_apportions_one_response_budget(log):
    """The response budget fills in request order: the first-requested
    partition drains first; later partitions get what remains; the greedy
    sequential fill is exactly reproduced."""
    from starlight_for_kafka_spark.sources.logtable import record_size

    reqs = [(3, 5), (0, 0), (6, 2)]
    budget = 3000
    got = sorted(
        (r.ridx, r.partition, r.offset)
        for r in log.fetch_multi(reqs, budget).collect()
    )
    # replay greedily on the driver
    cand = []
    for i, (p, so) in enumerate(reqs):
        for r in (
            log.df.filter((F.col("partition") == p) & (F.col("offset") >= so))
            .withColumn("sz", record_size())
            .select("offset", "sz")
            .collect()
        ):
            cand.append((i, p, r.offset, r.sz))
    cand.sort()
    expect, cum = [], 0
    for i, p, o, sz in cand:
        cum += sz
        if cum <= budget or not expect:
            expect.append((i, p, o))
    assert got == sorted(expect) and got
    # the budget actually cut somewhere (apportioning exercised)
    assert len(got) < len(cand)
    # request order honored: a later request only has rows if the earlier
    # request's candidate set was fully admitted
    served = {i for i, _, _ in got}
    for i in range(1, len(reqs)):
        if i in served:
            n_before = sum(1 for c in cand if c[0] == i - 1)
            assert sum(1 for g in got if g[0] == i - 1) == n_before


def test_fetch_multi_first_record_guarantee(log):
    """A budget smaller than any single record still returns exactly the
    response's first record — progress, never a wedged consumer."""
    out = log.fetch_multi([(4, 7), (2, 0)], response_max_bytes=1).collect()
    assert len(out) == 1
    r = out[0]
    assert r.ridx == 0 and r.partition == 4 and r.offset == 7


def test_fetch_multi_rejects_duplicate_partitions(log):
    """A partition listed twice would double its rows through the request
    broadcast join and interleave the per-partition running sums across
    both request indexes, silently corrupting the byte budget — reject
    loudly (Kafka: INVALID_REQUEST)."""
    with pytest.raises(ValueError, match="duplicate partition"):
        log.fetch_multi([(2, 0), (4, 7), (2, 5)], response_max_bytes=10_000)


def test_fetch_multi_overflowing_partition_blocks_later_ones(spark):
    """A dropped row's bytes still count toward the response budget: the
    response is a PREFIX of the request-ordered candidate stream, never a
    skip-scan — if partition A only partially fits, partition B must NOT
    be served out of the gap (regression: the old per-partition prefilter
    removed overflow rows' bytes from the running sum)."""
    rows = [
        # partition 7: two 2000-byte values; partition 8: one 500-byte
        (7, 0, b"k", b"x" * 1999),
        (7, 1, b"k", b"y" * 1999),
        (8, 0, b"k", b"z" * 499),
    ]
    df = spark.createDataFrame(
        [(p, o, bytearray(k), bytearray(v), None, []) for p, o, k, v in rows],
        "partition int, offset long, key binary, value binary, "
        "timestamp timestamp, headers array<struct<key:string,value:binary>>",
    )
    lt = LogTable(df)
    got = sorted(
        (r.ridx, r.partition, r.offset)
        for r in lt.fetch_multi([(7, 0), (8, 0)], response_max_bytes=3000).collect()
    )
    # cum: 2000 (admit), 4000 (reject), 4500 (reject) -> only the first row
    assert got == [(0, 7, 0)]
    # and the first-record guarantee still holds under a tiny budget
    got2 = sorted(
        (r.ridx, r.partition, r.offset)
        for r in lt.fetch_multi([(7, 1), (8, 0)], response_max_bytes=1).collect()
    )
    assert got2 == [(0, 7, 1)]


def test_fetch_multi_list_request_prunes_partitions(at_rest, log, jobs_run_by):
    """A Python request list becomes literal ``partition IN (...)`` and
    ``offset >=`` predicates, so the log scans prune to the requested
    partition directories; the request prefix window also flags the
    first partition, so a small fetch runs at most 6 jobs."""
    from starlight_for_kafka_spark.plans.inspect import partition_filters

    reqs = [(3, 5), (0, 0), (6, 2)]
    out = at_rest.fetch_multi(reqs, 3000)
    assert any("partition" in f and " IN (" in f for f in partition_filters(out))
    rows = []
    n = jobs_run_by(lambda: rows.extend(out.collect()), "fetch-multi-jobs")
    assert n <= 6, f"fetch_multi ran {n} Spark jobs, expected at most 6"
    expect = log.fetch_multi(reqs, 3000).collect()
    got = sorted((r.ridx, r.partition, r.offset) for r in rows)
    assert got == sorted((r.ridx, r.partition, r.offset) for r in expect) and got
