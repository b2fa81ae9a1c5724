"""Consumer-group offset semantics tests, mirroring
GroupMetadataManagerTest (latest-wins recovery) and offset expiry."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from starlight_for_kafka_spark.operators import groups


def test_committed_offsets_latest_wins(spark):
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("g1", "t", 0, 5, "", t0),
        ("g1", "t", 0, 9, "", t0 + datetime.timedelta(seconds=10)),  # winner
        ("g1", "t", 0, 7, "", t0 + datetime.timedelta(seconds=5)),
        ("g1", "t", 1, 3, "", t0),
        ("g2", "t", 0, 1, "", t0),
    ]
    commits = spark.createDataFrame(
        rows, "group string, topic string, partition int, offset long, metadata string, commit_ts timestamp"
    )
    out = {
        (r.group, r.topic, r.partition): r.offset
        for r in groups.committed_offsets(commits).collect()
    }
    assert out == {("g1", "t", 0): 9, ("g1", "t", 1): 3, ("g2", "t", 0): 1}


def test_committed_offsets_tie_broken_by_offset(spark):
    t0 = datetime.datetime(2024, 1, 1)
    commits = spark.createDataFrame(
        [("g", "t", 0, 5, "", t0), ("g", "t", 0, 8, "", t0)],
        "group string, topic string, partition int, offset long, metadata string, commit_ts timestamp",
    )
    assert groups.committed_offsets(commits).first().offset == 8


def test_expiry_then_compaction(spark):
    t0 = datetime.datetime(2024, 1, 1)
    commits = spark.createDataFrame(
        [("g", "t", 0, 5, "", t0), ("g", "t", 0, 9, "", t0 + datetime.timedelta(days=8))],
        "group string, topic string, partition int, offset long, metadata string, commit_ts timestamp",
    )
    fresh = groups.expire_offsets(commits, t0 + datetime.timedelta(days=1))
    assert groups.committed_offsets(fresh).count() == 1
    assert groups.committed_offsets(fresh).first().offset == 9


def test_group_introspection_on_events(events):
    commits = groups.derive_commits_from_events(events)
    listed = {r.group for r in groups.list_groups(commits).collect()}
    assert listed == {"g0", "g1", "g2", "g3"}
    desc = {r.group: r for r in groups.describe_groups(commits).collect()}
    assert all(d.n_topics == 1 for d in desc.values())
    remaining = groups.list_groups(groups.delete_group(commits, "g0")).count()
    assert remaining == 3


def test_consumer_lag(events, log):
    commits = groups.derive_commits_from_events(events)
    lag = groups.consumer_lag(commits, log.latest_offsets())
    assert lag.filter(F.col("lag").isNull()).count() == 0
    # committed offsets are event_ids (can exceed partition length); lag is
    # just the arithmetic — check one row against hand computation
    r = lag.filter((F.col("group") == "g1") & (F.col("partition") == 1)).first()
    assert r.lag == r.log_end_offset - r.offset - 1


def test_recover_group_state_rejoin_and_empty(spark):
    from starlight_for_kafka_spark.operators import groups as g
    import datetime

    t = datetime.datetime(2024, 1, 1)

    def ev(i):
        return t + datetime.timedelta(seconds=i)

    rows = [
        # g0: m1 joins, leaves, rejoins -> live; generation counts all 3
        ("g0", "m1", "join", ev(1), 1),
        ("g0", "m1", "leave", ev(2), 2),
        ("g0", "m1", "join", ev(3), 3),
        # g1: single member joins then leaves -> Empty
        ("g1", "m2", "join", ev(1), 4),
        ("g1", "m2", "leave", ev(2), 5),
        # g2: heartbeats only -> live member, generation 0
        ("g2", "m3", "heartbeat", ev(1), 6),
    ]
    m = spark.createDataFrame(
        rows, "group string, member string, action string, ts timestamp, event_id long"
    )
    out = {r.group: r for r in g.recover_group_state(m).collect()}
    assert out["g0"].state == "Stable" and out["g0"].n_members == 1
    assert out["g0"].generation == 3
    assert out["g1"].state == "Empty" and out["g1"].n_members == 0
    assert out["g2"].state == "Stable" and out["g2"].generation == 0
    members = {(r.group, r.member) for r in g.list_members(m).collect()}
    assert members == {("g0", "m1"), ("g2", "m3")}


def test_compact_topic_tombstone_deletes_key(spark):
    from starlight_for_kafka_spark.operators import ktable as kt
    from pyspark.sql import functions as F

    rows = [
        # (partition, key, value, offset): k1 updated then tombstoned;
        # k2 lives; k1 in another partition unaffected
        (0, "k1", "v1", 0),
        (0, "k1", "v2", 1),
        (0, "k1", None, 2),
        (0, "k2", "v3", 3),
        (1, "k1", "v4", 0),
    ]
    log = spark.createDataFrame(
        rows, "partition int, key string, value string, offset long"
    )
    out = {(r.partition, r.key): r.value for r in kt.compact_topic(log).collect()}
    assert out == {(0, "k2"): "v3", (1, "k1"): "v4"}


def test_salted_join_equals_plain_join(spark, events):
    from starlight_for_kafka_spark.operators.skew import salted_join

    # fact: events keyed by user_id; dim: one row per user with a tag
    dim = events.select("user_id").distinct().withColumn(
        "tag", (F.col("user_id") % 5).cast("int")
    )
    plain = events.select("event_id", "user_id").join(dim, ["user_id"]).select(
        "event_id", "user_id", "tag"
    )
    salted = salted_join(
        events.select("event_id", "user_id"), dim, ["user_id"], n_salts=8
    ).select("event_id", "user_id", "tag")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # left join with a filtered dim keeps unmatched fact rows exactly once
    dim_half = dim.filter(F.col("user_id") % 2 == 0)
    lplain = events.select("event_id", "user_id").join(dim_half, ["user_id"], "left")
    lsalted = salted_join(
        events.select("event_id", "user_id"), dim_half, ["user_id"], n_salts=8, how="left"
    )
    assert lsalted.count() == lplain.count()
    assert (
        lsalted.filter(F.col("tag").isNull()).count()
        == lplain.filter(F.col("tag").isNull()).count()
    )


def _members_df(spark, spec):
    # spec: {group: [member, ...]}
    rows = [(g, m) for g, ms in spec.items() for m in ms]
    return spark.createDataFrame(rows, ["group", "member"])


def _parts_df(spark, spec):
    # spec: {topic: n_partitions}
    rows = [(t, p) for t, n in spec.items() for p in range(n)]
    return spark.createDataFrame(rows, ["topic", "partition"])


def test_assign_range_matches_kafka_semantics(spark):
    from starlight_for_kafka_spark.operators.groups import assign_partitions_range

    members = _members_df(spark, {"g": ["c1", "c2", "c3"]})
    parts = _parts_df(spark, {"t": 8})
    out = {
        (r.topic, r.partition): r.member
        for r in assign_partitions_range(members, parts).collect()
    }
    # 8 partitions / 3 members: quotas 3,3,2 in contiguous ranges
    assert out == {
        ("t", 0): "c1", ("t", 1): "c1", ("t", 2): "c1",
        ("t", 3): "c2", ("t", 4): "c2", ("t", 5): "c2",
        ("t", 6): "c3", ("t", 7): "c3",
    }


def test_assign_range_more_members_than_partitions(spark):
    from starlight_for_kafka_spark.operators.groups import assign_partitions_range

    members = _members_df(spark, {"g": ["c1", "c2", "c3"]})
    parts = _parts_df(spark, {"t": 2})
    out = {
        (r.topic, r.partition): r.member
        for r in assign_partitions_range(members, parts).collect()
    }
    assert out == {("t", 0): "c1", ("t", 1): "c2"}


def test_assign_roundrobin_deals_circularly(spark):
    from starlight_for_kafka_spark.operators.groups import (
        assign_partitions_roundrobin,
    )

    members = _members_df(spark, {"g": ["c1", "c2", "c3"]})
    parts = _parts_df(spark, {"a": 2, "b": 3})
    out = {
        (r.topic, r.partition): r.member
        for r in assign_partitions_roundrobin(members, parts).collect()
    }
    # sorted order: (a,0) (a,1) (b,0) (b,1) (b,2)
    assert out == {
        ("a", 0): "c1", ("a", 1): "c2",
        ("b", 0): "c3", ("b", 1): "c1", ("b", 2): "c2",
    }


def test_assignors_cover_every_partition_exactly_once(spark):
    from starlight_for_kafka_spark.operators.groups import (
        assign_partitions_range,
        assign_partitions_roundrobin,
    )

    members = _members_df(spark, {"g1": ["m1", "m2"], "g2": ["m1", "m2", "m3"]})
    parts = _parts_df(spark, {"t1": 5, "t2": 1})
    for fn in (assign_partitions_range, assign_partitions_roundrobin):
        rows = fn(members, parts).collect()
        for g in ("g1", "g2"):
            got = sorted((r.topic, r.partition) for r in rows if r.group == g)
            assert got == [("t1", 0), ("t1", 1), ("t1", 2), ("t1", 3), ("t1", 4), ("t2", 0)]


def test_reset_offsets_supersedes_group_history(spark, events, log):
    import datetime

    from starlight_for_kafka_spark.operators.groups import (
        committed_offsets,
        derive_commits_from_events,
        reset_offsets,
    )

    commits = derive_commits_from_events(events)
    positions = log.earliest_offsets()
    reset = reset_offsets(
        commits, positions, "g1", datetime.datetime(2030, 1, 1)
    )
    compacted = committed_offsets(reset)
    g1 = {r.partition: r.offset for r in compacted.filter(F.col("group") == "g1").collect()}
    # g1 now sits at earliest (0) on every partition it has positions for
    assert g1 and all(off == 0 for off in g1.values())
    # other groups unchanged
    before = committed_offsets(commits).filter(F.col("group") != "g1")
    after = compacted.filter(F.col("group") != "g1")
    assert sorted(map(tuple, before.collect())) == sorted(map(tuple, after.collect()))


def test_committed_offsets_tombstone_removes_key(spark):
    import datetime

    from starlight_for_kafka_spark.operators.groups import committed_offsets

    t = datetime.datetime
    rows = [
        # key A: commit then tombstone (latest) -> gone
        ("g", "t", 0, 5, "m", t(2024, 1, 1), False),
        ("g", "t", 0, 9, "m", t(2024, 1, 2), True),
        # key B: tombstone then commit (latest) -> resurrected
        ("g", "t", 1, 3, "m", t(2024, 1, 1), True),
        ("g", "t", 1, 8, "m", t(2024, 1, 2), False),
    ]
    commits = spark.createDataFrame(
        rows,
        "group string, topic string, partition int, offset long, "
        "metadata string, commit_ts timestamp, tombstone boolean",
    )
    out = {r.partition: r.offset
           for r in committed_offsets(commits, tombstone_col="tombstone").collect()}
    assert out == {1: 8}
    # without tombstone handling both keys survive (back-compat)
    assert {r.partition for r in committed_offsets(commits).collect()} == {0, 1}


def test_sticky_assignor_balance_and_stickiness(spark):
    from pyspark.sql import functions as F

    members = spark.createDataFrame(
        [("g", m) for m in ["m1", "m2", "m3"]], "group string, member string"
    )
    old_members = spark.createDataFrame(
        [("g", m) for m in ["m1", "m2", "m3", "m4"]], "group string, member string"
    )
    parts = spark.createDataFrame(
        [("t", p) for p in range(10)], "topic string, partition int"
    )
    prior = groups.assign_partitions_roundrobin(old_members, parts)
    out = groups.assign_partitions_sticky(members, parts, prior)
    rows = out.collect()
    # every partition assigned exactly once
    assert sorted((r.topic, r.partition) for r in rows) == [("t", p) for p in range(10)]
    # balance: 10 partitions / 3 members → counts {4, 3, 3}
    counts = out.groupBy("member").count().collect()
    assert sorted(r["count"] for r in counts) == [3, 3, 4]
    # stickiness: every partition a surviving member owned before is kept
    prior_live = {(r.topic, r.partition): r.member
                  for r in prior.collect() if r.member != "m4"}
    now = {(r.topic, r.partition): r.member for r in rows}
    moved = [k for k, v in prior_live.items() if now[k] != v]
    assert moved == [], f"partitions moved off surviving owners: {moved}"


def test_sticky_assignor_no_prior_is_balanced(spark):
    members = spark.createDataFrame(
        [("g", m) for m in ["a", "b"]], "group string, member string"
    )
    parts = spark.createDataFrame(
        [("t", p) for p in range(5)], "topic string, partition int"
    )
    empty_prior = spark.createDataFrame(
        [], "group string, topic string, partition int, member string"
    )
    out = groups.assign_partitions_sticky(members, parts, empty_prior)
    counts = {r.member: r["count"] for r in out.groupBy("member").count().collect()}
    assert sorted(counts.values()) == [2, 3]
    assert out.count() == 5


def test_reset_offsets_is_per_topic(spark):
    import datetime

    from starlight_for_kafka_spark.operators.groups import (
        committed_offsets,
        reset_offsets,
    )

    ts = datetime.datetime(2024, 1, 1)
    commits = spark.createDataFrame(
        [
            ("g1", "t1", 0, 100, "x", ts),
            ("g1", "t2", 0, 200, "x", ts),
            ("g2", "t1", 0, 300, "x", ts),
        ],
        "group string, topic string, partition int, offset long, metadata string, commit_ts timestamp",
    )
    positions = spark.createDataFrame([(0, 5)], "partition int, offset long")
    reset = reset_offsets(
        commits, positions, "g1", datetime.datetime(2030, 1, 1), topic="t1"
    )
    got = {
        (r.group, r.topic, r.partition): r.offset
        for r in committed_offsets(reset).collect()
    }
    # t1 rewound; g1's OTHER topic and other groups untouched
    assert got[("g1", "t1", 0)] == 5
    assert got[("g1", "t2", 0)] == 200
    assert got[("g2", "t1", 0)] == 300


def test_cooperative_assignor_two_phases(spark):
    from pyspark.sql import functions as F

    members = spark.createDataFrame(
        [("g", m) for m in ["m1", "m2", "m3"]], "group string, member string"
    )
    old_members = spark.createDataFrame(
        [("g", m) for m in ["m1", "m2", "m3", "m4"]], "group string, member string"
    )
    parts = spark.createDataFrame(
        [("t", p) for p in range(10)], "topic string, partition int"
    )
    prior = groups.assign_partitions_roundrobin(old_members, parts)
    out = groups.assign_partitions_cooperative(members, parts, prior)
    p1 = {(r.topic, r.partition): r.member for r in out.collect() if r.phase == 1}
    p2 = {(r.topic, r.partition): r.member for r in out.collect() if r.phase == 2}
    sticky = {(r.topic, r.partition): r.member
              for r in groups.assign_partitions_sticky(members, parts, prior).collect()}
    assert p2 == sticky                      # phase 2 IS the sticky target
    assert len(p1) == 10 and len(p2) == 10
    prior_owner = {(r.topic, r.partition): r.member for r in prior.collect()}
    for k, m in p1.items():
        if m is None:
            # revoked in flight: target moves it between surviving members
            assert prior_owner[k] in ("m1", "m2", "m3") and sticky[k] != prior_owner[k]
        else:
            # no revocation needed: unowned (ghost's) or staying put
            assert prior_owner[k] == "m4" or prior_owner[k] == m
            assert m == sticky[k]


def test_static_membership_rejoin_does_not_bump_generation(spark):
    """KIP-345: s1's second join (while active) must not rebalance; d1's
    identical pattern must. A static leave is an admin removal (bumps),
    and a join after removal is a new incarnation (bumps)."""
    import datetime

    from starlight_for_kafka_spark.operators import groups as g

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for i, (member, inst, action) in enumerate(
        [
            ("mA", "s1", "join"),    # static first join -> bump
            ("mB", None, "join"),    # dynamic join -> bump
            ("mC", "s1", "join"),    # static REJOIN (new ephemeral id) -> no bump
            ("mB", None, "join"),    # dynamic rejoin -> bump
            ("mC", "s1", "leave"),   # admin removal -> bump
            ("mD", "s1", "join"),    # join after removal -> bump
        ]
    ):
        rows.append(("g0", member, action, t0 + datetime.timedelta(seconds=i), i))
    mem = spark.createDataFrame(
        rows, "group string, member string, action string, ts timestamp, event_id long"
    ).withColumn(
        "instance_id",
        F.when(F.col("member") != "mB", F.lit("s1")),
    )
    out = g.recover_group_state_static(mem).collect()[0]
    assert out.generation == 5  # all but the rejoin-while-active
    # identities: s1 (live, static) + mB (live, dynamic)
    assert (out.n_members, out.n_static, out.state) == (2, 1, "Stable")


def test_offset_fetch_stable_semantics(spark):
    """KIP-447 require_stable: open txn -> unstable+withheld; aborts never
    materialize; abort-only partitions vanish; plain+committed win latest."""
    import datetime

    from starlight_for_kafka_spark.operators import groups as g

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        # partition 0: plain then committed txn -> latest committed wins
        ("g1", "t", 0, 10, t0, "none"),
        ("g1", "t", 0, 20, t0 + datetime.timedelta(seconds=1), "commit"),
        # partition 1: committed then OPEN -> unstable, offset withheld
        ("g1", "t", 1, 5, t0, "commit"),
        ("g1", "t", 1, 9, t0 + datetime.timedelta(seconds=1), "open"),
        # partition 2: only aborts -> absent
        ("g1", "t", 2, 7, t0, "abort"),
        # partition 3: abort after commit -> abort discarded, commit stands
        ("g1", "t", 3, 3, t0, "commit"),
        ("g1", "t", 3, 8, t0 + datetime.timedelta(seconds=1), "abort"),
        # other group ignored
        ("g2", "t", 0, 99, t0, "commit"),
    ]
    commits = spark.createDataFrame(
        rows,
        "group string, topic string, partition int, offset long, "
        "commit_ts timestamp, txn_status string",
    )
    out = {r.partition: r for r in g.offset_fetch_stable(commits, "g1").collect()}
    assert out[0].offset == 20 and out[0].unstable is False
    assert out[1].offset is None and out[1].unstable is True
    assert 2 not in out
    assert out[3].offset == 3 and out[3].unstable is False


def test_describe_group_full_includes_zero_assignment_members(spark):
    """When a group has more live members than partitions, the members
    with no partitions still appear in the DESCRIBE_GROUPS response with
    an empty assignment (real Kafka returns them; r2 ADVICE fix)."""
    import datetime

    from starlight_for_kafka_spark.operators.groups import describe_group_full

    t0 = datetime.datetime(2024, 1, 1)
    membership = spark.createDataFrame(
        [("g", m, t0, i, "join") for i, m in enumerate(["c1", "c2", "c3"])],
        "group string, member string, ts timestamp, event_id long, action string",
    )
    parts = spark.createDataFrame([("t", 0), ("t", 1)], "topic string, partition int")
    rows = {r.member: r for r in describe_group_full(membership, parts).collect()}
    assert set(rows) == {"c1", "c2", "c3"}
    assert rows["c3"].n_partitions == 0
    assert rows["c3"].first_partition is None and rows["c3"].last_partition is None
    assert rows["c1"].n_partitions == 1 and rows["c2"].n_partitions == 1
    assert all(r.state == "Stable" for r in rows.values())


def _rebalance_timeline(spark):
    """GroupCoordinatorTest-shaped timeline (ms offsets from t0):

    g1: m1 join@0 opens the group's FIRST window (InitialDelayedJoin —
        never completes early), m2 join@4s coalesces into it, a
        heartbeat@12s crosses the 10s deadline and closes it (gen 1,
        {m1,m2}); late joiner m3@20s opens a NEW window, m1@21s and
        m2@22s rejoin -> all known rejoined -> DelayedJoin completes
        EARLY (gen 2, {m1,m2,m3}).
    g2: m1 join@0, heartbeat@15s closes (gen 1, {m1}); m1 leave@20s
        leaves nobody to await -> completes immediately (gen 2, Empty).
    g3: m1 join@0 and nothing else -> still PreparingRebalance, gen 0.
    """
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = []

    def ev(group, member, action, ms, eid):
        rows.append(
            (group, member, action, t0 + datetime.timedelta(milliseconds=ms), eid)
        )

    ev("g1", "m1", "join", 0, 0)
    ev("g1", "m2", "join", 4_000, 1)
    ev("g1", "m1", "heartbeat", 12_000, 2)
    ev("g1", "m3", "join", 20_000, 3)
    ev("g1", "m1", "join", 21_000, 4)
    ev("g1", "m2", "join", 22_000, 5)
    ev("g2", "m1", "join", 0, 6)
    ev("g2", "m1", "heartbeat", 15_000, 7)
    ev("g2", "m1", "leave", 20_000, 8)
    ev("g3", "m1", "join", 0, 9)
    return spark.createDataFrame(
        rows, "group string, member string, action string, ts timestamp, event_id long"
    )


def test_rebalance_window_coalesces_joins_and_completes_early(spark):
    """DelayedJoin admission-window semantics (GroupCoordinator.java:
    1113-1123): joins during PreparingRebalance coalesce into ONE
    generation bump; a later rebalance completes early once every known
    member has rejoined; generation 0 always waits out the window."""
    from starlight_for_kafka_spark.operators.groups import (
        recover_group_state_rebalance,
    )

    out = {
        r.group: r
        for r in recover_group_state_rebalance(
            _rebalance_timeline(spark), rebalance_timeout_ms=10_000
        ).collect()
    }
    g1 = out["g1"]
    assert (g1.generation, g1.state, g1.members) == (2, "Stable", "m1,m2,m3")
    g2 = out["g2"]
    assert (g2.generation, g2.state, g2.n_members) == (2, "Empty", 0)
    g3 = out["g3"]
    assert (g3.generation, g3.state, g3.n_rejoining) == (0, "PreparingRebalance", 1)


def test_select_group_protocol_vote_and_intersection(spark):
    from starlight_for_kafka_spark.operators.groups import select_group_protocol

    members = spark.createDataFrame(
        [
            # g1: candidates = {range, sticky} (roundrobin isn't common);
            # m1/m3's first candidate is sticky, m2's is range (its own
            # roundrobin preference isn't a candidate) -> sticky wins 2:1
            ("g1", "m1", ["sticky", "range"]),
            ("g1", "m2", ["roundrobin", "range", "sticky"]),
            ("g1", "m3", ["sticky", "range", "roundrobin"]),
            # g2: tie 1:1 between range and sticky -> lexicographic 'range'
            ("g2", "m1", ["range", "sticky"]),
            ("g2", "m2", ["sticky", "range"]),
            # g3: no common protocol -> no row
            ("g3", "m1", ["range"]),
            ("g3", "m2", ["sticky"]),
            # g4: m1 lists 'range' TWICE — duplicate entries are one unit
            # of support, so range still isn't common (m2 never lists it)
            # and the only common protocol is sticky
            ("g4", "m1", ["range", "range", "sticky"]),
            ("g4", "m2", ["sticky"]),
        ],
        "group string, member string, protocols array<string>",
    )
    out = {r.group: (r.protocol, r.votes) for r in select_group_protocol(members).collect()}
    assert out["g1"] == ("sticky", 2)
    assert out["g2"] == ("range", 1)   # deterministic tie-break
    assert "g3" not in out
    assert out["g4"] == ("sticky", 2)  # duplicate 'range' doesn't fake support


def test_offsets_wire_tombstone_removes_key(spark):
    """A commit whose LATEST record is a wire tombstone (null value)
    disappears from the recovered view; earlier tombstones are superseded
    by later commits — byte-level twin of the typed tombstone test."""
    ts = datetime.datetime(2024, 1, 1)

    def t(sec):
        return ts + datetime.timedelta(seconds=sec)

    commits = spark.createDataFrame(
        [
            ("g0", "t", 0, 10, "a", t(1), False),
            ("g0", "t", 0, 11, "b", t(2), True),   # latest for (g0,t,0): tomb
            ("g0", "t", 1, 20, "c", t(1), True),
            ("g0", "t", 1, 21, "d", t(2), False),  # commit after tombstone wins
        ],
        "group string, topic string, partition int, offset long, "
        "metadata string, commit_ts timestamp, tomb boolean",
    )
    recs = groups.encode_offsets_topic(commits, tombstone_col="tomb")
    out = {
        (r.group, r.topic, r.partition): r
        for r in groups.recover_offsets_from_wire(recs).collect()
    }
    assert ("g0", "t", 0) not in out
    assert out[("g0", "t", 1)].offset == 21
    assert out[("g0", "t", 1)].metadata == "d"
    assert out[("g0", "t", 1)].leader_epoch == 0
    assert out[("g0", "t", 1)].value_version == 3


def test_mixed_offsets_topic_routes_by_key_version(spark):
    """A real __consumer_offsets dump interleaves offset-commit records and
    group-metadata records; each decoder must process its own kind and
    skip the other (the broker's doLoadGroupsAndOffsets routing)."""
    ts = datetime.datetime(2024, 1, 1)
    commits = spark.createDataFrame(
        [("g0", "t", 0, 5, "m", ts, False)],
        "group string, topic string, partition int, offset long, "
        "metadata string, commit_ts timestamp, tomb boolean",
    )
    offset_recs = groups.encode_offsets_topic(commits, tombstone_col="tomb")
    members = spark.createDataFrame(
        [("g0", 3, "consumer", "range", "m1", "m1", None, "c", "/h", 1, 2,
          bytearray(b"s"), bytearray(b"a"))],
        "group string, generation int, protocol_type string, protocol string, "
        "leader string, member_id string, group_instance_id string, "
        "client_id string, client_host string, rebalance_timeout_ms int, "
        "session_timeout_ms int, subscription binary, assignment binary",
    )
    group_recs = groups.encode_group_metadata_records(members).withColumn(
        "append_ts", F.lit(0).cast("long")
    )
    mixed = offset_recs.unionByName(group_recs)
    offsets = groups.recover_offsets_from_wire(mixed).collect()
    assert len(offsets) == 1 and offsets[0].offset == 5
    mems = groups.decode_group_metadata_records(mixed).collect()
    assert len(mems) == 1 and mems[0].member_id == "m1" and mems[0].generation == 3


def test_encode_group_metadata_records_custom_group_col(spark):
    """The group_col parameter must actually work: a renamed group column
    encodes the same record bytes as the default name."""
    base = [(3, "consumer", "range", "m1", "m1", None, "c", "/h", 1, 2,
             bytearray(b"s"), bytearray(b"a"))]
    schema_tail = (
        "generation int, protocol_type string, protocol string, "
        "leader string, member_id string, group_instance_id string, "
        "client_id string, client_host string, rebalance_timeout_ms int, "
        "session_timeout_ms int, subscription binary, assignment binary"
    )
    default = spark.createDataFrame(
        [("g0",) + base[0]], "group string, " + schema_tail
    )
    renamed = spark.createDataFrame(
        [("g0",) + base[0]], "grp_name string, " + schema_tail
    )
    a = groups.encode_group_metadata_records(default).collect()
    b = groups.encode_group_metadata_records(renamed, group_col="grp_name").collect()
    assert len(a) == len(b) == 1
    assert bytes(a[0].key) == bytes(b[0].key)
    assert bytes(a[0].value) == bytes(b[0].value)


def test_offsets_topic_arrow_kernels_match_scalar_codec_on_edges(spark):
    """encode_offsets_topic and decode_offsets_topic against the scalar
    offsets codec, row for row and in order, on one task that receives
    several Arrow batches (two rows each): value versions 1 and 3, a
    tombstone, a NULL tombstone flag, NULL and empty metadata, a
    non-ASCII group, a pre-1970 commit, group-metadata keys with and
    without a value, a NULL append_ts; each schema, nullability
    included, as the pandas kernels declared it; an empty input gives no
    rows."""
    from pyspark.sql import types as T

    from starlight_for_kafka_spark.functions import offsets_wire as ow
    from starlight_for_kafka_spark.plans import local_frame

    rows = [
        ("g0", "t", 0, 10, "a", 1_700_000_000_000, False),
        ("g0", "t", 1, 11, None, 1_700_000_000_500, False),
        ("grp-é", "topic", 7, 12, "", 1_700_000_001_000, True),
        ("g1", "t", 2, 2**40, "m" * 300, 1_700_000_002_000, None),
        ("g2", "u", 0, 0, "z", -5, False),
    ]
    commits = local_frame(
        spark, rows,
        "group string, topic string, partition int, offset long, metadata string, "
        "ms long, tomb boolean",
    ).withColumn("commit_ts", F.timestamp_millis("ms")).coalesce(1)
    records_schema = T.StructType([
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("append_ts", T.LongType()),
    ])
    decoded_fields = [
        T.StructField(n, t) for n, t in [
            ("kind", T.StringType()), ("group", T.StringType()),
            ("topic", T.StringType()), ("partition", T.IntegerType()),
            ("offset", T.LongType()), ("metadata", T.StringType()),
            ("commit_ts_ms", T.LongType()), ("expire_ts_ms", T.LongType()),
            ("leader_epoch", T.IntegerType()), ("value_version", T.IntegerType()),
            ("tombstone", T.BooleanType()),
        ]
    ]

    def expected_decode(key, value, append_ts):
        k = ow.decode_key(key)
        if k["kind"] != "offset":
            row = (k["kind"], k["group"]) + (None,) * 8 + (value is None,)
        else:
            v = ow.decode_offset_value(value)
            row = ("offset", k["group"], k["topic"], k["partition"]) + (
                (None,) * 6 + (True,) if v is None else
                (v["offset"], v["metadata"], v["commit_timestamp_ms"],
                 v["expire_timestamp_ms"], v["leader_epoch"], v["version"], False)
            )
        return row + (append_ts,)

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        for key_version, value_version in ((1, 3), (0, 1)):
            recs = groups.encode_offsets_topic(
                commits, key_version, value_version, leader_epoch=4,
                tombstone_col="tomb", expire_after_ms=1000,
            )
            assert recs.schema == records_schema
            got = [(bytes(r.key), None if r.value is None else bytes(r.value), r.append_ts)
                   for r in recs.collect()]
            want = [
                (ow.encode_offset_key(g, t, p, key_version),
                 None if tomb else
                 ow.encode_offset_value(o, m, ms, version=1, expire_timestamp_ms=ms + 1000)
                 if value_version == 1 else
                 ow.encode_offset_value(o, m, ms, version=value_version, leader_epoch=4),
                 ms)
                for g, t, p, o, m, ms, tomb in rows
            ]
            assert got == want

            wire_rows = want + [
                (ow.encode_group_metadata_key("g9"), b"opaque", 7),
                (ow.encode_group_metadata_key("g9"), None, None),
                (ow.encode_offset_key("g3", "t", 1, key_version), None, None),
            ]
            wire_df = local_frame(spark, wire_rows, records_schema).coalesce(1)
            decoded = groups.decode_offsets_topic(wire_df)
            assert decoded.schema == T.StructType(
                decoded_fields + [T.StructField("append_ts", T.LongType())]
            )
            assert [tuple(r) for r in decoded.collect()] == [
                expected_decode(*r) for r in wire_rows
            ]
            bare = groups.decode_offsets_topic(wire_df.drop("append_ts"))
            assert bare.schema == T.StructType(decoded_fields)
            assert [tuple(r) for r in bare.collect()] == [
                expected_decode(*r)[:-1] for r in wire_rows
            ]
    finally:
        spark.conf.set(conf, saved)

    assert groups.encode_offsets_topic(commits.limit(0)).collect() == []
    assert groups.decode_offsets_topic(local_frame(spark, [], records_schema)).collect() == []
