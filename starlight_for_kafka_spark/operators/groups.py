"""Consumer-group semantics as tables.

Reference: the group coordinator stores commits in a compacted keyed log and
recovers state latest-wins (kafka-impl/.../coordinator/group/
GroupMetadataManager.java:415-429 storeOffsets, :718 doLoadGroupsAndOffsets;
key/value wire schemas GroupMetadataConstants.java:64-147; expiry
GroupMetadata.removeExpiredOffsets:624).

Spark-first: the commit log is an append-only DataFrame
(group, topic, partition, offset, metadata, commit_ts); every coordinator
read becomes a latest-wins aggregation — a single shuffle on the group key,
map-side combinable, no state machine required. The Structured Streaming
checkpoint plays the JOIN/SYNC/HEARTBEAT role (the engine, not the client,
owns assignment), so those APIs reduce to introspection queries here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from starlight_for_kafka_spark.functions import offsets_wire as ow
from starlight_for_kafka_spark.plans.kernels import kernel

COMMIT_COLUMNS = ["group", "topic", "partition", "offset", "metadata", "commit_ts"]


def derive_commits_from_events(
    events: DataFrame, n_groups: int = 4, n_partitions: int = 8
) -> DataFrame:
    """Deterministic synthetic offset-commit log from the events table
    (fixture F5): each event is a commit by group g{user_id % n_groups}
    for partition user_id % n_partitions at offset event_id."""
    return events.select(
        F.concat(F.lit("g"), (F.col("user_id") % n_groups).cast("string")).alias("group"),
        F.lit("events").alias("topic"),
        (F.col("user_id") % n_partitions).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("event_type").alias("metadata"),
        F.col("ts").alias("commit_ts"),
    )


def committed_offsets(
    commits: DataFrame, tombstone_col: str | None = None
) -> DataFrame:
    """OFFSET_FETCH / group recovery: latest commit per (group, topic,
    partition), ties broken by offset (reference replays the compacted log
    in order — last write wins, GroupMetadataManager.java:718).

    ``tombstone_col`` (boolean) enables Kafka's offsets-topic tombstone
    semantics: a tombstone is a *deletion marker* written on group removal
    or offset expiry (GroupMetadataManager appendForGroup with null value;
    replay path doLoadGroupsAndOffsets:718 `removedOffsets`), so a key
    whose LATEST record is a tombstone disappears from the compacted view.

    One shuffle on the composite key; at scale this is the same plan as the
    reference's recovery scan, but parallel over partitions.
    """
    w = Window.partitionBy("group", "topic", "partition").orderBy(
        F.col("commit_ts").desc(), F.col("offset").desc()
    )
    latest = commits.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    if tombstone_col is not None:
        latest = latest.filter(~F.coalesce(F.col(tombstone_col), F.lit(False)))
    return latest.drop("__rn").select(*COMMIT_COLUMNS)


def offset_fetch(commits: DataFrame, group: str) -> DataFrame:
    """OFFSET_FETCH for one group (KafkaRequestHandler.java:1130,
    GroupCoordinator.handleFetchOffsets:837)."""
    return committed_offsets(commits.filter(F.col("group") == group))


def expire_offsets(commits: DataFrame, min_commit_ts) -> DataFrame:
    """Offset retention sweep (GroupMetadata.removeExpiredOffsets:624):
    drop commits older than the retention horizon before compaction."""
    return commits.filter(F.col("commit_ts") >= F.lit(min_commit_ts))


def reset_offsets(
    commits: DataFrame,
    positions: DataFrame,
    group: str,
    reset_ts,
    topic: str = "events",
) -> DataFrame:
    """Offset reset (auto.offset.reset / kafka-consumer-groups
    --reset-offsets; exercised end-to-end by the reference's
    OffsetResetTest): replace one group's committed offsets with the given
    per-partition positions (earliest / latest / offsets-for-time — any
    LogTable LIST_OFFSETS result), leaving other groups untouched.

    Returns the new commit log: the target group's history is superseded by
    fresh commits stamped ``reset_ts`` (which must sort after the group's
    existing commits for latest-wins compaction to pick them — the same
    mechanism the broker uses: a reset IS a commit).

    The reset is PER-TOPIC, as kafka-consumer-groups' --reset-offsets is:
    only the target group's commits for the reset topic are superseded; the
    same group's other topics keep their history untouched.

    Scale: ``positions`` is num_partitions rows; the rewrite is a filter +
    tiny union, no shuffle of the commit log.
    """
    fresh = positions.select(
        F.lit(group).alias("group"),
        F.lit(topic).alias("topic"),
        F.col("partition").cast("int").alias("partition"),
        F.col("offset").cast("long").alias("offset"),
        F.lit("reset").alias("metadata"),
        F.lit(reset_ts).cast("timestamp").alias("commit_ts"),
    )
    kept = commits.filter((F.col("group") != group) | (F.col("topic") != topic))
    return kept.select(*COMMIT_COLUMNS).unionByName(fresh)


def list_groups(commits: DataFrame) -> DataFrame:
    """LIST_GROUPS (KafkaRequestHandler.java:2125)."""
    return commits.select("group").distinct()


def describe_groups(commits: DataFrame) -> DataFrame:
    """DESCRIBE_GROUPS-style introspection: per group, topics touched,
    partitions owned, last activity (GroupCoordinator.handleDescribeGroup:596)."""
    return commits.groupBy("group").agg(
        F.countDistinct("topic").alias("n_topics"),
        F.countDistinct("topic", "partition").alias("n_partitions"),
        F.max("commit_ts").alias("last_commit_ts"),
        F.count("*").alias("n_commits"),
    )


def delete_group(commits: DataFrame, group: str) -> DataFrame:
    """DELETE_GROUPS (KafkaRequestHandler.java:2161): tombstone the group —
    on a log table this is a filter; on Delta it would be a DELETE."""
    return commits.filter(F.col("group") != group)


def consumer_lag(commits: DataFrame, log_end_offsets: DataFrame) -> DataFrame:
    """Lag = log-end-offset − committed offset per (group, topic, partition).
    The ops query behind every Kafka lag exporter; broadcast the (small)
    end-offsets side."""
    committed = committed_offsets(commits)
    ends = log_end_offsets.select(
        "partition", F.col("offset").alias("log_end_offset")
    )
    return (
        committed.join(F.broadcast(ends), "partition", "left")
        .withColumn("lag", F.col("log_end_offset") - F.col("offset") - 1)
        .select("group", "topic", "partition", "offset", "log_end_offset", "lag")
    )


# --------------------------------------------------------------------- #
# membership state machine, recovered by log replay
# --------------------------------------------------------------------- #


def derive_membership_from_events(
    events: DataFrame, n_groups: int = 4, n_members: int = 24
) -> DataFrame:
    """Deterministic membership-event log from the events table (fixture):
    each event is a JOIN_GROUP / LEAVE_GROUP / HEARTBEAT by member
    m{user_id % n_members} in group g{user_id % n_groups}. n_members is a
    multiple of n_groups so a member always maps to one group."""
    action = (
        F.when(F.col("event_id") % 10 == 0, F.lit("leave"))
        .when(F.col("event_id") % 10 <= 2, F.lit("join"))
        .otherwise(F.lit("heartbeat"))
    )
    return events.select(
        F.concat(F.lit("g"), (F.col("user_id") % n_groups).cast("string")).alias("group"),
        F.concat(F.lit("m"), (F.col("user_id") % n_members).cast("string")).alias("member"),
        action.alias("action"),
        F.col("ts"),
        F.col("event_id"),
    )


def recover_group_state(membership: DataFrame) -> DataFrame:
    """Recover coordinator group state by replaying the membership log —
    the same latest-wins replay shape as offset recovery
    (GroupMetadataManager.doLoadGroupsAndOffsets:718).

    Semantics (batch projection of the state machine in
    GroupCoordinator.java:215-438 handleJoinGroup, :565-595
    handleLeaveGroup, :658-718 handleHeartbeat; states GroupState.java:21):
      * a member is live if its LAST event is not a leave
      * every join/leave triggers a rebalance, so generation = count of
        join+leave events (heartbeats never bump it)
      * state = Empty when no live members, else Stable (the transient
        PreparingRebalance/CompletingRebalance states exist only between
        requests — a batch replay always lands on a quiescent state,
        exactly like the reference's recovery path)

    Scale: one shuffle on (group, member) for the latest-event window, then
    group-level aggregates over member-counted rows; groups are tiny, so
    the final joins broadcast.
    """
    w = Window.partitionBy("group", "member").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last = (
        membership.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("group", "member", "action")
    )
    alive = (
        last.filter(F.col("action") != "leave")
        .groupBy("group")
        .agg(F.count("*").alias("n_members"))
    )
    gen = (
        membership.filter(F.col("action").isin("join", "leave"))
        .groupBy("group")
        .agg(F.count("*").alias("generation"))
    )
    groups = membership.select("group").distinct()
    return (
        groups.join(F.broadcast(gen), "group", "left")
        .join(F.broadcast(alive), "group", "left")
        .select(
            "group",
            F.coalesce(F.col("generation"), F.lit(0)).alias("generation"),
            F.coalesce(F.col("n_members"), F.lit(0)).alias("n_members"),
            F.when(F.coalesce(F.col("n_members"), F.lit(0)) == 0, F.lit("Empty"))
            .otherwise(F.lit("Stable"))
            .alias("state"),
        )
    )


def _ranked_members(members: DataFrame) -> DataFrame:
    """(group, member) → + midx (0-based rank by member id) + nm (group size).
    Kafka assignors sort member ids lexicographically before dealing out
    partitions; both assignors below share this ranking."""
    w = Window.partitionBy("group").orderBy("member")
    wc = Window.partitionBy("group")
    return (
        members.select("group", "member")
        .distinct()
        .withColumn("midx", F.row_number().over(w) - 1)
        .withColumn("nm", F.count("*").over(wc))
    )


def _ranked_partitions(partitions: DataFrame) -> DataFrame:
    wp = Window.partitionBy("topic").orderBy("partition")
    wc = Window.partitionBy("topic")
    return (
        partitions.select("topic", "partition")
        .distinct()
        .withColumn("pidx", F.row_number().over(wp) - 1)
        .withColumn("np", F.count("*").over(wc))
    )


def _global_partition_index(partitions: DataFrame) -> DataFrame:
    """Dense 0-based rank of every (topic, partition) in (topic, partition)
    order — the global deal order the round-robin and sticky assignors
    share. Computed as a TOPIC-SHARDED parallel prefix, not one
    unpartitioned window: per-topic local ranks run as independent windows
    (topic is the natural range shard — the global order is topic-major by
    construction), and the per-topic counts (#topics rows, control-plane)
    get a running offset broadcast back — the same sharded-prefix idiom as
    sampling.shuffle_rank / allocate_producer_ids, so a 10^5-partition
    estate never funnels through one task inside every rebalance."""
    p = partitions.select("topic", "partition").distinct()
    w = Window.partitionBy("topic").orderBy("partition")
    local = p.withColumn("__local", F.row_number().over(w))
    offsets = (
        local.groupBy("topic")
        .agg(F.count("*").alias("__n"))
        .withColumn(
            "__offset",
            F.coalesce(
                F.sum("__n").over(
                    Window.orderBy("topic").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("topic", "__offset")
    )
    return (
        local.join(F.broadcast(offsets), "topic")
        .withColumn("gidx", F.col("__offset") + F.col("__local") - 1)
        .drop("__local", "__offset")
    )


def assign_partitions_range(members: DataFrame, partitions: DataFrame) -> DataFrame:
    """Range assignor — the leader-side assignment computed during SYNC_GROUP
    (the reference stores whatever the elected leader uploads,
    GroupCoordinator.java:439-563; Kafka's default RangeAssignor is the
    protocol both sides agree on).

    Semantics (Kafka RangeAssignor): per topic, members sorted by id; with
    np partitions and nm members, each member gets floor(np/nm) partitions
    and the first np%nm members get one extra, in contiguous ranges.

    Scale: members and the per-topic partition lists are coordinator-scale
    tiny (thousands of rows); everything broadcasts, no large shuffle. The
    closed-form inverse (partition index → member index) avoids generating
    per-member ranges and exploding them.
    """
    m = _ranked_members(members)
    p = _ranked_partitions(partitions)
    groups = m.select("group", "nm").distinct()
    q = F.floor(F.col("np") / F.col("nm"))
    extra = F.col("np") % F.col("nm")
    head = (q + 1) * extra  # first `extra` members hold q+1 partitions each
    midx = F.when(F.col("pidx") < head, F.floor(F.col("pidx") / (q + 1))).otherwise(
        extra + F.floor((F.col("pidx") - head) / q)
    )
    assigned = p.crossJoin(F.broadcast(groups)).withColumn("midx", midx.cast("int"))
    return (
        assigned.join(F.broadcast(m), ["group", "midx", "nm"])
        .select("group", "topic", "partition", "member")
    )


def assign_partitions_roundrobin(members: DataFrame, partitions: DataFrame) -> DataFrame:
    """RoundRobin assignor: all (topic, partition) pairs sorted, dealt
    circularly to members sorted by id — evens out skew across topics that
    the range assignor concentrates on low-ranked members."""
    m = _ranked_members(members)
    p = _global_partition_index(partitions)
    groups = m.select("group", "nm").distinct()
    assigned = p.crossJoin(F.broadcast(groups)).withColumn(
        "midx", (F.col("gidx") % F.col("nm")).cast("int")
    )
    return (
        assigned.join(F.broadcast(m), ["group", "midx", "nm"])
        .select("group", "topic", "partition", "member")
    )


def assign_partitions_sticky(
    members: DataFrame, partitions: DataFrame, prior: DataFrame
) -> DataFrame:
    """Sticky assignor: balanced quotas with maximal retention of the
    previous generation's assignment (Kafka's StickyAssignor /
    CooperativeStickyAssignor target state under identical subscriptions —
    the constrained path; the reference admits whatever assignor the
    client leader negotiates, GroupCoordinator.java:215-438, so the
    leader-side computation is what this models).

    Deterministic rules (each one a documented tie-break so the verdict is
    SQL-replayable):
    - quotas: with P partitions and N live members, every member is
      allowed floor(P/N); the P mod N max-quota slots go to members with
      the MOST still-valid prior partitions (ties: member id asc) — the
      movement-minimizing choice;
    - retention: each member keeps its valid prior partitions in (topic,
      partition) order up to its allowance;
    - placement: partitions that are new, orphaned by departed members, or
      revoked over-quota are dealt in (topic, partition) order to members'
      remaining capacity in member-id order.

    Counts always land on floor(P/N) or ceil(P/N) (balance), and a member
    never loses a partition unless its quota demands it (stickiness).
    Coordinator-scale data: everything broadcasts, no large shuffle.
    """
    m = _ranked_members(members)
    p0 = _global_partition_index(partitions)
    np_total = p0.count()  # control-plane: partition table is tiny
    groups = m.select("group", "nm").distinct()
    p = p0.crossJoin(F.broadcast(groups)).withColumn("np", F.lit(np_total))

    # still-valid prior claims: live member + existing partition, deduped
    valid = (
        prior.select("group", "topic", "partition", "member")
        .join(F.broadcast(m.select("group", "member")), ["group", "member"])
        .join(F.broadcast(p0.select("topic", "partition")), ["topic", "partition"])
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("group", "topic", "partition").orderBy("member")
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    owned = valid.groupBy("group", "member").agg(F.count("*").alias("__owned"))
    quotas = (
        m.join(F.broadcast(owned), ["group", "member"], "left")
        .withColumn("__owned", F.coalesce(F.col("__owned"), F.lit(0)))
        .withColumn("__minq", F.floor(F.lit(np_total) / F.col("nm")))
        .withColumn("__extra", F.lit(np_total) % F.col("nm"))
        .withColumn(
            "__xrank",
            F.row_number().over(
                Window.partitionBy("group").orderBy(F.desc("__owned"), F.asc("member"))
            ),
        )
        .withColumn(
            "allowed",
            (F.col("__minq") + F.when(F.col("__xrank") <= F.col("__extra"), 1).otherwise(0)).cast("int"),
        )
        .select("group", "member", "midx", "allowed")
    )

    retained = (
        valid.join(F.broadcast(quotas), ["group", "member"])
        .withColumn(
            "__rr",
            F.row_number().over(
                Window.partitionBy("group", "member").orderBy("topic", "partition")
            ),
        )
        .filter(F.col("__rr") <= F.col("allowed"))
        .select("group", "topic", "partition", "member")
    )

    kept_counts = retained.groupBy("group", "member").agg(F.count("*").alias("__kept"))
    capacity = (
        quotas.join(F.broadcast(kept_counts), ["group", "member"], "left")
        .withColumn("__kept", F.coalesce(F.col("__kept"), F.lit(0)))
        .withColumn("__deficit", F.col("allowed") - F.col("__kept"))
        .withColumn(
            "__hi",
            F.sum("__deficit").over(
                Window.partitionBy("group").orderBy("midx").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        .withColumn("__lo", F.col("__hi") - F.col("__deficit"))
        .select("group", "member", "__lo", "__hi")
    )

    unassigned = (
        p.select("group", "topic", "partition")
        .join(
            F.broadcast(retained.select("group", "topic", "partition")),
            ["group", "topic", "partition"],
            "left_anti",
        )
        .withColumn(
            "__ur",
            F.row_number().over(Window.partitionBy("group").orderBy("topic", "partition")),
        )
    )
    filled = (
        unassigned.join(F.broadcast(capacity), "group")
        .filter((F.col("__ur") > F.col("__lo")) & (F.col("__ur") <= F.col("__hi")))
        .select("group", "topic", "partition", "member")
    )
    return retained.unionByName(filled)


def assign_partitions_cooperative(
    members: DataFrame, partitions: DataFrame, prior: DataFrame
) -> DataFrame:
    """CooperativeSticky assignor: same target assignment as
    :func:`assign_partitions_sticky`, delivered over TWO rebalances
    (KIP-429 incremental cooperative rebalancing — the client-side
    protocol Kafka Streams uses; the reference relays whatever the
    leader computes, GroupCoordinator.java:215-438).

    Phase 1 (this rebalance): a partition is assigned only when no
    revocation is needed — it is unowned (new, or its owner departed) or
    its target member already owns it. A partition MOVING between two
    surviving members is revoked first: it appears with a null member
    until the follow-up rebalance.
    Phase 2 (the follow-up): the full sticky target.

    Output: (group, topic, partition, member, phase) with phase ∈ {1, 2};
    null member marks a phase-1 revocation in flight.
    """
    target = assign_partitions_sticky(members, partitions, prior)
    live = members.select("group", "member").distinct()
    existing = partitions.select("topic", "partition").distinct()
    valid_owner = (
        prior.select("group", "topic", "partition", "member")
        .join(F.broadcast(live), ["group", "member"])
        .join(F.broadcast(existing), ["topic", "partition"])
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("group", "topic", "partition").orderBy("member")
            ),
        )
        .filter(F.col("__rn") == 1)
        .select("group", "topic", "partition", F.col("member").alias("__prior"))
    )
    phase1 = (
        target.join(F.broadcast(valid_owner), ["group", "topic", "partition"], "left")
        .select(
            "group",
            "topic",
            "partition",
            F.when(
                F.col("__prior").isNull() | (F.col("__prior") == F.col("member")),
                F.col("member"),
            ).alias("member"),
            F.lit(1).alias("phase"),
        )
    )
    phase2 = target.select(
        "group", "topic", "partition", "member", F.lit(2).alias("phase")
    )
    return phase1.unionByName(phase2)


def list_members(membership: DataFrame) -> DataFrame:
    """DESCRIBE_GROUPS member list: live members with their last-seen time
    (the coordinator's heartbeat bookkeeping, DelayedHeartbeat expiry —
    GroupCoordinator.java:658-718)."""
    w = Window.partitionBy("group", "member").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ts_ms = F.expr("unix_micros(ts) DIV 1000")
    ranked = membership.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__ms", ts_ms
    )
    last = ranked.filter(F.col("__rn") == 1).select("group", "member", "action")
    last_seen = ranked.groupBy("group", "member").agg(
        F.max("__ms").alias("last_seen_ms")
    )
    return (
        last.filter(F.col("action") != "leave")
        .join(last_seen, ["group", "member"])
        .select("group", "member", "last_seen_ms")
    )


def recover_group_state_static(
    membership: DataFrame, instance_col: str = "instance_id"
) -> DataFrame:
    """Group-state replay with KIP-345 STATIC MEMBERSHIP: members carrying
    ``group.instance.id`` keep one logical identity across process
    restarts, and a static member REJOINING while still registered does
    NOT trigger a rebalance (the coordinator swaps the ephemeral member id
    under the same identity — GroupCoordinator's static-member path; the
    whole point of KIP-345 is rolling restarts without assignment churn).

    Rebalance (generation-bump) rules replayed here:
      * dynamic join or leave                          → bump (classic)
      * static FIRST join, or join after a removal     → bump (new identity)
      * static rejoin while active (prev event = join) → NO bump
      * static leave                                   → bump (KIP-345 admin
        removal via LeaveGroup-with-instance-id; timeouts replay as leaves)

    Liveness is per logical identity (instance id when set, else member
    id), latest-wins — the same one-shuffle replay shape as
    :func:`recover_group_state`, plus one identity-keyed lag window over
    join/leave events only (heartbeats never enter the generation math).
    """
    ident = F.coalesce(F.col(instance_col), F.col("member"))
    m = membership.withColumn("__ident", ident).withColumn(
        "__static", F.col(instance_col).isNotNull()
    )
    w = Window.partitionBy("group", "__ident").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last = (
        m.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("group", "__ident", "__static", "action")
    )
    alive = (
        last.filter(F.col("action") != "leave")
        .groupBy("group")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.col("__static").cast("int")).alias("n_static"),
        )
    )
    jl = m.filter(F.col("action").isin("join", "leave"))
    wseq = Window.partitionBy("group", "__ident").orderBy("ts", "event_id")
    jl = jl.withColumn("__prev", F.lag("action").over(wseq))
    bump = (
        (~F.col("__static"))
        | (F.col("action") == "leave")
        | F.col("__prev").isNull()
        | (F.col("__prev") == "leave")
    )
    gen = jl.filter(bump).groupBy("group").agg(F.count("*").alias("generation"))
    groups = membership.select("group").distinct()
    return (
        groups.join(F.broadcast(gen), "group", "left")
        .join(F.broadcast(alive), "group", "left")
        .select(
            "group",
            F.coalesce(F.col("generation"), F.lit(0)).alias("generation"),
            F.coalesce(F.col("n_members"), F.lit(0)).alias("n_members"),
            F.coalesce(F.col("n_static"), F.lit(0)).alias("n_static"),
            F.when(F.coalesce(F.col("n_members"), F.lit(0)) == 0, F.lit("Empty"))
            .otherwise(F.lit("Stable"))
            .alias("state"),
        )
    )


def offset_fetch_stable(
    commits: DataFrame, group: str, status_col: str = "txn_status"
) -> DataFrame:
    """OFFSET_FETCH with ``require_stable=true`` (OffsetFetch v7+, KIP-447):
    transactional offset commits are PENDING until their transaction's
    marker lands — the reference parks them in
    GroupMetadata.prepareTxnOffsetCommit (:470) and only materializes on
    commit. Under require_stable a partition with an in-flight
    transactional commit answers UNSTABLE_OFFSET_COMMIT, not a possibly-
    about-to-change offset; aborted transactional commits are discarded
    outright.

    ``status_col``: 'none' (plain commit), 'commit'/'abort' (decided txn),
    'open' (undecided). Materialized offset = latest-wins (commit_ts,
    offset) over none+commit rows; partitions with ANY open commit are
    flagged ``unstable`` and their offset withheld (null); abort-only
    partitions vanish (nothing ever materialized).

    ONE aggregation pass — latest-wins via max(struct) and the unstable
    flag via a conditional max in the same groupBy, so the commit log is
    scanned once and shuffles once, with map-side partial aggregation.
    (A latest-view-JOIN-pending formulation scans twice and adds a join;
    at 100 TB the single partial-combining agg is strictly better.)
    """
    eligible = F.col(status_col).isin("none", "commit")
    agg = (
        commits.filter(F.col("group") == group)
        .groupBy("group", "topic", "partition")
        .agg(
            F.max(
                F.when(
                    eligible,
                    F.struct(
                        F.col("commit_ts").alias("ts"), F.col("offset").alias("o")
                    ),
                )
            ).alias("__latest"),
            F.max((F.col(status_col) == "open").cast("int")).alias("__open"),
        )
    )
    return (
        agg.filter((F.col("__open") == 1) | F.col("__latest").isNotNull())
        .select(
            "group", "topic", "partition",
            (F.col("__open") == 1).alias("unstable"),
            F.when(F.col("__open") == 1, F.lit(None))
            .otherwise(F.col("__latest.o"))
            .alias("offset"),
        )
    )


def describe_group_full(
    membership: DataFrame, partitions: DataFrame
) -> DataFrame:
    """DESCRIBE_GROUPS with per-member assignments — the full admin
    response a `kafka-consumer-groups --describe --members --verbose`
    issues (KafkaRequestHandler.java:2019 → GroupCoordinator.java:596-656
    attaches each member's assignment to the description): one row per
    live (group, member) with the group's recovered state/generation and
    the member's Range-assigned partition count + span.

    Composition of the replay operators this module already pins:
    recover_group_state × assign_partitions_range, joined group-keyed —
    the group table is tiny, everything broadcasts.
    """
    state = recover_group_state(membership)
    # only LIVE members receive assignments (a member whose last event is
    # a leave is out of the group — the same latest-wins filter every
    # replay here applies)
    w = Window.partitionBy("group", "member").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    live = (
        membership.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("action") != "leave"))
        .select("group", "member")
    )
    assigns = assign_partitions_range(live, partitions)
    per_member = assigns.groupBy("group", "member").agg(
        F.count("*").alias("n_partitions"),
        F.min("partition").alias("first_partition"),
        F.max("partition").alias("last_partition"),
    )
    # every LIVE member appears in the response — members beyond the
    # partition count (nm > np) get an explicitly EMPTY assignment, as
    # real Kafka returns them, so left-join from the live set rather than
    # building the output from assignment rows alone
    full = live.join(per_member, ["group", "member"], "left").select(
        "group", "member",
        F.coalesce("n_partitions", F.lit(0).cast("long")).alias("n_partitions"),
        "first_partition", "last_partition",
    )
    return (
        full.join(F.broadcast(state), "group")
        .select(
            "group", "member", "generation", "state",
            "n_partitions", "first_partition", "last_partition",
        )
    )


def recover_group_state_rebalance(
    membership: DataFrame, rebalance_timeout_ms: int = 60_000
) -> DataFrame:
    """Rebalance-window group recovery: the DelayedJoin admission-window
    semantics the simple ``recover_group_state`` replay flattens away
    (GroupCoordinator.java:1113-1123 — InitialDelayedJoin for a group's
    FIRST rebalance, DelayedJoin with all-members-rejoined early
    completion after; prepareRebalance :933, DelayedJoin.tryComplete via
    hasAllMembersJoined).

    Event-time automaton per group (events totally ordered by
    (ts, event_id)):

      * a join/leave against a quiescent group opens PreparingRebalance
        with deadline = ts + ``rebalance_timeout_ms``; the prior live
        members (minus a leaver) become the KNOWN set that must rejoin.
      * joins DURING the window are admitted into the SAME rebalance —
        no extra generation bump (the coalescing a per-event bump model
        cannot express).
      * the rebalance completes — generation += 1, members = rejoined
        set, state Stable (or Empty if nobody survived) — either EARLY
        when every known member has rejoined (DelayedJoin.tryComplete;
        disabled for generation 0, where InitialDelayedJoin always waits
        out the window so late first joiners can coalesce), or when the
        first event at/after the deadline arrives (event-time, so the
        replay is deterministic and engine-portable).
      * heartbeats only advance event time (they can close a window).

    A timeline that ends mid-rebalance reports state PreparingRebalance
    with the pre-rebalance generation — the transient state IS observable
    here, unlike the quiescent batch replay.

    Scale shape: identical to txn_state_machine — ONE shuffle on the
    group key, each group's bounded event list folds IN-ROW with a JVM
    higher-order aggregate; no Python in the loop.
    """
    # sort key is FULL-precision micros + event_id — the streaming twin
    # (pdf.sort_values(["ts","event_id"])) and the DuckDB oracle (ORDER BY
    # ts, event_id) replay in that order; millis here would let sub-ms
    # timestamp components reorder same-ms events differently across the
    # three implementations. Deadline math stays in millis (epoch_us//1000)
    # to match both twins bit-for-bit.
    seq = F.array_sort(
        F.collect_list(
            F.struct(
                F.unix_micros("ts").alias("ts_us"),
                F.col("event_id"),
                F.col("action").alias("a"),
                F.col("member").alias("m"),
            )
        )
    )

    empty_arr = F.array().cast("array<string>")

    def completed(acc):
        """The post-completion state (gen bump, rejoined become members)."""
        return F.struct(
            F.when(F.size(acc["rejoined"]) > 0, F.lit(2)).otherwise(F.lit(0)).alias("st"),
            (acc["gen"] + 1).alias("gen"),
            F.array_sort(acc["rejoined"]).alias("members"),
            empty_arr.alias("known"),
            empty_arr.alias("rejoined"),
            F.lit(None).cast("long").alias("deadline"),
        )

    def step(acc, e):
        a, m = e["a"], e["m"]
        ts_ms = F.floor(e["ts_us"] / F.lit(1000)).cast("long")
        # phase 1: an event at/after the deadline closes the open window
        timed_out = (
            (acc["st"] == 1)
            & acc["deadline"].isNotNull()
            & (ts_ms >= acc["deadline"])
        )
        acc = F.when(timed_out, completed(acc)).otherwise(acc)
        # phase 2: apply the event
        preparing = acc["st"] == 1
        is_member = F.array_contains(acc["members"], m)
        # join: open a window (known = current members) or admit into the
        # open one
        join_open = F.struct(
            F.lit(1).alias("st"),
            acc["gen"].alias("gen"),
            acc["members"].alias("members"),
            F.when(acc["st"] == 2, acc["members"]).otherwise(empty_arr).alias("known"),
            F.array(m).alias("rejoined"),
            (ts_ms + F.lit(rebalance_timeout_ms)).cast("long").alias("deadline"),
        )
        join_admit = F.struct(
            acc["st"].alias("st"),
            acc["gen"].alias("gen"),
            acc["members"].alias("members"),
            acc["known"].alias("known"),
            F.array_union(acc["rejoined"], F.array(m)).alias("rejoined"),
            acc["deadline"].alias("deadline"),
        )
        # leave: drop from the open window's books, or open a window the
        # remaining members must rejoin (ignore leaves of unknown members)
        leave_open = F.struct(
            F.lit(1).alias("st"),
            acc["gen"].alias("gen"),
            acc["members"].alias("members"),
            F.array_remove(acc["members"], m).alias("known"),
            empty_arr.alias("rejoined"),
            (ts_ms + F.lit(rebalance_timeout_ms)).cast("long").alias("deadline"),
        )
        leave_admit = F.struct(
            acc["st"].alias("st"),
            acc["gen"].alias("gen"),
            acc["members"].alias("members"),
            F.array_remove(acc["known"], m).alias("known"),
            F.array_remove(acc["rejoined"], m).alias("rejoined"),
            acc["deadline"].alias("deadline"),
        )
        nxt = (
            F.when((a == "join") & preparing, join_admit)
            .when(a == "join", join_open)
            .when((a == "leave") & preparing, leave_admit)
            .when((a == "leave") & is_member, leave_open)
            .otherwise(acc)
        )
        # phase 3: DelayedJoin early completion — every known member has
        # rejoined (subset test); InitialDelayedJoin (gen 0) always waits
        all_rejoined = F.forall(
            nxt["known"], lambda x: F.array_contains(nxt["rejoined"], x)
        )
        early = (nxt["st"] == 1) & (nxt["gen"] > 0) & all_rejoined
        return F.when(early, completed(nxt)).otherwise(nxt)

    init = F.struct(
        F.lit(0).alias("st"),
        F.lit(0).alias("gen"),
        F.array().cast("array<string>").alias("members"),
        F.array().cast("array<string>").alias("known"),
        F.array().cast("array<string>").alias("rejoined"),
        F.lit(None).cast("long").alias("deadline"),
    )
    folded = membership.groupBy("group").agg(F.aggregate(seq, init, step).alias("__m"))
    state_name = F.element_at(
        F.array(F.lit("Empty"), F.lit("PreparingRebalance"), F.lit("Stable")),
        F.col("__m.st") + 1,
    )
    return folded.select(
        "group",
        F.col("__m.gen").alias("generation"),
        state_name.alias("state"),
        F.size("__m.members").alias("n_members"),
        F.array_join(F.array_sort("__m.members"), ",").alias("members"),
        F.size("__m.rejoined").alias("n_rejoining"),
    )


def select_group_protocol(
    members: DataFrame,
    group_col: str = "group",
    member_col: str = "member",
    protocols_col: str = "protocols",
) -> DataFrame:
    """JOIN_GROUP protocol election (GroupMetadata.selectProtocol:361 /
    candidateProtocols:288, MemberMetadata.vote:150): the candidate set is
    the INTERSECTION of every member's supported protocols, each member
    votes for its first preference among the candidates, and the protocol
    with the most votes wins. The reference's tie-break is HashMap
    iteration order (unstable); this pins (votes desc, protocol asc) so
    the election is deterministic and engine-portable. A group with no
    common protocol emits no row — the coordinator's
    INCONSISTENT_GROUP_PROTOCOL rejection (supportsProtocols:296 refuses
    such a member at join time, so the state is unreachable there; here
    the input is a plain table, so it surfaces as absence).

    ``protocols`` is each member's list in PREFERENCE ORDER (position =
    vote priority). Emits (group, protocol, votes).

    Scale shape: every step is a group-keyed partial-combining aggregation
    over the exploded (member, position, protocol) table — member counts,
    per-protocol support counts, first-candidate votes (min struct), the
    tally, and a min-struct winner. No windows, no driver logic; a million
    groups elect in one pass.
    """
    m = members.select(group_col, member_col, protocols_col)
    # countDistinct, not count(*): duplicate (group, member) input rows
    # must not inflate the member count past what ``support`` (also
    # member-distinct) can ever reach, or the intersection test becomes
    # unsatisfiable and the group silently elects nothing.
    sizes = m.groupBy(group_col).agg(F.countDistinct(member_col).alias("__nm"))
    pos = m.select(
        group_col,
        member_col,
        F.posexplode(protocols_col).alias("pos", "protocol"),
    )
    # countDistinct, not count(*): a member listing a protocol twice must
    # contribute one unit of support, or the intersection test elects a
    # protocol some member never listed (each member's list is a SET in
    # MemberMetadata — duplicates are a client artifact, not extra votes).
    support = pos.groupBy(group_col, "protocol").agg(
        F.countDistinct(member_col).alias("__sup")
    )
    cands = (
        support.join(sizes, group_col)
        .filter(F.col("__sup") == F.col("__nm"))
        .select(group_col, "protocol")
    )
    votes = (
        pos.join(cands, [group_col, "protocol"])
        .groupBy(group_col, member_col)
        .agg(F.min(F.struct("pos", "protocol")).alias("__first"))
        .select(group_col, F.col("__first.protocol").alias("protocol"))
    )
    tally = votes.groupBy(group_col, "protocol").agg(F.count("*").alias("votes"))
    return (
        tally.groupBy(group_col)
        .agg(
            F.min(
                F.struct(
                    (-F.col("votes")).alias("nv"), F.col("protocol").alias("p")
                )
            ).alias("__w")
        )
        .select(
            group_col,
            F.col("__w.p").alias("protocol"),
            (-F.col("__w.nv")).alias("votes"),
        )
    )


# ---------------------------------------------------------------------------
# __consumer_offsets binary wire layer
# ---------------------------------------------------------------------------


_OFFSETS_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("append_ts", T.LongType()),
    ]
)

# what decode_offsets_topic returns, before its optional append_ts
_OFFSETS_DECODED_FIELDS = [
    T.StructField(name, typ)
    for name, typ in [
        ("kind", T.StringType()),
        ("group", T.StringType()),
        ("topic", T.StringType()),
        ("partition", T.IntegerType()),
        ("offset", T.LongType()),
        ("metadata", T.StringType()),
        ("commit_ts_ms", T.LongType()),
        ("expire_ts_ms", T.LongType()),
        ("leader_epoch", T.IntegerType()),
        ("value_version", T.IntegerType()),
        ("tombstone", T.BooleanType()),
    ]
]


def encode_offsets_topic(
    commits: DataFrame,
    key_version: int = 1,
    value_version: int = 3,
    leader_epoch: int = 0,
    tombstone_col: str | None = None,
    expire_after_ms: int = 86_400_000,
) -> DataFrame:
    """Serialize a typed commit log into the broker's __consumer_offsets
    at-rest binary records (versioned OffsetCommitKey/Value — reference
    GroupMetadataConstants.java:64-147, written by
    GroupMetadataManager.storeOffsets:415). Emits (key binary,
    value binary, append_ts long) rows; a tombstone row carries a NULL
    value, exactly the compaction deletion marker the broker writes on
    group delete / offset expiry.

    mapInArrow (byte-codec work, no JVM builtin — the same seam as the
    RecordBatch v2 wire layer in sources/wire.py): the kernel reads the
    Arrow batch's columns, runs the per-row codec and yields a
    ``pyarrow.RecordBatch``, with no pandas frame. Map-only: no shuffle;
    at 100 TB this parallelizes per input split.
    """
    cols = commits.select(
        "group",
        "topic",
        F.col("partition").cast("int").alias("partition"),
        F.col("offset").cast("long").alias("offset"),
        "metadata",
        (F.unix_micros(F.col("commit_ts")) / 1000).cast("long").alias("commit_ms"),
        (
            F.coalesce(F.col(tombstone_col), F.lit(False))
            if tombstone_col is not None
            else F.lit(False)
        ).alias("tomb"),
    )
    schema = to_arrow_schema(_OFFSETS_RECORD_SCHEMA)

    def op(batches):
        import pyarrow as pa

        for rb in batches:
            keys, values = [], []
            # through numpy: Array.to_pylist builds a pyarrow scalar per
            # element first, ~30x slower
            for group, topic, partition, offset, metadata, ms, tomb in zip(
                *(c.to_numpy(zero_copy_only=False).tolist() for c in rb.columns)
            ):
                keys.append(ow.encode_offset_key(group, topic, partition, key_version))
                if tomb:
                    values.append(None)
                elif value_version == 1:
                    values.append(
                        ow.encode_offset_value(
                            offset, metadata, ms, version=1,
                            expire_timestamp_ms=ms + expire_after_ms,
                        )
                    )
                else:
                    values.append(
                        ow.encode_offset_value(
                            offset, metadata, ms,
                            version=value_version, leader_epoch=leader_epoch,
                        )
                    )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(keys, pa.binary()),
                    pa.array(values, pa.binary()),
                    rb.column("commit_ms"),
                ],
                schema=schema,
            )

    return cols.mapInArrow(kernel(op, ow), _OFFSETS_RECORD_SCHEMA)


def decode_offsets_topic(records: DataFrame) -> DataFrame:
    """Parse __consumer_offsets (key, value) binary records back into the
    typed commit-log columns — the broker's recovery path
    (GroupMetadataManager.doLoadGroupsAndOffsets:718 routes by key version,
    treats null values as removals). Group-metadata keys (version 2) are
    passed through with kind='group_metadata' and a null offset so callers
    can route them like the broker does; offset keys decode fully.

    Map-only mapInArrow kernel (the per-row codec over the Arrow batch's
    ``key`` and ``value`` columns, no pandas frame); emits (kind, group,
    topic, partition, offset, metadata, commit_ts_ms, expire_ts_ms,
    leader_epoch, value_version, tombstone), plus ``append_ts`` passed
    through when the input has it."""
    has_append_ts = "append_ts" in records.columns
    fields = list(_OFFSETS_DECODED_FIELDS)
    if has_append_ts:
        fields.append(T.StructField("append_ts", T.LongType()))
    out_schema = T.StructType(fields)
    schema = to_arrow_schema(out_schema)

    def op(batches):
        import pyarrow as pa

        for rb in batches:
            rows = []
            keys, values = (
                rb.column(c).to_numpy(zero_copy_only=False).tolist()
                for c in ("key", "value")
            )
            for key, value in zip(keys, values):
                k = ow.decode_key(key)
                if k["kind"] != "offset":
                    rows.append((k["kind"], k["group"], None, None, None, None,
                                 None, None, None, None, value is None))
                    continue
                v = ow.decode_offset_value(value)
                if v is None:
                    rows.append(("offset", k["group"], k["topic"], k["partition"],
                                 None, None, None, None, None, None, True))
                else:
                    rows.append(("offset", k["group"], k["topic"], k["partition"],
                                 v["offset"], v["metadata"], v["commit_timestamp_ms"],
                                 v["expire_timestamp_ms"], v["leader_epoch"],
                                 v["version"], False))
            columns = list(zip(*rows)) if rows else [()] * len(_OFFSETS_DECODED_FIELDS)
            arrays = [pa.array(c, f.type) for c, f in zip(columns, schema)]
            if has_append_ts:
                arrays.append(rb.column("append_ts").cast(pa.int64()))
            yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return records.mapInArrow(kernel(op, ow), out_schema)


def recover_offsets_from_wire(records: DataFrame) -> DataFrame:
    """Full recovery from a raw __consumer_offsets dump: decode the binary
    records, then latest-wins compaction with tombstone removal. One
    decode pass + one group-keyed shuffle, same plan shape as
    committed_offsets over the typed table.

    Equivalence caveat (inherent to the wire format, not a bug): the
    at-rest schema stores MILLISECOND timestamps, so commits the typed
    path would order by sub-millisecond commit_ts tie instead on
    (append_ts ms, tombstone, offset) here — two same-millisecond commits
    can compact differently than the typed path's microsecond order. The
    offsets_wire_roundtrip oracle replays exactly this ms-granularity
    rule; byte-for-byte recovery of a real dump cannot do better because
    the finer ordering was never written."""
    decoded = decode_offsets_topic(records).filter(F.col("kind") == "offset")
    has_append_ts = "append_ts" in decoded.columns
    ord_col = (
        F.coalesce(F.col("append_ts"), F.col("commit_ts_ms"))
        if has_append_ts
        else F.col("commit_ts_ms")
    )
    typed = decoded.select(
        "group", "topic", "partition", "offset", "metadata",
        F.timestamp_millis(F.col("commit_ts_ms")).alias("commit_ts"),
        "leader_epoch", "value_version", "tombstone",
        ord_col.alias("__ord"),
    )
    # a tombstone's VALUE is null (no embedded timestamp) — the record's
    # append timestamp is its only ordering signal, exactly as the broker
    # relies on log order during doLoadGroupsAndOffsets replay
    w = Window.partitionBy("group", "topic", "partition").orderBy(
        F.col("__ord").desc(),
        F.col("tombstone").desc(),
        F.col("offset").desc_nulls_last(),
    )
    return (
        typed.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & ~F.col("tombstone"))
        .drop("__rn", "tombstone", "__ord")
    )


def encode_group_metadata_records(
    members: DataFrame,
    group_col: str = "group",
    version: int = 3,
) -> DataFrame:
    """Serialize per-group membership into GroupMetadataKey/Value binary
    records (one record per group, members nested in the value array —
    GroupMetadataConstants GROUP_METADATA_VALUE_SCHEMA_V3). Input columns:
    group, generation, protocol_type, protocol, leader, member_id,
    group_instance_id, client_id, client_host, rebalance_timeout_ms,
    session_timeout_ms, subscription (binary), assignment (binary).

    applyInPandas per group (the record is per-group by construction);
    group count bounds parallelism exactly as the offsets-topic partition
    count does on the broker."""
    import pandas as pd

    def fold(pdf):
        pdf = pdf.sort_values("member_id")
        first = pdf.iloc[0]
        mems = [
            {
                "member_id": r.member_id,
                "group_instance_id": None
                if pd.isna(r.group_instance_id)
                else r.group_instance_id,
                "client_id": r.client_id,
                "client_host": r.client_host,
                "rebalance_timeout_ms": int(r.rebalance_timeout_ms),
                "session_timeout_ms": int(r.session_timeout_ms),
                "subscription": b"" if r.subscription is None else bytes(r.subscription),
                "assignment": b"" if r.assignment is None else bytes(r.assignment),
            }
            for r in pdf.itertuples(index=False)
        ]
        key = ow.encode_group_metadata_key(first[group_col])
        value = ow.encode_group_metadata_value(
            first.protocol_type, int(first.generation),
            None if pd.isna(first.protocol) else first.protocol,
            None if pd.isna(first.leader) else first.leader,
            mems, version=version,
        )
        return pd.DataFrame({"key": [key], "value": [value]})

    return members.groupBy(group_col).applyInPandas(
        kernel(fold, ow), "key binary, value binary"
    )


def decode_group_metadata_records(records: DataFrame) -> DataFrame:
    """Parse GroupMetadataValue records and explode the member array to one
    row per (group, member) — the recovery read the broker performs to
    rebuild group state (doLoadGroupsAndOffsets group-metadata branch)."""
    import pandas as pd

    schema = (
        "group string, generation int, protocol_type string, protocol string, "
        "leader string, member_id string, group_instance_id string, "
        "client_id string, client_host string, rebalance_timeout_ms int, "
        "session_timeout_ms int, subscription binary, assignment binary"
    )

    def op(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                k = ow.decode_key(bytes(r.key))
                if k["kind"] != "group_metadata" or r.value is None:
                    continue
                v = ow.decode_group_metadata_value(bytes(r.value))
                for m in v["members"]:
                    rows.append(
                        (k["group"], v["generation"], v["protocol_type"],
                         v["protocol"], v["leader"], m["member_id"],
                         m["group_instance_id"], m["client_id"],
                         m["client_host"], m["rebalance_timeout_ms"],
                         m["session_timeout_ms"], m["subscription"],
                         m["assignment"])
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "group", "generation", "protocol_type", "protocol",
                    "leader", "member_id", "group_instance_id", "client_id",
                    "client_host", "rebalance_timeout_ms",
                    "session_timeout_ms", "subscription", "assignment",
                ],
            )

    return records.mapInPandas(kernel(op, ow), schema)
