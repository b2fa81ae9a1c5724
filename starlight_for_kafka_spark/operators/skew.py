"""Skew-resistant aggregation: two-stage salted groupBy.

A plain ``groupBy(key)`` sends every row of a hot key to ONE reducer — at
100 TB a handful of dominant keys (a few event types, one giant customer)
serializes the job no matter how many executors exist. Salting splits each
key across ``n_salts`` reducers for a partial aggregate, then merges the
(keys × n_salts)-row partials — the second stage is tiny by construction.

The default salt is DETERMINISTIC — ``pmod(xxhash64(salt_cols), n_salts)``
with every input column as the default — the same retry-stable rule
``grouped_top_k`` pins (a ``spark_partition_id()`` salt can route the same
row through different slices across task retries / AQE replans). A content
hash cannot separate exact full-row duplicates, so ``salted_aggregate``
also offers ``partition_salt=True`` for duplicate-heavy inputs — sound
there and only there because this operator's correctness contract already
restricts it to commutative decomposable merges (see the function
docstring for the full trade-off). The salt is semantically invisible
because the stage-2 merge collapses it. Results are identical to the
unsalted aggregate for any decomposable aggregate (count/sum/min/max —
the caller supplies the partial and merge expression pair).

AQE's skew-join handling covers JOIN skew at runtime; this covers
AGGREGATION skew, which AQE does not re-plan (partial aggregation already
bounds it per task, but the final per-key merge still lands on one
reducer; salting bounds that final hop too when key cardinality is tiny).

The reference never aggregates (no query engine), but its FIND_COORDINATOR
hash-spread of groups across __consumer_offsets partitions
(GroupMetadataManager.getPartitionId:221) is the same trick at the storage
layer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_aggregate(
    df: DataFrame,
    keys: list,
    partials: list[Column],
    merges: list[Column],
    n_salts: int = 32,
    salt_cols: list | None = None,
    partition_salt: bool = False,
) -> DataFrame:
    """Two-stage aggregate: groupBy(keys + salt).agg(partials) →
    groupBy(keys).agg(merges). ``merges`` must reference the aliases the
    ``partials`` produce.

    Choosing the salt: no deterministic function of row CONTENT can
    separate exact full-row duplicates, so the two options trade off:

    * default (content hash over ``salt_cols``, all columns if None):
      retry-stable, but a hot key whose rows are exact duplicates (e.g. a
      bare ``select(key)`` projection, or a log of identical repeated
      events) all land in ONE salt slice — the salting silently does
      nothing. Pass a unique id column as ``salt_cols`` when you have one
      (also cheaper than hashing wide text columns).
    * ``partition_salt=True`` (``spark_partition_id() % n_salts``): always
      spreads, but a row's slice can change across task retries / AQE
      replans. That is provably harmless here — this operator is only
      correct for decomposable COMMUTATIVE partial/merge pairs
      (count/sum/min/max), for which any salt assignment merges to the
      same result — so it is the right choice for duplicate-heavy inputs
      with no id column. (grouped_top_k, an ORDER statistic, must never
      use it: see skew.py:146's deterministic-salt rationale.)
    """
    if partition_salt:
        salt = F.spark_partition_id() % n_salts
    else:
        salt = F.pmod(
            F.xxhash64(*(salt_cols if salt_cols is not None else df.columns)),
            F.lit(n_salts),
        )
    salted = df.withColumn("__salt", salt)
    stage1 = salted.groupBy(*keys, "__salt").agg(*partials)
    return stage1.groupBy(*keys).agg(*merges)


def salted_count(df: DataFrame, *keys: str, n_salts: int = 32) -> DataFrame:
    return salted_aggregate(
        df,
        list(keys),
        [F.count("*").alias("__partial_cnt")],
        [F.sum("__partial_cnt").alias("cnt")],
        n_salts,
    )


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    keys: list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the skewed (fact) side with a random
    per-row salt, replicate the small (dim) side across all ``n_salts``
    values, join on (keys + salt). A hot key's rows land on ``n_salts``
    reducers instead of one; results are identical to the plain join.

    AQE's runtime skew-split covers shuffled joins it can observe; this
    explicit form is for when AQE can't re-plan — stream-static joins in a
    microbatch, or a deliberately bucketed layout that must not be
    re-split. Cost: the small side is duplicated ``n_salts``× (bounded —
    it's the dim side), the big side gains one int column.

    The salt is random-per-row (pmod of a uniform draw), NOT
    partition-derived: rows of the hot key inside one input split must
    still scatter. Join semantics are preserved for inner/left because
    every (key, salt) pair exists on the replicated side.
    """
    salt = F.pmod(F.floor(F.rand(seed=7) * n_salts).cast("int"), F.lit(n_salts))
    big = skewed.withColumn("__salt", salt)
    rep = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return big.join(rep, keys + ["__salt"], how).drop("__salt")


def heavy_hitters(
    df: DataFrame,
    key_cols: list[str],
    k: int = 10,
) -> DataFrame:
    """Exact heavy-hitter report: the k keys carrying the most records,
    with their absolute and fractional share — the diagnostic you run
    BEFORE reaching for salted_aggregate/salted_join or trusting AQE's
    skew split. One map-side-combinable shuffle on the key plus a
    broadcast of the single-row total; top-k via TakeOrderedAndProject.
    """
    counts = df.groupBy(*key_cols).agg(F.count("*").alias("n"))
    total = df.count()  # one scalar job; reuses the same scan
    return (
        counts.withColumn("share", (F.col("n") / F.lit(total)).cast("double"))
        .orderBy(F.col("n").desc(), *key_cols)
        .limit(k)
    )


def grouped_top_k(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
    n_salts: int = 32,
    salt_cols: list | None = None,
) -> DataFrame:
    """Skew-resistant top-k per group, two-stage: a local top-k inside each
    (group, salt) slice, then the exact top-k over the survivors. A hot
    group's rows spread across ``n_salts`` reducers in stage 1, and stage 2
    ranks at most ``k * n_salts`` rows per group — the same shape as
    ``salted_aggregate``, applied to an order statistic. A single
    ``row_number`` window (the textbook formulation) would funnel every row
    of the hottest group through one task; this never ranks more than
    ``max(rows_per_(group,salt), k * n_salts)`` rows anywhere.

    Correct because top-k is a decomposable order statistic: any global
    top-k row is also top-k within its salt slice. ``order_cols`` must be a
    TOTAL order (include a unique id tie-break) or ranks are
    nondeterministic — same contract every window/top-k operator in this
    package pins.

    Emits the group columns, the payload, and ``rank`` (1-based).

    The salt is DETERMINISTIC — ``pmod(xxhash64(salt_cols), n_salts)``
    (default: every input column) — never ``spark_partition_id()``: under
    shuffle-fetch-failure recomputation or an AQE replan a row's physical
    partition can differ between attempts, silently changing which salt
    slice ranked it (the round-robin-repartition class of retry hazard).
    A row-content hash gives the same slice on every attempt.

    A content hash maps IDENTICAL rows to one salt slice — so if a hot
    group's rows were exact full-row duplicates, stage 1 would serialize
    them into a single task again. The total-order contract above already
    forbids that input (two identical rows tie on every order column), so
    any DataFrame this function is correct for is also one it is
    skew-safe for: the unique tie-break column that makes the order total
    is part of the default salt hash and spreads duplicates. If your rows
    can be full duplicates, attach a distinct id first (that id fixes the
    rank nondeterminism too), or pass it as ``salt_cols``.
    """
    from pyspark.sql import Window

    salted = df.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*(salt_cols if salt_cols is not None else df.columns)),
               F.lit(n_salts)),
    )
    w1 = Window.partitionBy(*group_cols, "__salt").orderBy(*order_cols)
    stage1 = (
        salted.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .drop("__r1", "__salt")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        stage1.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )


def _cm_positions(value_col: str, width: int, depth: int):
    """The exploded (row, col) md5 position structs shared by cm_sketch
    and cm_estimate — ONE definition, because the sketch and the probe
    must hash bit-identically or every estimate is garbage."""
    from starlight_for_kafka_spark.functions.hashing import md5_hash64

    v = F.col(value_col).cast("string")
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"),
                    F.pmod(
                        md5_hash64(F.concat(F.lit(f"cm{i}:"), v)), F.lit(width)
                    ).alias("col"),
                )
                for i in range(depth)
            ]
        )
    )


def cm_sketch(
    df: DataFrame,
    value_col: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Count-Min frequency sketch (Cormode & Muthukrishnan 2005) as a
    (row, col, c) counter table — the mergeable per-key frequency
    estimator for streams/shards where an exact groupBy(key) is
    unaffordable or must be unioned across jobs (sketches from any number
    of shards merge by summing counters; see the mergeability test).
    Positions are md5-derived, so counters — and every estimate —
    reproduce across engines (the DuckDB oracle replays them exactly).

    Guarantees: estimate >= true count always (one-sided), and the
    overestimate is <= 2N/width with probability 1 - (1/2)^depth.

    Scale: one map-side explode (depth rows per record, tiny structs) and
    one partial-combining aggregation to <= width*depth counters. The
    counter table is broadcast-sized by construction. NULL values are
    NOT keys and are dropped (a NULL would mint counters at col=NULL no
    probe can reach); the one-sided guarantee is over non-null values.
    """
    entries = df.filter(F.col(value_col).isNotNull()).select(
        _cm_positions(value_col, width, depth).alias("e")
    )
    return entries.groupBy(
        F.col("e.row").alias("row"), F.col("e.col").alias("col")
    ).agg(F.count("*").alias("c"))


def cm_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    value_col: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Point-query the Count-Min sketch for every key in ``keys``:
    estimate = min over the sketch's depth rows of the key's counter
    (absent counter = 0 — the key was never seen). The sketch side
    broadcasts (it is <= width*depth rows by construction), so the probe
    costs one broadcast join + one per-key min. NULL keys are dropped
    (NULLs are not sketched — see :func:`cm_sketch`)."""
    pos = keys.filter(F.col(value_col).isNotNull()).select(
        value_col, _cm_positions(value_col, width, depth).alias("e")
    ).select(value_col, F.col("e.row").alias("row"), F.col("e.col").alias("col"))
    joined = pos.join(F.broadcast(sketch), ["row", "col"], "left")
    return joined.groupBy(value_col).agg(
        F.min(F.coalesce(F.col("c"), F.lit(0).cast("long"))).alias("est")
    )


def keyed_running_agg(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    tiebreak_col: str,
    agg: str = "sum",
    n_shards: int = 32,
    out_col: str = "running_agg",
    boundaries: list | None = None,
) -> DataFrame:
    """Skew-safe per-key RUNNING aggregate: for each row, ``agg`` of
    ``value_col`` over all rows of the same key at or before it in
    ``(order_col, tiebreak_col)`` order — the cumulative-feature shape
    (per-user running spend / running peak / running event count) that a
    plain window

        agg(value) OVER (PARTITION BY key ORDER BY ord ROWS UNBOUNDED
        PRECEDING)

    computes by funneling EVERY row of a key through one task's sort.
    Catalyst de-skews rank()/row_number() <= k filters with a
    WindowGroupLimit partial top-k below the shuffle (measured: balanced
    tasks even with a 50%-hot key), but a running aggregate needs every
    row, so no such pushdown exists — a key owning 10% of 100 TB
    serializes 10 TB into one task. This is the window family where
    explicit decomposition is the only fix.

    ``agg`` is any commutative-monoid aggregate — ``sum`` | ``max`` |
    ``min`` | ``count`` — the algebraic property the decomposition
    needs: running state over earlier shards collapses to one offset
    value merged into the local prefix (add for sum/count,
    greatest/least for max/min, both NULL-skipping like the serial
    window).

    Construction (the order-preserving analog of ``salted_aggregate``,
    same shape as ``sampling.pack_sequences``'s global prefix sum, made
    per-key):

      1. RANGE-shard on ``order_col``: shard i = count(boundaries <=
         ord). Boundaries come from approx quantiles of ``order_col``
         (control-plane: ``n_shards - 1`` scalars), so shards are
         contiguous order ranges and every key's rows map to
         nondecreasing shards — rows equal on ``order_col`` always share
         a shard, which keeps the decomposition exact for any total
         order ``(order_col, tiebreak_col)``.
      2. per-(key, shard) local running aggregates — the hot key's rows
         spread over ``n_shards`` tasks;
      3. per-(key, shard) totals (<= n_shards rows per key) get a
         per-key running offset over shards — a window over bounded
         partitions — and rebase the local prefixes via a join on
         (key, shard).

    Exactness: for an EXACT-typed ``value_col`` (integer/decimal) the
    result is bit-identical to the serial window (the monoid operation
    is associative); for float sums the usual reorder caveat applies —
    cast to decimal when exact parity matters (the oracle does).

    ``boundaries`` overrides the sampled quantiles (the oracle replays
    the engine's choice verbatim; approx_percentile at an accuracy above
    the row count is exact and engine-portable per the repo's
    cross-engine recipes). ``boundaries=None`` costs ONE extra pass over
    ``order_col`` for the quantile sketch — at 100 TB, pass boundaries
    from domain knowledge (time-range cut points) or a prior sampled
    estimate instead: they affect only shard BALANCE, never correctness,
    so any monotone cut-point list is valid.
    """
    from pyspark.sql import Window

    if agg not in ("sum", "max", "min", "count"):
        raise ValueError(
            f"agg must be one of sum/max/min/count, got {agg!r}"
        )
    local_fn = {"sum": F.sum, "max": F.max, "min": F.min, "count": F.count}[
        agg
    ]
    # how per-shard totals combine into the earlier-shards offset, and
    # how the offset merges into the local prefix
    offset_fn = {"sum": F.sum, "count": F.sum, "max": F.max, "min": F.min}[
        agg
    ]

    def merge(offset: Column, local: Column) -> Column:
        if agg == "max":
            return F.greatest(offset, local)  # NULL-skipping, like the window
        if agg == "min":
            return F.least(offset, local)
        # sum/count: NULL-skipping add (count's local prefix is never
        # NULL, but its offset is NULL for the first shard)
        return F.when(offset.isNull() & local.isNull(), F.lit(None)).otherwise(
            F.coalesce(offset, F.lit(0)) + F.coalesce(local, F.lit(0))
        )

    ord_c = F.col(order_col)
    if boundaries is None:
        qs = [i / n_shards for i in range(1, n_shards)]
        # control-plane: n_shards-1 scalars; accuracy high enough that
        # small-SF oracle runs are exact (see verify recipes)
        row = df.select(
            F.percentile_approx(ord_c, qs, 1_000_000).alias("b")
        ).first()
        boundaries = [b for b in (row["b"] or []) if b is not None]
    shard = F.aggregate(
        F.array(*[F.lit(b) for b in boundaries]),
        F.lit(0),
        lambda acc, b: acc + F.when(ord_c >= b, 1).otherwise(0),
    ).alias("__shard")

    local = df.withColumn("__shard", shard)
    w_local = Window.partitionBy(*key_cols, "__shard").orderBy(
        order_col, tiebreak_col
    ).rowsBetween(Window.unboundedPreceding, 0)
    local = local.withColumn("__local", local_fn(value_col).over(w_local))

    # shard totals re-aggregate the shard's VALUES — not the local
    # prefix column: for sum, max(__local) would silently rebase later
    # shards too high whenever a negative value makes the final
    # cumulative row smaller than an interior one. Derived from df (not
    # from the windowed branch): the offsets side of the self-join must
    # not share the window lineage — Catalyst fails to re-bind the shard
    # expression on the aggregated branch for non-file-source inputs
    # (LocalRelation) otherwise.
    w_off = Window.partitionBy(*key_cols).orderBy("__shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        df.select(*key_cols, F.col(value_col).alias("__v"), shard)
        .groupBy(*key_cols, "__shard")
        .agg(local_fn("__v").alias("__shard_total"))
        .withColumn("__offset", offset_fn("__shard_total").over(w_off))
        .select(*key_cols, "__shard", "__offset")
    )
    # NULL semantics match the serial window (aggregates ignore NULLs
    # over the whole frame; NULL only when no non-NULL value has been
    # seen yet): __local is NULL when the within-shard prefix is
    # all-NULL, __offset is NULL when all earlier shards hold no
    # non-NULL values — merge() is NULL-skipping on both sides.
    #
    # The rebase join is null-SAFE on the key columns: the serial window
    # keeps NULL keys as their own partition, so a plain equi-join (which
    # null-rejects) would silently drop every NULL-key row. __shard is
    # never NULL (a NULL order_col compares NULL >= b -> 0 everywhere, so
    # such rows land in shard 0, matching the window's NULLS FIRST
    # ordering), so plain equality is fine there. Both branches are
    # alias()ed so Catalyst re-binds attributes per branch instead of
    # re-substituting the shard ArrayAggregate expression across the
    # self-join (which crashed ATTRIBUTE_NOT_FOUND on column-pruned
    # actions over LocalRelation inputs).
    l = local.alias("__krl")
    o = offsets.alias("__kro")
    cond = l["__shard"] == o["__shard"]
    for k in key_cols:
        cond = cond & l[k].eqNullSafe(o[k])
    out = (
        l.join(o, cond)
        .select(*[l[c] for c in local.columns], o["__offset"])
        .withColumn(out_col, merge(F.col("__offset"), F.col("__local")))
    )
    return out.drop("__shard", "__local", "__offset")


def keyed_running_sum(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    tiebreak_col: str,
    n_shards: int = 32,
    out_col: str = "running_sum",
    boundaries: list | None = None,
) -> DataFrame:
    """Skew-safe per-key running sum — ``keyed_running_agg(agg="sum")``;
    see that function for the construction and its contracts."""
    return keyed_running_agg(
        df, key_cols, order_col, value_col, tiebreak_col,
        agg="sum", n_shards=n_shards, out_col=out_col,
        boundaries=boundaries,
    )
