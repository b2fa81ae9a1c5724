"""Plan-contract tests: pin the physical-plan properties that keep each
operator viable at 100 TB (SURVEY.md §4). Row-level correctness is covered
by the oracle-parity suite; these assert the SHAPE of execution — filters
at the scan, pruned readers, broadcast dimensions, bounded shuffles."""

from __future__ import annotations

import __spark_entry__ as entrymod
from pyspark.sql import functions as F
from starlight_for_kafka_spark import load_table
from starlight_for_kafka_spark.operators import dedup as dedup_ops
from starlight_for_kafka_spark.plans import (
    broadcast_join_count,
    codegen_stage_count,
    has_broadcast_join,
    exchange_count,
    plan_string,
    pushed_filters,
    scan_read_columns,
    without_aqe,
)
from tests.conftest import SF_DIR

QUERIES = entrymod.queries()


def test_q1_filter_pushed_to_scan(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p and "LessThanOrEqual" in p for p in pushed), pushed


def test_q1_column_pruning(spark):
    # lineitem has 16 columns; Q1 must read only the 7 it touches
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    cols = scan_read_columns(df, "lineitem")
    assert set(cols) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }, cols


def test_q1_single_shuffle(spark):
    # partial (map-side) aggregation means the agg itself adds exactly
    # one Exchange; on the narrow test input the parallelism-spread
    # guard (plans/spread.py) contributes its one deliberate exchange
    # below the partial agg, and no more
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    assert exchange_count(df) == 2, plan_string(df)
    assert "partial_sum" in plan_string(df)


def test_top_revenue_broadcasts_dimension(spark):
    df = QUERIES["top_revenue_orders"](spark, SF_DIR)
    assert broadcast_join_count(df) >= 1, plan_string(df)
    # top-k never globally sorts: TakeOrderedAndProject caps the shuffle
    assert "TakeOrderedAndProject" in plan_string(df)


def test_global_ktable_join_is_broadcast_no_shuffle(spark):
    # KStream x GlobalKTable (GlobalKTableTest.java:94): the table side must
    # broadcast; the stream side must not shuffle at all
    df = QUERIES["global_join_inner"](spark, SF_DIR)
    assert broadcast_join_count(df) == 1, plan_string(df)
    assert exchange_count(df) == 0, plan_string(df)


def test_similarity_topk_no_shuffle(spark):
    # brute-force cosine top-k: embarrassingly parallel scan, per-partition
    # top-k merged on one node — zero Exchange operators
    df = QUERIES["similarity_top10"](spark, SF_DIR)
    plan = plan_string(df)
    assert exchange_count(df) == 0, plan
    assert "TakeOrderedAndProject" in plan


def test_keyed_count_partial_aggregation(spark):
    df = QUERIES["keyed_count"](spark, SF_DIR)
    assert exchange_count(df) == 1, plan_string(df)
    assert "partial_count" in plan_string(df)


def test_minhash_signatures_shuffle_free(spark, documents):
    # the signature computation itself never shuffles shingles; the
    # parallelism-spread repartition fires ONLY when the input arrives
    # narrower than the executor slots. A wide input (the 100 TB scan
    # shape) must sign with ZERO exchanges — an unconditional spread
    # would shuffle the whole corpus text just to hash it.
    n_part = spark.sparkContext.defaultParallelism
    narrow = dedup_ops.minhash_signatures(documents.coalesce(1))
    assert exchange_count(narrow) == 1, plan_string(narrow)
    wide = dedup_ops.minhash_signatures(documents.repartition(n_part * 2))
    # the pre-widening repartition itself is one exchange; the signature
    # stage must add none on top
    assert exchange_count(wide) == 1, plan_string(wide)


def test_spread_if_narrow_guard(spark, documents):
    # the shared compute-spread helper (plans/spread.py): repartitions a
    # narrow scan-rooted frame to the session's slot count, and is the
    # IDENTITY on an already-wide frame — a 100 TB scan arrives wide and
    # must never be shuffled just to be hashed.
    from starlight_for_kafka_spark.plans.spread import spread_if_narrow

    n_part = spark.sparkContext.defaultParallelism
    narrow = spread_if_narrow(documents.coalesce(1), "doc_id")
    assert narrow.rdd.getNumPartitions() == n_part
    assert exchange_count(narrow) == 1, plan_string(narrow)
    pre_widened = documents.repartition(n_part * 2, "doc_id")
    wide = spread_if_narrow(pre_widened, "doc_id")
    # identity: no exchange beyond the pre-widening one, same plan object
    assert wide is pre_widened
    assert exchange_count(wide) == 1, plan_string(wide)


def test_exact_dedup_single_shuffle(spark):
    df = QUERIES["dedup_exact"](spark, SF_DIR)
    assert exchange_count(df) == 1, plan_string(df)


def test_exact_dedup_keep_first_is_aggregate_not_window(spark):
    # keep-first must be the partial-combining min_by agg — a per-digest
    # row_number window serializes a 10^8-duplicate digest into one task
    for name in ("dedup_exact", "dedup_incremental"):
        df = QUERIES[name](spark, SF_DIR)
        assert "Window" not in plan_string(df), (name, plan_string(df))


def test_minhash_bucket_cap_is_agg_anti_join_not_window(spark):
    # the hot-bucket cap must partial-combine (groupBy + broadcast
    # anti-join), never a count window over (band, bucket)
    df = QUERIES["dedup_minhash"](spark, SF_DIR)
    assert "Window" not in plan_string(df), plan_string(df)


def test_scan_heavy_queries_stay_in_codegen(spark):
    # whole-stage codegen must cover the hot scan+agg paths (AQE hides the
    # static plan's codegen annotations pre-execution, so inspect without it)
    with without_aqe(spark):
        for name in ["q1_pricing_summary", "keyed_count", "tumbling_window_1h"]:
            df = QUERIES[name](spark, SF_DIR)
            assert codegen_stage_count(df) >= 1, f"{name} fell off codegen"


def test_salted_count_two_stage_shape(spark):
    # salted agg = exactly two exchanges (keys+salt, then keys); the salt
    # column itself must not leak into the output
    df = QUERIES["keyed_count_salted"](spark, SF_DIR)
    assert exchange_count(df) == 2, plan_string(df)
    assert df.columns == ["event_type", "cnt"]


def test_ivf_probe_is_partition_pruned(spark, embeddings, tmp_path):
    """The IVF scale path: write the table partitioned by ivf_cell, probe
    one cell -> the scan must show a PartitionFilter (directory-level
    pruning; unprobed cells are never opened)."""
    from pyspark.sql import functions as F

    from starlight_for_kafka_spark.operators.similarity import ivf_assign
    from starlight_for_kafka_spark.plans import partition_filters

    cents = [
        [float(x) for x in r.embedding]
        for r in embeddings.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    path = str(tmp_path / "ivf_table")
    ivf_assign(embeddings, cents).write.partitionBy("ivf_cell").parquet(path)

    probe = spark.read.parquet(path).filter(F.col("ivf_cell") == 2)
    filters = partition_filters(probe)
    assert any("ivf_cell" in f and "2" in f for f in filters), filters
    # and it actually returns only that cell's vectors
    cells = {r.ivf_cell for r in probe.select("ivf_cell").distinct().collect()}
    assert cells == {2}


def test_bucketed_join_is_shuffle_free(spark, log, tmp_path):
    """Two tables bucketed on the join key co-locate: the join plan has NO
    Exchange on either side (bucket-wise sort-merge join) — the layout
    that amortizes the shuffle across every future key join."""
    import uuid

    from pyspark.sql import functions as F

    # managed tables land in the session's warehouse dir; DROP TABLE in the
    # finally block removes their data too
    a, b = f"ba_{uuid.uuid4().hex[:6]}", f"bb_{uuid.uuid4().hex[:6]}"
    try:
        log.write_bucketed(a, n_buckets=8)
        log.write_bucketed(b, n_buckets=8)
        joined = (
            spark.table(a)
            .groupBy("key").agg(F.count("*").alias("na"))
            .join(spark.table(b).groupBy("key").agg(F.count("*").alias("nb")), "key")
        )
        assert exchange_count(joined) == 0, plan_string(joined)
        # and the result is right: every key joins to itself
        row = joined.agg(F.count("*").alias("n"), F.sum(F.col("na") - F.col("nb")).alias("d")).first()
        assert row.n > 0 and row.d == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {a}")
        spark.sql(f"DROP TABLE IF EXISTS {b}")


def test_fetch_on_written_log_is_partition_pruned(spark, log, tmp_path):
    """FETCH over an at-rest log: the partition predicate must prune at the
    directory level and the offset range must reach the reader as a pushed
    filter — the layout contract that keeps fetch O(partition) at 100 TB."""
    from pyspark.sql import functions as F

    from starlight_for_kafka_spark.sources import LogTable
    from starlight_for_kafka_spark.plans import partition_filters

    path = str(tmp_path / "atrest")
    log.write(path)
    lt = LogTable.read(spark, path)
    fetched = lt.fetch(partition=3, start_offset=10, max_records=50)
    pf = partition_filters(fetched)
    assert any("partition" in f and "3" in f for f in pf), pf
    pushed = pushed_filters(fetched)
    assert any("offset" in p and "GreaterThanOrEqual" in p for p in pushed), pushed


def test_stratified_sample_is_map_only(spark, documents):
    """Hash-gated sampling must add zero exchanges: a pure filter over the
    scan, so at 100 TB it rides the existing scan parallelism."""
    from starlight_for_kafka_spark.operators.sampling import stratified_sample

    out = stratified_sample(documents, "lang", {"en": 0.5}, "doc_id")
    assert exchange_count(out) == 0, plan_string(out)


def test_decontamination_broadcasts_benchmark(spark, documents):
    """The benchmark n-gram set must broadcast: the corpus side never
    shuffles for the membership probe (only the final per-doc agg)."""
    from pyspark.sql import functions as F

    from starlight_for_kafka_spark.operators.dedup import benchmark_contamination

    bench = documents.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    corpus = documents.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    out = benchmark_contamination(corpus, bench)
    assert has_broadcast_join(out), plan_string(out)


def test_quantile_filter_approx_broadcasts_thresholds(spark, documents):
    """Approx mode = per-group sketch + broadcast threshold join, never a
    per-group sort of the data side."""
    from starlight_for_kafka_spark.operators.sampling import quantile_filter

    out = quantile_filter(documents, ["lang"], "n_chars", 0.25, "doc_id", mode="approx")
    assert has_broadcast_join(out), plan_string(out)


def test_pack_sequences_single_data_shuffle(spark, documents):
    """The parallel prefix sum must cost ONE data-sized exchange (the
    sharded window) plus broadcast-only distribution of shard offsets —
    never a global order-by of the corpus."""
    from pyspark.sql import functions as F

    from starlight_for_kafka_spark.operators.sampling import pack_sequences

    df = documents.select("doc_id", F.col("n_chars").alias("n_tokens"))
    out = pack_sequences(df, "n_tokens", 2048)
    plan = plan_string(out)
    assert has_broadcast_join(out), plan
    # exchanges: one hashpartitioning for the window; the tiny totals side
    # may add its own single-partition exchange, but there must be no
    # rangepartitioning (global sort) anywhere
    assert "rangepartitioning" not in plan.lower(), plan


def test_map_only_curation_ops_add_zero_exchanges(spark, documents):
    """scrub_pii, chunking, and int8 quantization are single-pass map
    operators: zero exchanges, so they ride the scan's parallelism at any
    corpus size."""
    from starlight_for_kafka_spark.operators.similarity import quantize_embeddings
    from starlight_for_kafka_spark.operators.text import chunk_documents, scrub_pii

    assert exchange_count(scrub_pii(documents)) == 0
    assert exchange_count(chunk_documents(documents, chunk_tokens=32, overlap=8)) == 0
    emb = load_table(spark, SF_DIR, "embeddings")
    assert exchange_count(quantize_embeddings(emb)) == 0


def test_source_overlap_never_self_joins_shingles(spark, documents):
    """The overlap matrix must pair sources from each shingle's collected
    source set — a SortMergeJoin on the shingle column would fan hot
    shingles out |S|^2 ways through the shuffle. Only the tiny sizes
    matrix (|S| rows) and per-pair counts may join, and both sides of
    every join in the plan are aggregated frames, not raw shingles."""
    from starlight_for_kafka_spark.operators.dedup import source_overlap

    out = source_overlap(documents)
    plan = plan_string(out)
    # the only SMJ keys allowed are the pair/source keys, never the shingle g
    import re

    for m in re.finditer(r"SortMergeJoin .*?\[([^\]]*)\]", plan):
        assert "g#" not in m.group(1), plan


def test_tfidf_broadcasts_doc_count(spark, documents):
    """The N (total docs) scalar joins in as a broadcast, and the
    vocabulary join must not re-shuffle the tf side more than once."""
    from starlight_for_kafka_spark.operators.text import tfidf_top_terms

    out = tfidf_top_terms(documents)
    assert has_broadcast_join(out), plan_string(out)


def test_shuffle_rank_no_global_sort(spark, documents):
    """The shuffle order must decompose into sharded windows + a broadcast
    offset join -- a global ORDER BY row_number would serialize the corpus
    through one task."""
    from starlight_for_kafka_spark.operators.sampling import shuffle_rank

    out = shuffle_rank(documents.select("doc_id"))
    plan = plan_string(out)
    assert has_broadcast_join(out), plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_funnel_no_collect_list(spark):
    """The funnel state per row is k running-min longs -- never a per-user
    collect_list, whose size is bounded only by a user's event count (a
    single bot account would OOM one reducer at 100x)."""
    df = QUERIES["funnel_steps"](spark, SF_DIR)
    plan = plan_string(df)
    assert "collect_list" not in plan.lower(), plan
    # one user-keyed exchange: window sort + final agg reuse the same
    # hash partitioning
    assert exchange_count(df) == 1, plan


def test_allocate_producer_ids_no_global_id_window(spark):
    """PID allocation must not serialize the id set through one task: every
    row_number window runs partitioned by the range shard; the only global
    orderBy is the <=n_shards-row offset prefix (control plane)."""
    import re

    df = QUERIES["init_producer_ids"](spark, SF_DIR)
    plan = plan_string(df)
    assert has_broadcast_join(df), plan
    specs = re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for spec in specs:
        assert "__shard" in spec, plan


def test_semantic_dedup_pairs_only_within_cells(spark):
    """The SemDeDup pair join must be an equi-join on ivf_cell -- never a
    cartesian/nested-loop product over the corpus."""
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = [
        [float(x) for x in r.embedding]
        for r in emb.filter(emb.vec_id < 4).orderBy("vec_id").collect()
    ]
    out = dedup_ops.semantic_dedup(emb, cents, 0.35)
    plan = plan_string(out).lower()
    assert "cartesianproduct" not in plan and "broadcastnestedloop" not in plan, plan


def test_throughput_metrics_single_shuffle_partial_agg(spark):
    df = QUERIES["throughput_metrics"](spark, SF_DIR)
    assert exchange_count(df) == 1, plan_string(df)
    assert "partial_count" in plan_string(df)


def test_ts_similarity_single_shuffle_topk_no_global_sort(spark):
    df = QUERIES["ts_similarity"](spark, SF_DIR)
    plan = plan_string(df)
    # one shuffle for the day-count agg reused by the per-key lag window,
    # plus the window's own key exchange; top-k must be TakeOrdered, not Sort
    assert "TakeOrderedAndProject" in plan
    assert exchange_count(df) <= 2, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Scale contract: a selective dim filter feeding a shuffle join must
    inject a bloom filter into the fact side (the 100 TB probe-pruning
    path; thresholds dropped here to pin the shape at toy scale)."""
    from starlight_for_kafka_spark.session import enable_runtime_filters, load_table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        enable_runtime_filters(spark, for_local_test=True)
        li = load_table(spark, SF_DIR, "lineitem")
        od = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        assert "bloom_filter_agg" in plan_string(j).lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_epoch_resample_no_corpus_shuffle(spark, documents):
    """The resample must be broadcast-join + explode over the corpus scan;
    the only exchanges allowed belong to the tiny weights aggregation."""
    from starlight_for_kafka_spark.operators.sampling import (
        epoch_resample,
        mixture_weights,
    )

    docs = documents.select("doc_id").withColumn(
        "grp", (F.col("doc_id") % 3).cast("string")
    )
    w = mixture_weights(docs, "grp", alpha=0.5)
    df = epoch_resample(docs, w, "grp", "doc_id")
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan, plan
    # weights agg: 1 exchange + its single-partition window = bounded small
    assert exchange_count(df) <= 2, plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """Scale contract: a skewed shuffle join must be rewritten at runtime
    into SortMergeJoin(skew=true) with a split AQEShuffleRead — the
    engine-side complement to the explicit salted operators (thresholds
    dropped to trigger at toy scale; at 100 TB the defaults fire)."""
    keys = (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.shuffle.partitions",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in zip(keys, ("16KB", "8KB", "2", "-1", "8")):
            spark.conf.set(k, v)
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 20 != 0, 0).otherwise(F.col("id") % 97).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id")).alias("v"),
        )
        dim = spark.range(97).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = fact.join(dim, "k").groupBy().count()
        assert j.collect()[0][0] == 200_000  # every fact row matches one dim
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "skewed" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_time_retention_filter_reaches_atrest_scan(spark, log, tmp_path):
    """retention.ms as a pruned delete: on an at-rest log the horizon
    predicate must reach the parquet reader as a pushed filter so expired
    segments are footer-pruned, not scanned."""
    import datetime

    from starlight_for_kafka_spark.sources import LogTable

    path = str(tmp_path / "ret_log")
    log.write(path)
    kept = LogTable.read(spark, path).retain_since(datetime.datetime(2024, 1, 10))
    pushed = pushed_filters(kept.df)
    assert any("timestamp" in p and "GreaterThanOrEqual" in p for p in pushed), pushed


def test_hybrid_search_shortlists_are_takeordered(spark):
    """Both retrieval sides must shortlist via TakeOrderedAndProject (no
    global sort of the corpus before fusion)."""
    df = QUERIES["hybrid_search"](spark, SF_DIR)
    plan = plan_string(df)
    assert plan.count("TakeOrderedAndProject") >= 2, plan


def test_remove_repeated_spans_filters_word_arrays_in_place(spark):
    """Span removal keeps each document's words with one array expression
    over its own word array: no word of any document is exploded
    (Generate over ``__ws``), no (wpos, word) struct is regrouped, and the
    plan stays within 6 exchanges."""
    import re

    df = QUERIES["remove_repeated_spans"](spark, SF_DIR)
    plan = plan_string(df)
    assert not re.search(r"explode\(__ws#\d+\)", plan), plan
    assert "wpos" not in plan, plan
    assert exchange_count(df) <= 6, plan


def test_ngram_jaccard_no_cartesian_and_bounded_exchanges(spark):
    """The prefix-filtered set-similarity join must stay a keyed-join plan:
    no cartesian/nested-loop product anywhere, and the verify side uses
    broadcast joins when the set table is small."""
    df = QUERIES["dedup_ngram_jaccard"](spark, SF_DIR)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert has_broadcast_join(df), plan  # broadcast verify at this SF


def test_avro_decode_is_map_only(spark):
    """Confluent-framed Avro decode is a pure per-row transform: zero
    exchanges on top of the scan — at 100 TB it pipelines with the read."""
    from starlight_for_kafka_spark.operators import registry as reg
    import __spark_entry__ as e

    orders = load_table(spark, SF_DIR, "orders")
    rec = orders.select(
        F.lit(1).cast("int").alias("schema_id"),
        F.struct(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_custkey").alias("custkey"),
            F.floor("o_totalprice").cast("int").alias("price_int"),
            F.col("o_orderstatus").alias("status"),
            F.lit("n").alias("legacy_note"),
        ).alias("record"),
    )
    enc = reg.avro_encode(rec, {1: e.AVRO_ORDER_V1})
    dec = reg.avro_decode(enc, {1: e.AVRO_ORDER_V1}, e.AVRO_ORDER_READER)
    assert exchange_count(dec) == 0, plan_string(dec)


def test_sticky_assignor_broadcast_only(spark):
    """Coordinator-scale assignment: every join in the sticky plan is a
    broadcast join — no large shuffle of the (tiny) member/partition/prior
    tables beyond the window sorts."""
    df = QUERIES["assign_sticky"](spark, SF_DIR)
    plan = plan_string(df)
    assert "SortMergeJoin" not in plan, plan


def test_quantile_filter_approx_no_pergroup_sort(spark):
    """The sketch path must not window-sort the corpus: the only exchange
    shape is the threshold aggregation + broadcast back."""
    df = QUERIES["quantile_filter_approx"](spark, SF_DIR)
    plan = plan_string(df)
    assert "percent_rank" not in plan.lower()
    assert has_broadcast_join(df), plan


def test_line_dedup_keeper_is_aggregate_not_window(spark):
    # the canonical-keeper choice must be a partial-combining min() agg —
    # a row_number window per line hash would serialize hot boilerplate
    df = QUERIES["line_dedup"](spark, SF_DIR)
    assert "Window" not in plan_string(df), plan_string(df)


def test_dsir_weights_broadcast_distributions_no_window(spark):
    df = QUERIES["dsir_weights"](spark, SF_DIR)
    p = plan_string(df)
    assert "Window" not in p, p
    assert broadcast_join_count(df) >= 2, p  # totals + log-ratio table


def test_event_transitions_single_user_window_broadcast_totals(spark):
    with without_aqe(spark):
        df = QUERIES["event_transitions"](spark, SF_DIR)
        p = plan_string(df)
        assert p.count("Window (") == 1, p  # one lead() pass over the log
        assert broadcast_join_count(df) >= 1, p  # |types|-row totals broadcast


def test_ts_anomaly_windows_over_bucketed_not_raw(spark):
    # the z-score windows must run over the (key, hour) aggregate — the
    # window input is post-aggregation, so a Window node sits above a
    # HashAggregate pair, never directly on the scan
    with without_aqe(spark):
        df = QUERIES["ts_anomaly"](spark, SF_DIR)
        p = plan_string(df)
        # exactly two exchanges: the bucket aggregation + the key
        # repartition for the windows; the (stacked) Window nodes reuse
        # one sort, and they sit ABOVE the aggregate, never on the raw scan
        assert exchange_count(df) == 2, p
        assert "HashAggregate" in p, p
        assert p.index("Window (") < p.index("HashAggregate"), p


def test_suppress_final_stream_time_is_broadcast(spark):
    df = QUERIES["suppress_final"](spark, SF_DIR)
    p = plan_string(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p


def test_pq_adc_scan_reads_no_embedding_after_encode(spark):
    # ADC ranking runs on codes + literal LUT: the plan must be a
    # TakeOrderedAndProject over a projection, no join, no extra shuffle
    df = QUERIES["pq_adc_topk"](spark, SF_DIR)
    p = plan_string(df)
    assert "TakeOrderedAndProject" in p, p
    assert exchange_count(df) == 0, p


def test_zorder_clustering_narrows_both_column_ranges(spark):
    """cluster_by_zorder(x, y) must produce range partitions whose
    per-partition spread is narrow in BOTH dimensions — a sort by x alone
    leaves y's per-file min/max ranges at full width (no pruning)."""
    from pyspark.sql import functions as F

    from starlight_for_kafka_spark.operators.layout import cluster_by_zorder

    n = 1 << 12
    grid = spark.range(n).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )

    def spreads(df, k=16):
        parts = df.withColumn("__p", F.spark_partition_id()).groupBy("__p").agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        row = parts.agg(F.avg("sx").alias("ax"), F.avg("sy").alias("ay")).first()
        return row.ax, row.ay

    zx, zy = spreads(cluster_by_zorder(grid, ["x", "y"], 16))
    sx, sy = spreads(grid.repartitionByRange(16, "x").sortWithinPartitions("x"))
    # single-column sort: x is perfectly clustered but y spans ~full width
    assert sy > 40
    # z-order: BOTH dimensions stay well under half their full width (63)
    assert zx < 32 and zy < 32


def test_weighted_sample_is_take_ordered_no_full_sort(spark):
    # E-S weighted sampling: per-partition top-n merged on the driver —
    # no Exchange, no global Sort, the scan prunes to (key, weight)
    df = QUERIES["weighted_sample"](spark, SF_DIR)
    plan = plan_string(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert exchange_count(df) == 0, plan


def test_cluster_balanced_sample_no_full_cluster_window(spark):
    # per-cluster selection goes through the salted two-stage top-k: the
    # stage-1 window partitions by (cluster, salt), never cluster alone
    df = QUERIES["cluster_balanced_sample"](spark, SF_DIR)
    plan = plan_string(df)
    assert "__salt" in plan, plan


def test_knn_join_lsh_is_keyed_join_not_cross_product(spark):
    """The LSH kNN join must plan as a bucket-keyed equi-join — a cross
    product here is exactly the O(Q*C) blow-up the operator exists to
    avoid at 100 TB."""
    df = QUERIES["knn_join_lsh"](spark, SF_DIR)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_join_ivf_is_keyed_join_not_cross_product(spark):
    """Same contract for the IVF mode: cell-keyed equi-join only."""
    df = QUERIES["knn_join_ivf"](spark, SF_DIR)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_knn_join_is_keyed_join_not_cross_product(spark):
    """IVFADC batch retrieval: cell-keyed equi-join over codes — never a
    cross product, and the corpus floats never cross the final join."""
    df = QUERIES["pq_knn_join"](spark, SF_DIR)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_decontaminate_corpus_lineage_broadcast_or_id_keyed(spark):
    # the decontamination contract: the BANDING probe (the one step that
    # touches every corpus row) hashes a broadcast side — the benchmark
    # banding rows are benchmark-bounded, so that hint is forced and
    # must survive. The candidate semi-join and the final anti-join are
    # bounded by CONTAMINATION volume, not a constant — round 9 gates
    # their broadcast on the MEASURED candidate count (cands is
    # materialized, the count is free): below the bound the hint is
    # static (AQE's runtime conversion lands only after the corpus
    # shuffle map stage has written — measured, BASELINE.md round 9);
    # past it they fall back to shuffle joins. What must hold statically
    # in EITHER regime: every SMJ is keyed on ids — never on a
    # band/bucket or text-bearing branch. Wide corpus input so the
    # signing spread stays out.
    n_part = spark.sparkContext.defaultParallelism
    corpus = spark.createDataFrame(
        [(i, f"corpus doc number {i} with some shared words inside") for i in range(40)],
        "doc_id long, text string",
    ).repartition(n_part * 2)
    bench = spark.createDataFrame(
        [(1000 + i, f"corpus doc number {i} with some shared words inside") for i in range(3)],
        "doc_id long, text string",
    )
    out = dedup_ops.fuzzy_decontaminate(
        corpus, bench, shingle_k=3, shingle_mode="word", threshold=0.6
    )
    p = plan_string(out)
    # the benchmark-side banding probe stays a forced broadcast
    assert p.count("BroadcastHashJoin") >= 1, p
    # this fixture's contamination volume is far below the measured
    # bound, so the final corpus anti-join must be a STATIC broadcast
    # (the corpus side stays map-only — no shuffle map stage ever runs)
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p
    import re

    for m in re.finditer(r"\(\d+\) SortMergeJoin[\s\S]*?Left keys \[\d+\]: \[(\w+)", p):
        assert m.group(1).startswith(("corpus_id", "bench_id", "doc_id")), p


def test_minhash_dedup_final_anti_join_broadcasts_bounded_losers(spark):
    # round 9: the loser-id sliver is materialized, counted, and (when
    # bounded) broadcast so the corpus side of the final anti-join never
    # shuffles — statically, not via AQE's too-late conversion. Pin the
    # BroadcastHashJoin LeftAnti in the analyzed plan.
    import re

    docs = spark.createDataFrame(
        [(i, f"shared tail words here {'x' if i % 2 else 'y'}") for i in range(24)],
        "doc_id long, text string",
    )
    out = dedup_ops.minhash_dedup(
        docs, shingle_k=3, shingle_mode="word", threshold=0.5
    )
    p = plan_string(out)
    assert re.search(r"BroadcastHashJoin[\s\S]{0,200}?LeftAnti", p), p


def test_pin_partitioned_eliminates_per_iteration_edge_exchange(spark):
    # the pagerank/CC loop shape: a loop-INVARIANT edge table joined on
    # the same key every round. localCheckpoint erases
    # outputPartitioning (UnknownPartitioning), so the checkpoint-pinned
    # edge side re-shuffles per iteration; pin_partitioned (repartition
    # + persist — InMemoryRelation PRESERVES HashPartitioning) removes
    # that exchange: per-iteration ENSURE_REQUIREMENTS exchanges drop
    # from 3 (edges + ranks + groupBy) to 2 (ranks + groupBy). Broadcast
    # disabled so the small fixture exercises the large-regime SMJ plan.
    from starlight_for_kafka_spark.plans.checkpoints import RollingCheckpoint

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_a = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    roll = RollingCheckpoint(spark)
    try:
        e = spark.range(2000).select(
            (F.col("id") % 50).alias("src"),
            (F.col("id") % 70).alias("dst"),
            F.lit(1.0).alias("share"),
        )
        ranks = spark.range(70).select(
            F.col("id").alias("node"), F.lit(0.01).alias("rank")
        ).localCheckpoint(eager=True)

        def ensure_exchanges(left):
            j = (
                left.join(ranks, left["src"] == ranks["node"])
                .groupBy("dst")
                .agg(F.sum(F.col("rank") * F.col("share")).alias("inflow"))
            )
            return (
                j._jdf.queryExecution()
                .executedPlan()
                .toString()
                .count("ENSURE_REQUIREMENTS")
            )

        assert ensure_exchanges(roll.pin_partitioned(e, "src")) == 2
        assert ensure_exchanges(roll.pin(e)) == 3
    finally:
        roll.abort()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_a is not None:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_a
            )


def test_bpe_tokenize_is_map_only(spark, documents):
    # the production tokenizer kernel is a single Arrow hop over the
    # scan: no Exchange anywhere — the corpus crosses into Python once,
    # and the merge ranks travel by broadcast variable, not join. It is
    # deliberately NOT parallelism-spread: the per-partition word cache
    # makes the kernel vocab-dominated, and spreading would multiply the
    # encode work per distinct word by the slot count (see the operator).
    from starlight_for_kafka_spark.operators.text import bpe_tokenize

    df = bpe_tokenize(
        documents.select("doc_id", "text"), [("t", "h"), ("th", "e")]
    )
    p = plan_string(df)
    assert exchange_count(df) == 0, p
    assert "MapInPandas" in p, p
