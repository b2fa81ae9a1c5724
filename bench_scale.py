#!/usr/bin/env python
"""Scale-stress harness: the heavy bench operators at SCALE x the sf0.1
data volume, on the engine's stock configuration.

The sf0.1 fixtures are ~17 MB; every 100 TB design claim in this repo
deserves evidence at more than toy volume. This harness synthesizes a
SCALE-times-replicated copy of the tables the heavy operators read
(events, documents) with salted ids — deterministic, derived purely from
the driver's own fixtures:

  * events:    event_id' = event_id*S + r, user_id' = user_id*S + r
               (per-user event counts stay constant — replication must not
               manufacture hot keys the base data doesn't have),
               ts' = ts + r seconds.
  * documents: doc_id' = doc_id*S + r; replica texts get a distinct
               prefix, so replicas are NEAR-duplicates (realistic bounded
               clusters of size <= S for the dedup family) rather than S
               exact copies (which would quadratically blow up every LSH
               bucket by construction of the data, not the algorithm).
  * embeddings: vec_id' = vec_id*S + r; vectors rotated by r%dim with a
               per-generation (r//dim) hash sign pattern — both
               transforms are cosine-preserving within a replica class
               and decorrelate classes from each other at any S, so true
               pair volume scales linearly with S.

Then it runs the heavy suite and records, per query: wall seconds, total
shuffle-write bytes, and the largest single-stage shuffle write (from the
Spark status REST API), plus the JVM peak heap — the numbers that expose
a super-linear shuffle or a memory cliff before a real cluster does.

Usage:
  python bench_scale.py                 # SCALE=10 (sf1-equivalent)
  SPARK_GRAFT_SCALE=30 python bench_scale.py
  SPARK_GRAFT_SCALE=1 python bench_scale.py   # baseline on sf0.1 directly

Prints ONE JSON line:
  {"metric": "bench_scale_total_sec", "value": N, "unit": "sec",
   "scale": S, "queries": {...}, "shuffle": {...}, "rows": {...},
   "peak_jvm_heap_mb": N}
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
os.environ.setdefault("SPARK_GRAFT_UI", "true")

SCALE = int(os.environ.get("SPARK_GRAFT_SCALE", "10"))
# SPARK_GRAFT_SCALE_SKEW=1: manufacture a genuinely hot key (one user
# owns 10% of all events) on top of the replication — the replicated
# data otherwise deliberately preserves per-user counts. Runs the suite
# on the skewed table AND times the salted operators vs their unsalted
# twins (run_skew_rows).
SKEW = os.environ.get("SPARK_GRAFT_SCALE_SKEW", "0") == "1"
# SPARK_GRAFT_SCALE_SKEW_SHARE: fraction of ALL events owned by the hot
# user (default 0.1). 0.5 is the extreme point where the hot key's
# single-task cost dominates a 32-core stage and salting visibly pays.
SKEW_SHARE = float(os.environ.get("SPARK_GRAFT_SCALE_SKEW_SHARE", "0.1"))
BASE = os.environ.get("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
SCRATCH = os.environ.get(
    "SPARK_GRAFT_SCALE_DIR",
    f"/tmp/slk_scale_{SCALE}x"
    + (f"_skew{int(SKEW_SHARE * 100)}" if SKEW else ""),
)

# the heavy set: the slowest shuffle/iterative/codec plans in bench.py,
# plus two cheap scan-shaped rows as linearity references
SUITE = [
    "produce_offsets_dense",   # full-shuffle offset assignment (reference row)
    "session_windows",         # sessionization (reference row)
    "dedup_exact",
    "line_dedup",
    "dedup_ngram_jaccard",
    # star_above=8 twin: same output semantics, pair emission capped
    # linear-in-cluster-size — the Σ cluster² guard. The replicated data
    # has near-dup clusters of size <= SCALE by construction, so at 30x
    # this row is exactly the flatten-the-curve evidence vs its twin
    "dedup_ngram_jaccard_star8",
    "dedup_minhash",
    "dedup_minhash_star8",
    "dedup_minhash_cc",
    # auto-sized hyperplane LSH (n_planes from corpus count): bucket²
    # work should stay ~flat per row across 1x/10x/30x
    "dedup_embedding_lsh_auto64",
    # distributed kNN join, LSH mode with self-sizing planes: every 25th
    # vector queries the rest. The brute twin is quadratic by construction
    # (at 30x: 6k queries x 144k corpus = 864M cosine folds); the LSH row's
    # candidate volume per query tracks target_bucket x (planes+1) as the
    # auto plane count grows with log2(corpus)
    "knn_join_lsh_auto",
    # IVFADC retrieval join at 64 cells/nprobe 2: candidate volume per
    # query ~2/64 of the corpus; the join side carries codes, not floats
    "pq_knn_join_cells64",
    # cross-doc shared-passage removal at its worst case BY CONSTRUCTION:
    # every replica's whole body is shared with its base doc, so nearly
    # all replica positions are removable. Gram/coverage/reassembly row
    # counts are all linear in SCALE; the shuffle curve bends only where
    # Catalyst flips the freq/coverage joins from broadcast to SMJ as the
    # intermediates outgrow the threshold (verified 10x vs 30x plans)
    "remove_repeated_spans",
    # round-7 star caps on the remaining two pair-emitting paths: the
    # SCALE-replicated near-dup clusters make every cell/bucket hot, so
    # these rows are the linear-emission evidence (their uncapped twins
    # are quadratic by construction of the data — see each row's comment)
    "semantic_dedup_star60",
    "simhash_star8",
    # round-7 fuzzy decontamination: fixed-size benchmark broadcast
    # against the SCALE-grown corpus — wall should track the corpus scan
    # linearly and shuffle stay sliver-sized (candidates + verify only)
    "fuzzy_decontaminate",
    "pagerank_event_graph",
    "commitlog_append",
    "wire_transcode_codecs",
    # round-5 addition: the heaviest media-decode plan — payload now
    # crosses the Arrow boundary once per VIDEO (array-of-frames column),
    # not once per sampled frame; this row tracks that the fix holds as
    # payload volume scales
    "multimodal_frame_features",
]

# SPARK_GRAFT_SCALE_SUITE=a,b,c restricts the run (e.g. the linear rows
# only at very high SCALE, where the pairwise-dedup rows' output volume
# grows with cluster^2 by construction of the replicated data)
_suite_env = os.environ.get("SPARK_GRAFT_SCALE_SUITE")
if _suite_env == "none":
    SUITE = []  # streaming/ingest-only invocations
elif _suite_env:
    SUITE = [q.strip() for q in _suite_env.split(",") if q.strip()]


def synthesize(spark) -> dict[str, int]:
    """Write the SCALE-x tables (idempotent per table per scale dir)."""
    from pyspark.sql import functions as F

    from starlight_for_kafka_spark import load_table

    os.makedirs(SCRATCH, exist_ok=True)
    rows: dict[str, int] = {}
    reps = F.explode(F.sequence(F.lit(0), F.lit(SCALE - 1))).alias("r")

    def committed(path: str) -> bool:
        # dir-exists alone would trust a partial write from a killed run
        return os.path.exists(os.path.join(path, "_SUCCESS"))

    ev_path = os.path.join(SCRATCH, "events.parquet")
    if not committed(ev_path):
        ev = load_table(spark, BASE, "events").select("*", reps)
        user = F.col("user_id") * SCALE + F.col("r")
        if SKEW:
            # one user owns SKEW_SHARE of ALL events — the hot key the
            # plain replication deliberately never manufactures
            mod = max(2, int(round(1.0 / SKEW_SHARE)))
            user = F.when(F.col("event_id") % mod == 0, F.lit(0)).otherwise(user)
        out = ev.select(
            (F.col("event_id") * SCALE + F.col("r")).alias("event_id"),
            F.expr("timestamp_micros(unix_micros(ts) + r * 1000000)").alias("ts"),
            user.alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        out.repartition(32).write.mode("overwrite").parquet(ev_path)
    rows["events"] = spark.read.parquet(ev_path).count()

    doc_path = os.path.join(SCRATCH, "documents.parquet")
    if not committed(doc_path):
        docs = load_table(spark, BASE, "documents").select("*", reps)
        text = F.when(F.col("r") == 0, F.col("text")).otherwise(
            F.concat(F.lit("replica "), F.col("r").cast("string"), F.lit(" "), F.col("text"))
        )
        out = docs.select(
            (F.col("doc_id") * SCALE + F.col("r")).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            F.length(text).cast("long").alias("n_chars"),
        )
        out.repartition(32).write.mode("overwrite").parquet(doc_path)
    rows["documents"] = spark.read.parquet(doc_path).count()

    emb_path = os.path.join(SCRATCH, "embeddings.parquet")
    if not committed(emb_path):
        emb = load_table(spark, BASE, "embeddings").select("*", reps)
        # Rotate each vector by r%dim positions and, per wrap-around
        # GENERATION g = r//dim, flip signs with a g-seeded per-element
        # hash pattern: rotation and elementwise sign patterns are both
        # cosine-PRESERVING within a replica class (dot(s∘u, s∘v) =
        # Σ s_i² u_i v_i = dot(u, v)), so each class reproduces the base
        # table's near-dup pair structure exactly and true output pairs
        # grow linearly with SCALE — while classes with the same rotation
        # but different generations differ in ~half their signs (expected
        # cosine ~0), so replication manufactures NO duplicate clusters
        # at ANY scale (a single global negation only covered two
        # generations; r and r+2*dim were identical beyond SCALE=128).
        dim = F.size("embedding")
        rr = F.col("r") % dim
        gen = (F.col("r") / dim).cast("int")
        rotated = F.concat(
            F.slice(F.col("embedding"), rr + 1, dim - rr),
            F.slice(F.col("embedding"), F.lit(1), rr),
        )
        signed = F.when(gen == 0, rotated).otherwise(
            F.zip_with(
                rotated,
                F.sequence(F.lit(0), dim - 1),
                lambda x, i: x
                * (F.lit(1) - F.pmod(F.xxhash64(gen, i), F.lit(2)) * 2).cast(
                    "float"
                ),
            )
        )
        out = emb.select(
            (F.col("vec_id") * SCALE + F.col("r")).alias("vec_id"),
            signed.alias("embedding"),
            "label",
        )
        out.repartition(32).write.mode("overwrite").parquet(emb_path)
    rows["embeddings"] = spark.read.parquet(emb_path).count()
    return rows


class StageMetrics:
    """Per-query shuffle accounting from the status REST API: new stages
    since the last mark, their total and max-single-stage shuffle write.

    The base URL comes from THIS session's uiWebUrl and the app id from
    its applicationId — never a hardcoded :4040 — so a concurrent Spark
    app holding the default port cannot get its stages attributed to this
    run's published numbers."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = sc.uiWebUrl  # e.g. http://host:4041
        self.app_id = sc.applicationId if self.base else None
        self.seen: set[int] = set()
        self.mark()

    def _rest(self, path: str):
        with urllib.request.urlopen(f"{self.base}/api/v1/{path}") as r:
            return json.load(r)

    def _stages(self):
        if self.app_id is None:
            return []
        try:
            return self._rest(f"applications/{self.app_id}/stages?status=complete")
        except Exception:
            return []

    def mark(self):
        self.seen = {s["stageId"] for s in self._stages()}

    def delta(self) -> dict:
        new = [s for s in self._stages() if s["stageId"] not in self.seen]
        writes = [int(s.get("shuffleWriteBytes", 0)) for s in new]

        def total(field: str) -> int:
            return sum(int(s.get(field, 0)) for s in new)

        return {
            "n_stages": len(new),
            "shuffle_write_bytes": sum(writes),
            "max_stage_shuffle_write_bytes": max(writes, default=0),
            "executor_run_s": total("executorRunTime") / 1e3,
            "gc_s": total("jvmGcTime") / 1e3,
            "spill_bytes": total("memoryBytesSpilled") + total("diskBytesSpilled"),
        }

    def peak_heap_mb(self) -> float | None:
        if self.app_id is None:
            return None
        try:
            execs = self._rest(f"applications/{self.app_id}/executors")
            peaks = [
                e.get("peakMemoryMetrics", {}).get("JVMHeapMemory", 0)
                for e in execs
            ]
            return round(max(peaks, default=0) / 1e6, 1)
        except Exception:
            return None


def _drive_stateful(spark, name: str, src: str, schema: str, build) -> dict:
    """Run one stateful-streaming scale row: parquet-file source →
    ``build(stream)`` → noop sink, availableNow; returns the state-store
    and batch-duration telemetry the batch rows can't show. Flat
    per-batch durations across the run = no state-store pressure; state
    rows scale with the operator's key space."""
    import shutil

    from starlight_for_kafka_spark.streaming import stream_ops

    ckpt = os.path.join(SCRATCH, f"{name}_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)  # fresh state per invocation
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    t0 = time.perf_counter()
    q = (
        build(stream)
        .writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    q.stop()
    wall = round(time.perf_counter() - t0, 3)
    durations = [int(p["durationMs"]["triggerExecution"]) for p in progress]
    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    return {
        "query": name,
        "wall_sec": wall,
        "n_batches": len(progress),
        "batch_duration_ms": durations,
        "input_rows": sum(int(p["numInputRows"]) for p in progress),
        "state_rows_final": int(state[-1]["numRowsTotal"]) if state else None,
        "state_memory_bytes_final": int(state[-1]["memoryUsedBytes"]) if state else None,
    }


def run_streaming_rows(spark, sf_dir: str) -> list[dict]:
    """The three custom stateful coordinators (applyInPandasWithState),
    each over a SCALE-proportional key space — offsets-log recovery keyed
    by (group, topic, partition), the consumer-group coordinator keyed by
    group, the transaction coordinator keyed by transactional id. Sources
    are cached per scratch dir (delete SCRATCH to re-synthesize); key
    spaces: 500*SCALE commit groups, 200*SCALE membership groups
    (800*SCALE members), 500*SCALE transactional ids."""
    from pyspark.sql import functions as F

    from starlight_for_kafka_spark import load_table
    from starlight_for_kafka_spark.operators import groups as g
    from starlight_for_kafka_spark.streaming import stream_ops

    os.makedirs(SCRATCH, exist_ok=True)
    events = load_table(spark, sf_dir, "events")
    rows = []

    src = os.path.join(SCRATCH, "offsets_wire_src")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        commits = g.derive_commits_from_events(events, n_groups=500 * SCALE)
        g.encode_offsets_topic(commits).repartition(16).write.mode(
            "overwrite"
        ).parquet(src)
    rows.append(
        _drive_stateful(
            spark, "offsets_wire_recovery_stream", src,
            "key binary, value binary, append_ts long",
            stream_ops.offsets_wire_recovery_stream,
        )
    )

    src = os.path.join(SCRATCH, "membership_src")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        g.derive_membership_from_events(
            events, n_groups=200 * SCALE, n_members=800 * SCALE
        ).repartition(16).write.mode("overwrite").parquet(src)
    rows.append(
        _drive_stateful(
            spark, "group_coordinator_stream", src,
            "group string, member string, action string, ts timestamp, event_id long",
            stream_ops.group_coordinator_stream,
        )
    )

    src = os.path.join(SCRATCH, "txn_events_src")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        # SCALE-proportional id space; action index = event_id DIV 5 so
        # ids cycle through all five actions (init/add/add/commit/abort)
        events.select(
            F.concat(
                F.lit("t"), (F.col("user_id") % (500 * SCALE)).cast("string")
            ).alias("transactional_id"),
            F.col("ts"),
            F.col("event_id"),
            F.element_at(
                F.array(
                    F.lit("init"), F.lit("add_partitions"),
                    F.lit("add_offsets"), F.lit("end_commit"),
                    F.lit("end_abort"),
                ),
                ((F.col("event_id") / 5).cast("int") % 5) + 1,
            ).alias("action"),
        ).repartition(16).write.mode("overwrite").parquet(src)
    rows.append(
        _drive_stateful(
            spark, "txn_coordinator_stream", src,
            "transactional_id string, ts timestamp, event_id long, action string",
            stream_ops.txn_coordinator_stream,
        )
    )

    # typed Avro consume path at SCALE (reference analog:
    # CONSUME_MESSAGE_CONVERSIONS_TIME_NANOS, grafana/dashboard.json):
    # the full SCALE-x events table Confluent-framed with a v1 writer
    # schema (one-time encode, cached per scratch), then decoded
    # per-microbatch by the Arrow mapInPandas kernel with reader-writer
    # resolution (reader adds a defaulted field + widens int->long).
    # Stateless: the claim is per-batch wall tracks batch rows (flat
    # across microbatches), i.e. the decode kernel has no corpus term
    # and no state-store pressure at any SCALE.
    import json as _json

    from starlight_for_kafka_spark.operators import registry as reg

    v1 = _json.dumps({
        "type": "record", "name": "Event", "fields": [
            {"name": "k", "type": "long"},
            {"name": "user", "type": "long"},
            {"name": "etype", "type": "string"},
            {"name": "val", "type": "int"},
        ],
    })
    rd = _json.dumps({
        "type": "record", "name": "Event", "fields": [
            {"name": "k", "type": "long"},
            {"name": "user", "type": "long"},
            {"name": "etype", "type": "string"},
            {"name": "val", "type": "long"},
            {"name": "src", "type": "string", "default": "crawl"},
        ],
    })
    src = os.path.join(SCRATCH, "avro_wire_src")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        base = events.select(
            F.col("event_id").alias("k"),
            F.lit(1).cast("int").alias("schema_id"),
            F.struct(
                F.col("event_id").alias("k"),
                F.col("user_id").alias("user"),
                F.col("event_type").alias("etype"),
                (F.col("value") * 100).cast("int").alias("val"),
            ).alias("record"),
        )
        reg.avro_encode(base, {1: v1}).repartition(16).write.mode(
            "overwrite"
        ).parquet(src)
    rows.append(
        _drive_stateful(
            spark, "typed_avro_decode_stream", src,
            "k long, schema_id int, value binary",
            lambda s: stream_ops.typed_avro_stream(s, {1: v1}, rd),
        )
    )
    return rows


def run_knn_serving_row(spark, sf_dir: str) -> dict:
    """Streaming-retrieval scale row (round-10): knn_serving_stream over
    a SCALE-x corpus with a FIXED query volume. The serving claim under
    test: the corpus is hyperplane-bucketed ONCE (persisted before the
    first batch — the ``corpus_bucket_col`` at-rest seam), so per-batch
    wall tracks the batch's query count and its probed buckets, not the
    corpus size. Evidence = per-batch trigger durations flat across the
    run and a one-time corpus-prep cost separated from the batch costs."""
    import shutil

    from pyspark.sql import functions as F

    from starlight_for_kafka_spark import load_table
    from starlight_for_kafka_spark.operators.similarity import auto_plane_count
    from starlight_for_kafka_spark.streaming import stream_ops

    os.makedirs(SCRATCH, exist_ok=True)
    corpus = load_table(spark, sf_dir, "embeddings")
    n_corpus = corpus.count()
    # plane count self-sized from the SCALE-x corpus (the same
    # auto_plane_count the batch lsh row uses) so expected bucket
    # occupancy — and with it per-query probe cost — stays ~target
    # across 1x/30x/300x instead of buckets growing linearly with SCALE
    n_planes = auto_plane_count(n_corpus, target_bucket=64)

    # fixed query set from the BASE fixtures: 8 parquet files x ~?
    # vectors, maxFilesPerTrigger=2 → 4 microbatches of constant size
    # regardless of SCALE (query volume must NOT scale with the corpus)
    qsrc = os.path.join(SCRATCH, "knn_serving_query_src")
    if not os.path.exists(os.path.join(qsrc, "_SUCCESS")):
        base = load_table(spark, BASE, "embeddings")
        base.filter(F.col("vec_id") % 4 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ).repartition(8).write.mode("overwrite").parquet(qsrc)

    ckpt = os.path.join(SCRATCH, "knn_serving_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = (
        spark.readStream.schema("query_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 2)
        .parquet(qsrc)
    )
    out_rows = []

    def sink(df, epoch_id):
        out_rows.append(df.count())

    t0 = time.perf_counter()
    q = stream_ops.knn_serving_stream(
        stream, corpus, sink, ckpt, k=5, n_planes=n_planes,
    )
    q.processAllAvailable()
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    q.stop()
    wall = round(time.perf_counter() - t0, 3)
    return {
        "query": "knn_serving_stream",
        "corpus_rows": n_corpus,
        "n_planes": n_planes,
        "wall_sec": wall,
        "n_batches": len(progress),
        "batch_duration_ms": [
            int(p["durationMs"]["triggerExecution"]) for p in progress
        ],
        "query_rows": sum(int(p["numInputRows"]) for p in progress),
        "result_rows": sum(out_rows),
    }


def run_ingest_row(spark, sf_dir: str) -> dict:
    """The recurring-crawl ingestion loop (stream_ops.
    incremental_ingest_stream) at SCALE: the SCALE-x documents table
    split into 3 crawl snapshots (doc_id % 3), delivered one microbatch
    each; every batch exact-dedups then MinHash-probes against the
    corpus grown by the earlier batches and appends its survivors.
    Replica texts spread across snapshots by the id arithmetic, so
    cross-batch near-dup work is real at every SCALE. Records per-batch
    wall (foreachBatch is opaque to stateOperators — durationMs is the
    whole ingest) and per-epoch admitted rows: batch cost must track
    the BATCH + admitted-corpus column scans (the asymmetric-probe
    contract), and admissions must SHRINK as the corpus grows."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from starlight_for_kafka_spark import load_table
    from starlight_for_kafka_spark.streaming import stream_ops

    os.makedirs(SCRATCH, exist_ok=True)
    src = os.path.join(SCRATCH, "ingest_src")
    if not os.path.exists(os.path.join(src, "_READY")):
        shutil.rmtree(src, ignore_errors=True)
        os.makedirs(src)
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        for r in range(3):
            docs.filter(F.col("doc_id") % 3 == r).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(src, f"b{r}"))
        open(os.path.join(src, "_READY"), "w").close()
    corpus_dir = os.path.join(SCRATCH, "ingest_corpus")
    ckpt = os.path.join(SCRATCH, "ingest_ckpt")
    shutil.rmtree(corpus_dir, ignore_errors=True)
    shutil.rmtree(corpus_dir + "_index", ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    os.makedirs(corpus_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    t0 = time.perf_counter()
    q = stream_ops.incremental_ingest_stream(
        stream, corpus_dir, ckpt,
        shingle_k=3, threshold=0.7, shingle_mode="word",
    )
    q.awaitTermination(3600)
    wall = round(time.perf_counter() - t0, 3)
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    admitted = {}
    for epoch in sorted(
        d for d in os.listdir(corpus_dir) if d.startswith("epoch=")
    ):
        n_files = len(glob.glob(os.path.join(corpus_dir, epoch, "*.parquet")))
        admitted[epoch] = {
            "rows": spark.read.parquet(os.path.join(corpus_dir, epoch)).count(),
            "files": n_files,
        }
    return {
        "query": "incremental_ingest_stream",
        "wall_sec": wall,
        "n_batches": len(progress),
        "batch_duration_ms": [
            int(p["durationMs"]["triggerExecution"]) for p in progress
        ],
        "input_rows_per_batch": [int(p["numInputRows"]) for p in progress],
        "admitted": admitted,
    }


def run_ingest_fixed_batch_row(spark, sf_dir: str, metrics) -> dict:
    """The asymmetric-probe claim measured the production way
    (SPARK_GRAFT_SCALE_INGEST=fixed): a FIXED-size crawl batch (the BASE
    sf0.1 documents, 5k rows) ingested against a corpus pre-seeded with
    the full SCALE-x table. The 30x row (3 snapshots) shows flat
    per-batch wall while batch and corpus grow together; THIS row holds
    the batch constant and scales only the corpus, so the per-batch wall
    and shuffle isolate the corpus term: the corpus contributes one
    map-only scan (digests + banding signatures, no corpus self-join),
    so wall should grow far sublinearly vs SCALE and shuffle should stay
    batch-sized plus the corpus banding sliver."""
    import shutil

    from pyspark.sql import functions as F

    from starlight_for_kafka_spark import load_table
    from starlight_for_kafka_spark.streaming import stream_ops

    # SPARK_GRAFT_SCALE_INGEST_MOD: batch sparsity. 1 (default) ingests
    # every BASE doc — the ADVERSARIAL ceiling, where each batch doc has
    # SCALE near-replicas in the corpus so the probed sliver IS the
    # whole corpus (shuffle grows with corpus, wall stays flat because
    # the work is probe-bounded). 50 ingests a 100-doc batch — the
    # PRODUCTION shape, where the probed sliver is batch x SCALE rows
    # and the corpus term reduces to the map-only index scan.
    mod = int(os.environ.get("SPARK_GRAFT_SCALE_INGEST_MOD", "1"))
    os.makedirs(SCRATCH, exist_ok=True)
    src = os.path.join(SCRATCH, f"ingest_fixed_src_m{mod}")
    if not os.path.exists(os.path.join(src, "_READY")):
        shutil.rmtree(src, ignore_errors=True)
        os.makedirs(src)
        base = load_table(spark, BASE, "documents").select("doc_id", "text")
        if mod > 1:
            base = base.filter(F.col("doc_id") % mod == 0)
        # shift ids out of the corpus id space, and PERTURB the text: the
        # SCALE replica r=0 carries the base text verbatim, so an
        # unmodified batch would be 100% exact-duplicate and the MinHash
        # probe would measure an empty input. A 2-word tail keeps each
        # doc a NEAR-dup of its corpus original (exact digest differs,
        # word-3-gram Jaccard stays high for long docs), so the banding
        # probe + verify sliver do real work and short docs genuinely
        # admit
        base.select(
            (F.col("doc_id") + 50_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" crawl tail")).alias("text"),
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, "b0")
        )
        open(os.path.join(src, "_READY"), "w").close()
    corpus_dir = os.path.join(SCRATCH, "ingest_fixed_corpus")
    seed = os.path.join(corpus_dir, "epoch=-1")
    if not os.path.exists(os.path.join(seed, "_SUCCESS")):
        shutil.rmtree(corpus_dir, ignore_errors=True)
        shutil.rmtree(corpus_dir + "_index", ignore_errors=True)
        os.makedirs(corpus_dir)
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        ).write.mode("overwrite").parquet(seed)
    # drop any prior run's admitted epochs so re-runs probe the same
    # corpus (epoch=-1 only); keep epoch=-1's INDEX (the stored-index
    # seam means re-runs pay only the narrow scan, which is the claim)
    for d in os.listdir(corpus_dir):
        if d.startswith("epoch=") and d != "epoch=-1":
            shutil.rmtree(os.path.join(corpus_dir, d), ignore_errors=True)
    if os.path.isdir(corpus_dir + "_index"):
        for d in os.listdir(corpus_dir + "_index"):
            if d != "epoch=-1":
                shutil.rmtree(
                    os.path.join(corpus_dir + "_index", d), ignore_errors=True
                )
    ckpt = os.path.join(SCRATCH, "ingest_fixed_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    corpus_rows = spark.read.parquet(seed).count()
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    # SPARK_GRAFT_SCALE_INGEST_STAR=1: the production crawl cap — hot
    # probe buckets emit anchor stars instead of dropping (recall for
    # mega-duplicated docs at linear cost; see incremental_minhash_dedup)
    star = os.environ.get("SPARK_GRAFT_SCALE_INGEST_STAR", "0") == "1"
    metrics.mark()
    t0 = time.perf_counter()
    q = stream_ops.incremental_ingest_stream(
        stream, corpus_dir, ckpt,
        shingle_k=3, threshold=0.7, shingle_mode="word",
        max_bucket=None if star else 200,
        star_above=8 if star else None,
    )
    q.awaitTermination(3600)
    wall = round(time.perf_counter() - t0, 3)
    shuffle = metrics.delta()
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    admitted = 0
    for d in os.listdir(corpus_dir):
        if d.startswith("epoch=") and d != "epoch=-1":
            admitted += spark.read.parquet(os.path.join(corpus_dir, d)).count()
    return {
        "query": "incremental_ingest_fixed_batch",
        "scale": SCALE,
        "corpus_rows": corpus_rows,
        "batch_rows": sum(int(p["numInputRows"]) for p in progress),
        "wall_sec": wall,
        "batch_duration_ms": [
            int(p["durationMs"]["triggerExecution"]) for p in progress
        ],
        "admitted_rows": admitted,
        "shuffle": shuffle,
    }


def run_skew_rows(spark, sf_dir: str) -> dict:
    """Hot-key stress (SPARK_GRAFT_SCALE_SKEW=1): measure WHEN salting
    matters, on a table where one user owns SKEW_SHARE of all events
    (default 10%; SPARK_GRAFT_SCALE_SKEW_SHARE=0.5 is the recorded
    extreme point).

    Three legs, each the median of 3 runs:

    1. Algebraic agg (count/sum). EXPECTED AND RECORDED FINDING: the
       plain groupBy WINS at every scale — hash aggregation
       partial-combines map-side, so the hot key reaches the reduce side
       as one partial row per map partition and never skews a reducer.
       Salting an algebraic agg is pure overhead (an extra shuffle of
       pre-aggregated rows); the row documents that salting is the WRONG
       tool here, which is as load-bearing a scale fact as the wins
       below. (Catalyst similarly rewrites count_distinct into a
       two-shuffle expand keyed by (group, value) — also skew-free.)

    2. Per-key top-k: row_number over a user window vs grouped_top_k.
       A window has NO partial reduction — every row of the hot key
       funnels through one task's sort. The salted two-stage form bounds
       any task at max(rows per (key, salt), k * n_salts). This is where
       the hot key actually hurts and salting actually pays.

    3. Shuffled join against a mid-size dim. AQE's runtime skew split
       covers this case IF the hot partition crosses its thresholds; the
       defaults (256 MB / factor 5) are sized for real-cluster
       partitions, so the harness scales them to its own data volume
       (8 MB threshold / 4 MB advisory — the same ratio to this run's
       partition sizes that the defaults have to a 100 TB job's).
       salted_join is the explicit form for plans AQE cannot re-split
       (stream-static microbatch joins, bucket-pinned layouts).
    """
    import statistics

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from starlight_for_kafka_spark import load_table
    from starlight_for_kafka_spark.operators import skew as sk

    ev = load_table(spark, sf_dir, "events")

    def timed(build) -> float:
        runs = []
        for _ in range(3):
            df = build()
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            runs.append(round(time.perf_counter() - t0, 3))
        return round(statistics.median(runs), 3)

    out: dict = {}
    hh = sk.heavy_hitters(ev, ["user_id"], k=1).first()
    out["hot_key_share"] = round(float(hh["share"]), 4)

    # 1) algebraic agg: partial combine neutralizes the hot key — the
    #    plain plan should win; recorded to pin the "don't salt this" rule
    out["agg_unsalted_sec"] = timed(lambda: ev.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("value").alias("sv")
    ))
    out["agg_salted_sec"] = timed(lambda: sk.salted_aggregate(
        ev,
        ["user_id"],
        [F.count("*").alias("__n"), F.sum("value").alias("__sv")],
        [F.sum("__n").alias("n"), F.sum("__sv").alias("sv")],
        salt_cols=["event_id"],
    ))

    # 2) per-key top-k: single global window (hot key -> one task's sort)
    #    vs two-stage salted. Wall-clock on a 32-core in-memory box
    #    understates the damage — the cluster-relevant number is the
    #    STRAGGLER RATIO (max/median task time of the heaviest stage): a
    #    single hot task that is 30x the median is invisible here (31
    #    idle cores wait 2 s) and is the whole job's wall-clock on 1000
    #    executors (one task = hours while the fleet idles). Record both.
    sm = StageMetrics(spark)

    def straggler(build) -> dict:
        """Worst max/median task-time ratio across the query's stages —
        a balanced scan stage would mask the skewed sort stage if we only
        looked at the heaviest stage by total run time."""
        sm.mark()
        build().write.mode("overwrite").format("noop").save()
        new = [s for s in sm._stages() if s["stageId"] not in sm.seen]
        worst: dict = {}
        for s in new:
            try:
                q = sm._rest(
                    f"applications/{sm.app_id}/stages/{s['stageId']}/"
                    f"{s.get('attemptId', 0)}/taskSummary?quantiles=0.5,1.0"
                )
                med, mx = (float(v) for v in q["executorRunTime"])
            except Exception:
                continue
            ratio = mx / max(med, 1.0)
            if not worst or ratio > worst["straggler_ratio"]:
                worst = {
                    "median_task_ms": round(med, 1),
                    "max_task_ms": round(mx, 1),
                    "straggler_ratio": round(ratio, 1),
                }
        return worst

    def plain_topk():
        w = Window.partitionBy("user_id").orderBy(
            F.col("value").desc(), F.col("event_id")
        )
        return (
            ev.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
        )

    def salted_topk():
        return sk.grouped_top_k(
            ev, ["user_id"], [F.col("value").desc(), F.col("event_id")], k=5,
            salt_cols=["event_id"],
        )

    out["topk_window_sec"] = timed(plain_topk)
    out["topk_window_tasks"] = straggler(plain_topk)
    out["topk_salted_sec"] = timed(salted_topk)
    out["topk_salted_tasks"] = straggler(salted_topk)

    # 2b) per-key RUNNING sum: the window family with NO Catalyst
    #     de-skew (a running aggregate needs every row — WindowGroupLimit
    #     only covers rank<=k). The plain window funnels the hot key's
    #     rows through one task's sort; keyed_running_sum range-shards
    #     the order column and rebases per-shard prefix sums.
    ev_ord = ev.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ord"), "value"
    )

    def plain_cumsum():
        w = Window.partitionBy("user_id").orderBy(
            "ord", "event_id"
        ).rowsBetween(Window.unboundedPreceding, 0)
        return ev_ord.withColumn("running_sum", F.sum("value").over(w))

    def sharded_cumsum():
        return sk.keyed_running_sum(
            ev_ord, ["user_id"], "ord", "value", "event_id", n_shards=32
        )

    out["cumsum_window_sec"] = timed(plain_cumsum)
    out["cumsum_window_tasks"] = straggler(plain_cumsum)
    out["cumsum_sharded_sec"] = timed(sharded_cumsum)
    out["cumsum_sharded_tasks"] = straggler(sharded_cumsum)

    # 3) shuffled join against a mid-size dim (broadcast disabled so the
    #    shuffle path — where skew lives — actually runs): plain join
    #    with volume-scaled AQE skew thresholds vs explicit salted join
    dim = (
        ev.select("user_id").distinct()
        .withColumn("segment", F.pmod(F.col("user_id"), F.lit(100)))
    ).localCheckpoint(eager=True)
    conf = spark.conf
    saved = {
        k: conf.get(k, d)
        for k, d in [
            ("spark.sql.autoBroadcastJoinThreshold", "10485760"),
            ("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
             "256MB"),
            ("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"),
            ("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "5.0"),
        ]
    }
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8MB"
    )
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4MB")
    # factor gates on hot > factor * MEDIAN partition: with only 32
    # shuffle partitions a 10% hot key is ~4x the median, while on a
    # real cluster's thousands of partitions the same key is thousands
    # of times the median — scale the gate like the byte thresholds
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "3.0")
    try:
        last_plan = {}

        # the downstream agg keeps the event PAYLOAD (value, props) in
        # the join shuffle, as a real enrichment join would — a bare
        # count() prunes the fact side to the constant join key, whose
        # hot partition compresses to ~nothing and ducks every byte
        # threshold (measured: the split never fires on a pruned key)
        aggs = [
            F.sum("value").alias("sv"),
            F.sum(F.length("props")).alias("sp"),
        ]

        def plain_join():
            j = ev.join(dim, "user_id").groupBy("segment").agg(*aggs)
            last_plan["df"] = j
            return j

        out["join_plain_sec"] = timed(plain_join)
        # inspect the EXECUTED plan (post-AQE): the noop write runs a
        # SEPARATE query execution, so force one action through the
        # DataFrame's own QE — AQE finalizes skew splits only at runtime
        last_plan["df"].collect()  # 100 segment rows, control-plane
        plan = last_plan["df"]._jdf.queryExecution().executedPlan().toString()
        out["join_plain_aqe_skew_split"] = "skew=true" in plan
        out["join_salted_sec"] = timed(lambda: sk.salted_join(
            ev, dim, ["user_id"]
        ).groupBy("segment").agg(*aggs))
    finally:
        for k, v in saved.items():
            conf.set(k, v)
    return out


def main() -> None:
    from starlight_for_kafka_spark import get_session
    from starlight_for_kafka_spark.plans.checkpoints import (
        release_session_storage,
    )

    import __spark_entry__ as entrymod

    spark = get_session(app=f"starlight-scale-{SCALE}x")
    spark.sparkContext.setLogLevel("ERROR")

    if SCALE == 1 and not SKEW:
        sf_dir, rows = BASE, {}
    else:
        t0 = time.perf_counter()
        rows = synthesize(spark)
        print(
            f"  synthesized {rows} in {round(time.perf_counter() - t0, 1)}s",
            file=sys.stderr,
        )
        sf_dir = SCRATCH

    queries = dict(entrymod.queries())

    def _capped_minhash(spark, sf):
        from starlight_for_kafka_spark import load_table
        from starlight_for_kafka_spark.operators import dedup

        docs = entrymod._docs_with_near(load_table(spark, sf, "documents"))
        return dedup.minhash_dedup(
            docs, num_hashes=16, bands=4, shingle_k=3, threshold=0.7,
            shingle_mode="word", star_above=8,
        ).select("doc_id")

    def _capped_ngram(spark, sf):
        from starlight_for_kafka_spark import load_table
        from starlight_for_kafka_spark.operators import dedup

        docs = entrymod._docs_with_near(load_table(spark, sf, "documents"))
        return dedup.ngram_jaccard_pairs(
            docs, threshold=0.6, shingle_k=3, shingle_mode="word",
            star_above=8,
        )

    queries["dedup_minhash_star8"] = _capped_minhash
    queries["dedup_ngram_jaccard_star8"] = _capped_ngram

    def _semantic_star(spark, sf):
        # SemDeDup with the round-7 cell star cap. At SCALE the 8 seed
        # cells hold ~n/8 vectors each, so the UNCAPPED within-cell pair
        # space is 8*(n/8)^2 — at 30x (60k vectors) that is ~450M cosine
        # pairs, the quadratic-by-construction case the cap exists for;
        # the capped row does n-8 anchor comparisons (linear).
        from starlight_for_kafka_spark import load_table
        from starlight_for_kafka_spark.operators import dedup

        emb = load_table(spark, sf, "embeddings")
        cents = [
            [float(x) for x in r.embedding]
            for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
        ]
        return dedup.semantic_dedup(emb, cents, threshold=0.35, star_above=60)

    def _simhash_star_xx(spark, sf):
        # the xxhash64 PRODUCTION fingerprint twin of simhash_star8:
        # identical pigeonhole/star math, native-hash fingerprint pass
        # (the md5 row's floor is the oracle-determinism seam, not an
        # algorithmic cost — this row records what production pays)
        from starlight_for_kafka_spark import load_table
        from starlight_for_kafka_spark.operators import dedup

        docs = entrymod._docs_with_near(load_table(spark, sf, "documents"))
        return dedup.simhash_near_dups(
            docs, max_bucket=None, star_above=8, hash_fn="xxhash64"
        )

    queries["simhash_star8_xx"] = _simhash_star_xx

    def _simhash_star(spark, sf):
        # SimHash pigeonhole search with the per-block bucket star cap
        # (max_bucket lifted so the star path, not the drop path, bounds
        # the hot buckets the SCALE-replicated near-dup clusters create)
        from starlight_for_kafka_spark import load_table
        from starlight_for_kafka_spark.operators import dedup

        docs = entrymod._docs_with_near(load_table(spark, sf, "documents"))
        return dedup.simhash_near_dups(
            docs, max_bucket=None, star_above=8
        )

    from pyspark.sql import functions as F

    queries["semantic_dedup_star60"] = _semantic_star
    queries["simhash_star8"] = _simhash_star

    def _emb_lsh_auto(spark, sf):
        from starlight_for_kafka_spark import load_table
        from starlight_for_kafka_spark.operators import dedup

        # n_planes=None auto-sizes the bucket space from the corpus count
        # (similarity.auto_plane_count) — THE claim under test here: the
        # within-bucket quadratic work should stay ~flat per row as the
        # corpus grows because the plane count grows with log2(n).
        return dedup.embedding_cosine_dups(
            load_table(spark, sf, "embeddings"),
            threshold=0.95, n_planes=None, target_bucket=64,
        )

    queries["dedup_embedding_lsh_auto64"] = _emb_lsh_auto

    def _knn_lsh_auto(spark, sf):
        from starlight_for_kafka_spark import load_table
        from starlight_for_kafka_spark.operators import similarity

        emb = load_table(spark, sf, "embeddings")
        q = emb.filter(F.col("vec_id") % 25 == 0).withColumnRenamed(
            "vec_id", "query_id"
        )
        c = emb.filter(F.col("vec_id") % 25 != 0)
        return similarity.knn_join(
            q, c, k=5, method="lsh", n_planes=None, probe_hamming1=True
        )

    queries["knn_join_lsh_auto"] = _knn_lsh_auto

    def _pq_knn64(spark, sf):
        # IVFADC at a production-ish topology: 64 IVF cells (vs the
        # sf0.01 oracle fixture's 4), nprobe=2 — candidates per query are
        # ~2/64 of the corpus and the join moves 4 int codes + a cell id
        # per corpus vector, never the 64 floats
        from starlight_for_kafka_spark import load_table
        from starlight_for_kafka_spark.operators import similarity

        emb = load_table(spark, sf, "embeddings")
        q = emb.filter(F.col("vec_id") % 25 == 0).withColumnRenamed(
            "vec_id", "query_id"
        )
        c = emb.filter(F.col("vec_id") % 25 != 0)
        rows = {
            int(r.vec_id): [float(v) for v in r.embedding]
            for r in emb.filter(F.col("vec_id") < 64).collect()
        }
        books = [
            [rows[cc][j * 16:(j + 1) * 16] for cc in range(8)] for j in range(4)
        ]
        cents = [rows[cc] for cc in sorted(rows)]
        return similarity.pq_knn_join(q, c, books, cents, k=5, nprobe=2)

    queries["pq_knn_join_cells64"] = _pq_knn64

    def _pq_knn_sqrtn(spark, sf):
        # the PRODUCTION cell-count rule: cells ~ sqrt(corpus). The
        # fixed-64-cell row above is the honest quadratic-risk exhibit
        # (candidates ~ Q*C/cells grow with the square when both sides
        # scale); this row is the answer — the sqrt-n rule holds
        # candidates-per-query ~ nprobe*sqrt(C), so total join volume
        # grows ~C^1.5/Q-linear instead of C^2. The transform rewrite
        # (array-constant centroids, one lambda) is what makes a
        # many-hundred-cell codebook compile at O(1) plan size.
        from starlight_for_kafka_spark import load_table
        from starlight_for_kafka_spark.operators import similarity

        emb = load_table(spark, sf, "embeddings")
        n_corpus = emb.count()
        cells = max(64, int(round(n_corpus ** 0.5)))
        q = emb.filter(F.col("vec_id") % 25 == 0).withColumnRenamed(
            "vec_id", "query_id"
        )
        c = emb.filter(F.col("vec_id") % 25 != 0)
        rows = {
            int(r.vec_id): [float(v) for v in r.embedding]
            for r in emb.filter(F.col("vec_id") < cells).collect()
        }
        books = [
            [rows[cc][j * 16:(j + 1) * 16] for cc in range(8)] for j in range(4)
        ]
        cents = [rows[cc] for cc in sorted(rows)]
        return similarity.pq_knn_join(q, c, books, cents, k=5, nprobe=2)

    queries["pq_knn_join_cells_sqrtn"] = _pq_knn_sqrtn

    def _pq_knn_sqrtn_atrest(spark, sf):
        # the FULL production shape: sqrt-n cells AND the at-rest code
        # table (pq_encode + ivf_assign written once at ingest — cached
        # per scratch dir here). The inline sqrt-n row above shows why:
        # per-probe corpus assignment costs corpus x cells x dim and
        # dominates at production cell counts; at rest, the probe pays
        # only the query-side LUT/probe ranking + the cell equi-join
        # over codes. First invocation per scratch pays the one-time
        # encode (outside the timed region via the cache marker).
        import glob as _glob

        from starlight_for_kafka_spark import load_table
        from starlight_for_kafka_spark.operators import similarity

        emb = load_table(spark, sf, "embeddings")
        n_corpus = emb.count()
        cells = max(64, int(round(n_corpus ** 0.5)))
        q = emb.filter(F.col("vec_id") % 25 == 0).withColumnRenamed(
            "vec_id", "query_id"
        )
        c = emb.filter(F.col("vec_id") % 25 != 0)
        rows_ = {
            int(r.vec_id): [float(v) for v in r.embedding]
            for r in emb.filter(F.col("vec_id") < cells).collect()
        }
        books = [
            [rows_[cc][j * 16:(j + 1) * 16] for cc in range(8)] for j in range(4)
        ]
        cents = [rows_[cc] for cc in sorted(rows_)]
        code_path = os.path.join(SCRATCH, f"pq_codes_{cells}")
        if not os.path.exists(os.path.join(code_path, "_SUCCESS")):
            similarity.pq_encode(c, books).drop("recon_sq_err").join(
                similarity.ivf_assign(c, cents).select("vec_id", "ivf_cell"),
                "vec_id",
            ).write.mode("overwrite").parquet(code_path)
        at_rest = spark.read.parquet(code_path)
        return similarity.pq_knn_join(
            q, c, books, cents, k=5, nprobe=2, corpus_codes=at_rest
        )

    queries["pq_knn_join_sqrtn_atrest"] = _pq_knn_sqrtn_atrest

    def _fuzzy_decon(spark, sf):
        # benchmark decontamination at scale: the corpus grows with
        # SCALE, the benchmark DOESN'T (eval sets are fixed-size — built
        # from the BASE fixtures so it holds ~100 docs at every SCALE).
        # Every replica of a doc_id%50==0 base doc is a near-dup of its
        # bench item by construction (replica prefix edits), so the
        # flagged set grows linearly with SCALE while the bench-side
        # broadcast stays constant; the corpus side must remain
        # scan+map-shaped (tiny shuffle) at every point
        from starlight_for_kafka_spark import load_table
        from starlight_for_kafka_spark.operators import dedup

        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        base = load_table(spark, BASE, "documents").select("doc_id", "text")
        bench = base.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 7_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" eval answer token")).alias("text"),
        )
        return dedup.fuzzy_decontaminate(
            docs, bench, num_hashes=16, bands=4, shingle_k=3,
            threshold=0.7, shingle_mode="word",
        )

    queries["fuzzy_decontaminate"] = _fuzzy_decon

    # SPARK_GRAFT_BPE_MERGES overrides the merge budget for the
    # production-vocab asymptote run (32k merges = the full production
    # vocabulary; the driver-side lazy-heap trainer is the piece under
    # test there — wall + peak driver RSS pin the claim end-to-end)
    _bpe_merges = int(os.environ.get("SPARK_GRAFT_BPE_MERGES", "2000"))
    # salt-space width: distinct words ≈ 31 base words x SALTS. The
    # default 256 (~8k words) exhausts its merge space at ~20.3k merges
    # (measured), so the 32k-vocab asymptote run needs SALTS=4096
    # (~127k distinct words — the realistic post-min_word_freq vocab of
    # a production corpus)
    _bpe_salts = int(os.environ.get("SPARK_GRAFT_BPE_SALTS", "256"))

    def _bpe_train_local_k2000(spark, sf):
        # production-vocab BPE training (SPARK_GRAFT_SCALE_SUITE row, not
        # in the default SUITE): the documents fixture holds only 31
        # distinct words at EVERY SF, which exhausts any BPE trainer at
        # ~100 merges — so this row salts each word with a deterministic
        # md5 suffix keyed (word, doc_id%256), growing the vocabulary to
        # ~8k distinct words (merge budget ~50k) while the corpus-sized
        # step (the word-frequency collapse) still scans the full
        # SCALE-replicated table. The claim under test: 2,000 merges cost
        # driver-side heap time (O(affected words) per round), not 2,000
        # shuffles — vs bpe_train's ~2 Spark jobs per merge.
        from starlight_for_kafka_spark import load_table
        from starlight_for_kafka_spark.operators import text as text_ops

        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        words = F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        )
        salted = docs.select(
            F.concat_ws(
                " ",
                F.transform(
                    words,
                    lambda w: F.concat(
                        w,
                        F.lit("-"),
                        F.substring(
                            F.md5(
                                F.concat(
                                    w,
                                    F.lit(":"),
                                    (F.col("doc_id") % _bpe_salts).cast("string"),
                                )
                            ),
                            1,
                            4,
                        ),
                    ),
                ),
            ).alias("text")
        )
        return text_ops.bpe_train_local(salted, n_merges=_bpe_merges)

    queries["bpe_train_local_k2000"] = _bpe_train_local_k2000

    def _kmeans_fit_k64(spark, sf):
        # production IVF cell training (SPARK_GRAFT_SCALE_SUITE row):
        # 64 cells x 3 Lloyd rounds over the SCALE-x embeddings. Each
        # round is one map-only assignment against the 64-centroid
        # literal (one transform lambda — plan size O(1) in cells, the
        # _centroid_sims rationale) + one 64 x 64-dim partial-combined
        # mean; the scan count is 2*n_iter regardless of corpus size.
        from starlight_for_kafka_spark import load_table
        from starlight_for_kafka_spark.operators import similarity

        emb = load_table(spark, sf, "embeddings")
        cents = similarity.kmeans_fit(emb, k=64, n_iter=3)
        rows = [
            (i, d, float(c))
            for i, cv in enumerate(cents)
            for d, c in enumerate(cv)
        ]
        return spark.createDataFrame(
            rows, "ivf_cell int, dim int, centroid double"
        )

    def _pq_train_ks256(spark, sf):
        # production PQ codebook training: m=4 subspaces x 256 codes x
        # 2 L2 rounds — the codebook shape FAISS defaults to (8-bit
        # codes). 4 x 2 column-pruned scans; codebooks stay driver-sized
        # (4 x 256 x 16 floats).
        from starlight_for_kafka_spark import load_table
        from starlight_for_kafka_spark.operators import similarity

        emb = load_table(spark, sf, "embeddings")
        books = similarity.pq_train(emb, m=4, ks=256, n_iter=2)
        rows = [
            (j, c, d, float(v))
            for j, book in enumerate(books)
            for c, code in enumerate(book)
            for d, v in enumerate(code)
        ]
        return spark.createDataFrame(
            rows, "subspace int, code int, dim int, v double"
        )

    queries["kmeans_fit_k64"] = _kmeans_fit_k64
    queries["pq_train_ks256"] = _pq_train_ks256
    entrymod.q_list_offsets(spark, sf_dir).write.mode("overwrite").format("noop").save()

    metrics = StageMetrics(spark)
    timings: dict[str, float] = {}
    shuffle: dict[str, dict] = {}
    for name in SUITE:
        metrics.mark()
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        # release the finished query's pinned checkpoint blocks + full gc
        # (measured: media decode 34-61s behind the dedup/codec rows'
        # residue vs 3.3s after a System.gc, identical plans — see
        # plans/checkpoints.py)
        release_session_storage(spark)
        shuffle[name] = metrics.delta()
        print(
            f"  {name}: {timings[name]}s "
            f"(shuffle {shuffle[name]['shuffle_write_bytes'] >> 20} MiB, "
            f"max stage {shuffle[name]['max_stage_shuffle_write_bytes'] >> 20} MiB)",
            file=sys.stderr,
        )

    streaming = None
    if os.environ.get("SPARK_GRAFT_SCALE_STREAMING", "1") == "1":
        streaming = run_streaming_rows(spark, sf_dir)
        for row in streaming:
            print(f"  streaming: {row}", file=sys.stderr)

    ingest = None
    _ingest_mode = os.environ.get("SPARK_GRAFT_SCALE_INGEST", "0")
    if _ingest_mode == "1":
        ingest = run_ingest_row(spark, sf_dir)
        print(f"  ingest: {ingest}", file=sys.stderr)
    elif _ingest_mode == "fixed":
        ingest = run_ingest_fixed_batch_row(spark, sf_dir, metrics)
        print(f"  ingest: {ingest}", file=sys.stderr)

    knn_serving = None
    if os.environ.get("SPARK_GRAFT_SCALE_KNN_SERVING", "0") == "1":
        knn_serving = run_knn_serving_row(spark, sf_dir)
        print(f"  knn_serving: {knn_serving}", file=sys.stderr)

    skew_rows = None
    if SKEW:
        skew_rows = run_skew_rows(spark, sf_dir)
        print(f"  skew: {skew_rows}", file=sys.stderr)

    result = {
        "metric": "bench_scale_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "scale": SCALE,
        "queries": timings,
        "shuffle": shuffle,
        "rows": rows,
        "streaming": streaming,
        "ingest": ingest,
        "knn_serving": knn_serving,
        "skew": skew_rows,
        "peak_jvm_heap_mb": metrics.peak_heap_mb(),
        # peak DRIVER (Python) RSS — the bpe_train_local lazy-heap
        # trainer and the kmeans/PQ codebooks live here, not in the JVM;
        # Linux ru_maxrss is KiB
        "peak_driver_rss_mb": round(
            __import__("resource").getrusage(
                __import__("resource").RUSAGE_SELF
            ).ru_maxrss / 1024.0, 1,
        ),
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
