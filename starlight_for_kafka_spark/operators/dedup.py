"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference surface (the reference dedups only producer retries,
storage/ProducerStateManager.java); these are the document-level dedup
family a 100 TB text pipeline needs:

  * exact        — content hash, keep first (one shuffle on the hash)
  * minhash_lsh  — shingle → K minhash signatures → B bands → candidate
                   pairs via band-bucket self-join → Jaccard verify
  * simhash      — 64-bit weighted-bit fingerprint, hamming buckets
  * ngram_jaccard— direct Jaccard over shingle sets for candidate pairs

Scale notes: LSH is the scale path — the band self-join shuffles only
(band, bucket) keys, never the O(n²) pair space; hot buckets (boilerplate
docs) are capped with a per-bucket size limit to bound worst-case skew.
All hashing is MD5-based (functions/hashing.py) so results are
reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from starlight_for_kafka_spark.functions.hashing import (
    char_shingles,
    md5_hash64,
    normalize,
    shingles,
    word_shingles,
    words,
)


def content_digest(text_col) -> "F.Column":
    """THE canonical content digest for exact dedup: lowercase,
    whitespace-collapse, md5 over the utf-8 bytes.

    Single definition on purpose — the at-rest dedup index writer
    (streaming/stream_ops._index_frame) and the incremental probe
    (incremental_dedup) both store/compare these digests across
    restarts, so two drifting copies of the recipe would silently turn
    every stored digest into a miss and no-op the exact dedup. Accepts
    a column or a column name."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.md5(normalize(c).cast("binary"))


#: digest-recipe version recorded next to stored indexes (_PARAMS.json);
#: bump whenever content_digest's normalization changes so a stale
#: at-rest index is detected instead of silently missing every probe.
CONTENT_DIGEST_VERSION = 1


def _broadcast_if_bounded(ids: DataFrame, id_col: str, max_bytes: int = 32 << 20):
    """Broadcast a MATERIALIZED ids-only sliver iff its measured payload
    is genuinely bounded in BYTES, not rows.

    A row-count gate (≤1-2M rows) assumes fixed-width ids, but
    ``id_col`` is caller-supplied and commonly a string (URLs, UUID
    hex): 2M rows of 150-byte URLs is ~300 MB in the broadcast hash
    relation, and ``F.broadcast`` bypasses the byte-size safety of
    ``autoBroadcastJoinThreshold`` entirely. The sliver is already
    checkpointed by every caller, so one extra aggregate (count + avg
    width of the id rendered as a string) is a cheap, stats-known scan;
    the estimate charges ~16 bytes/row of hash-relation overhead on top
    of the measured payload. Returns the (possibly broadcast) frame."""
    st = ids.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.length(F.col(id_col).cast("string"))).alias("w"),
    ).first()
    n = st["n"] or 0
    est = n * (float(st["w"] or 8.0) + 16.0)
    return F.broadcast(ids) if est <= max_bytes else ids


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: normalize → md5 → keep lowest-id doc per digest.

    Keep-first is a ``min_by`` aggregation, not a per-digest window: the
    aggregate partial-combines map-side, so a digest duplicated 10⁸ times
    reduces to one candidate row per map task before the shuffle instead
    of serializing one reducer (same shape as text.line_dedup's keeper
    agg). Assumes ``id_col`` is unique (it is the document key)."""
    return _keep_min_id_per_digest(
        df.withColumn("__digest", content_digest(text_col)), df.columns, id_col
    )


def _keep_min_id_per_digest(
    tagged: DataFrame, out_cols: list[str], id_col: str
) -> DataFrame:
    """Skew-safe keep-first: one partial-combining min_by per __digest."""
    return (
        tagged.groupBy("__digest")
        .agg(F.min_by(F.struct(*out_cols), F.col(id_col)).alias("__row"))
        .select("__row.*")
    )


def dedup_stats(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group duplication diagnostics: document count, distinct content
    digests, duplicate count, and dup rate — the corpus-health view run
    BEFORE committing to a dedup pass (sibling of skew.heavy_hitters: a
    group with a runaway dup rate usually means a broken upstream crawler,
    not real content). Same normalize→md5 digest as exact_dedup, two
    map-side-combinable aggregations, no self-join."""
    per_group = (
        df.withColumn("__digest", content_digest(text_col))
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("__digest").alias("n_distinct"),
        )
    )
    return per_group.select(
        group_col,
        "n_docs",
        "n_distinct",
        (F.col("n_docs") - F.col("n_distinct")).alias("n_dups"),
        F.round(
            (F.col("n_docs") - F.col("n_distinct")) / F.col("n_docs"), 6
        ).alias("dup_rate"),
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_digests: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus exact dedup: drop incoming docs whose normalized
    content already exists in the corpus, then dedup within the batch
    (keep lowest id). The incremental-ingestion shape: at 100 TB the
    corpus side reduces to a digest column (one scan, heavy text never
    shuffles) — and the corpus digests never shuffle EITHER: the batch's
    distinct digests (batch-bounded) probe the corpus via a semi-join
    (AQE broadcasts the probe side at microbatch sizes), so only the
    matching digest SLIVER (≤ batch distinct digests) reaches the
    anti-join. The previous shape ran ``corpus.distinct()`` before the
    anti-join — one corpus-linear shuffle per ingest, measured 10x
    shuffle growth for a fixed batch as the corpus grew 10x (300x
    fixed-batch row, BASELINE.md round 9).

    ``corpus_digests``: optional at-rest (…, ``digest``) frame — the
    stored-index seam (see :func:`incremental_minhash_dedup`'s
    ``corpus_signatures``): pass it and the corpus TEXT is not read at
    all for the exact pass. Stored digests MUST be produced by
    :func:`content_digest` (the index writer uses the same helper;
    ``CONTENT_DIGEST_VERSION`` is recorded in the index _PARAMS.json so
    a recipe drift is detected instead of silently missing)."""
    digest = content_digest(text_col)
    if corpus_digests is None:
        corpus_digests = corpus.select(digest.alias("__digest"))
    else:
        corpus_digests = corpus_digests.select(
            F.col("digest").alias("__digest")
        )
    probe = new_docs.select(digest.alias("__digest")).distinct()
    seen = (
        corpus_digests.join(probe, "__digest", "left_semi").distinct()
    )
    fresh = (
        new_docs.withColumn("__digest", digest)
        .join(seen, "__digest", "left_anti")
    )
    # same skew-safe min_by keep-first as exact_dedup (no per-digest window)
    return _keep_min_id_per_digest(fresh, new_docs.columns, id_col)


def snapshot_delta(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Crawl-snapshot diff: classify every document id across two
    snapshots of the same source as ``added`` (only in ``new``),
    ``removed`` (only in ``old``), ``changed`` (both, different
    normalized content), or ``unchanged`` — the ingestion-governance
    report you read before re-running a 100 TB pipeline over a fresh
    crawl (an `unchanged` share near 1 means the downstream dedup /
    quality / tokenize stages can skip re-processing via the stored
    digests; a spike in `removed` means the crawler lost a domain, not
    that the pipeline should forget it).

    Scale shape: both sides reduce to (id, digest) FIRST — one scan
    each, the heavy text never shuffles — then ONE full-outer
    digest-level join on the id (co-partitioned, both sides hash on the
    same key). Emits (id, status, old_digest, new_digest); downstream
    callers semi-join `added`/`changed` ids back against ``new`` to
    fetch content for just the slice that needs re-processing.

    The digest is the repo-standard normalized-content md5 (lowercase,
    whitespace collapsed — same as :func:`exact_dedup` /
    :func:`incremental_dedup`), so `changed` means *content* change,
    not formatting noise. Ids must be unique WITHIN each snapshot (the
    crawl-key contract); a duplicated id would multiply through the
    join like any keyed log with a corrupt key.
    """
    digest = content_digest(text_col)
    o = old.select(F.col(id_col), digest.alias("old_digest"))
    n = new.select(F.col(id_col), digest.alias("new_digest"))
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") == F.col("new_digest"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(id_col, status.alias("status"), "old_digest", "new_digest")


MINHASH_PRIME = 2_147_483_647  # 2^31 - 1; a*h + b stays inside int64


def _minhash_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic permutation coefficients (LCG-spread, nonzero a)."""
    a = [(1_103_515_245 * (i + 1) + 12_345) % MINHASH_PRIME or 1 for i in range(num_hashes)]
    b = [(69_069 * (i + 1) + 1_013_904_223) % MINHASH_PRIME for i in range(num_hashes)]
    return a, b


def _shingle_expr(text_col: str, shingle_k: int, mode: str):
    if mode == "word":
        return word_shingles(words(F.col(text_col)), shingle_k)
    return shingles(F.col(text_col), shingle_k)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 5,
    shingle_mode: str = "char",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Per-doc MinHash signature as (id[, *extra_cols], array<long>
    signature). ``extra_cols`` ride along unchanged (partition-scoped
    dedup carries its policy columns this way — they never enter the
    hash).

    One md5 per distinct shingle; the K hash family is linear permutations
    h_i(x) = (a_i·x + b_i) mod P over that single base hash — the classic
    construction, so signature cost is O(|shingles|) hashing + O(K·|shingles|)
    integer ops, all per-row: ZERO shuffle — strictly better at 100 TB than
    an explode→groupBy formulation, whose shuffle would carry every shingle.

    Shape matters inside the row too: K independent
    ``array_min(transform(hashes, h_i))`` folds beat one
    ``aggregate`` carrying a running K-vector, because the latter
    constructs a fresh K-element array per SHINGLE (benched 4.6s vs 1.8s
    for the sf0.1 clone corpus on local[32]). Empty shingle sets (text
    shorter than k) keep the fold identity P so the signature is always
    K-long and non-null.
    """
    a, b = _minhash_coeffs(num_hashes)
    # spread docs across cores before the heavy hashing — but ONLY when
    # the incoming plan is narrower than the executor slots (a small
    # parquet file arrives as 1-2 input splits, which would serialize
    # the hashing on one task). A 100 TB scan already arrives wide, and
    # an unconditional repartition there would shuffle the ENTIRE corpus
    # text just to hash it — the one corpus-sized shuffle the map-only
    # consumers (fuzzy_decontaminate, stored-signature ingest) exist to
    # avoid. Values are per-row, so the branch never changes results.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    n_in = df.rdd.getNumPartitions()
    sh = F.array_distinct(_shingle_expr(text_col, shingle_k, shingle_mode))
    hashes = F.transform(sh, lambda s: md5_hash64(s) % MINHASH_PRIME)

    def perm(i):
        return lambda h: (F.lit(a[i]) * h + F.lit(b[i])) % MINHASH_PRIME

    signature = F.array(
        *[
            F.coalesce(
                F.array_min(F.transform(F.col("__hashes"), perm(i))),
                F.lit(MINHASH_PRIME).cast("long"),
            )
            for i in range(num_hashes)
        ]
    )
    src = df.repartition(n_part, id_col) if n_in < n_part else df
    extras = [F.col(c) for c in (extra_cols or [])]
    return (
        src.withColumn("__hashes", hashes)
        .select(F.col(id_col), *extras, signature.alias("signature"))
    )


def _banded_signatures(
    signatures: DataFrame,
    id_col: str,
    bands: int,
    num_hashes: int | None,
    materialize: bool = True,
    extra_cols: list[str] | None = None,
) -> DataFrame | None:
    """(id, band, bucket) LSH banding rows, materialized. Returns None
    for an empty input (the caller picks its empty shape).

    Materialized BEFORE any consumer derives from it: the typical plan
    references this subtree several times (hot-bucket agg, anti-join
    probe, join sides), and without a barrier the full minhash signature
    pass — the dominant cost — re-runs once per consumer (AQE does not
    reliably reuse the exchange). Banded rows are (id, band, bucket-hash)
    — tiny relative to the corpus at any scale. Callers that consume the
    banding rows exactly ONCE (e.g. the corpus probe side of
    :func:`fuzzy_decontaminate`, a pure broadcast-join pipeline) pass
    ``materialize=False`` so corpus-scale banding rows never hit local
    disk — the single-consumer plan re-derives them in-stream."""
    if num_hashes is None:
        first = signatures.select(F.size("signature")).first()
        if first is None:
            return None
        n = first[0]
    else:
        n = num_hashes
    # a non-divisor silently ignores trailing signature components, and
    # bands > n makes every band hash '' — ONE global bucket (then the
    # hot-bucket cap drops it and the dedup silently becomes a no-op)
    if bands < 1 or n % bands != 0:
        raise ValueError(
            f"bands must divide the signature length (bands={bands}, "
            f"num_hashes={n})"
        )
    rows_per_band = n // bands
    extras = list(extra_cols or [])
    banded = signatures.select(
        id_col,
        *extras,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("signature")[b * rows_per_band + r].cast("string")
                                    for r in range(rows_per_band)
                                ],
                            ).cast("binary")
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, *extras, "bb.band", "bb.bucket")
    if not materialize:
        return banded
    return banded.localCheckpoint(eager=True)


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    max_bucket: int | None = 200,
    num_hashes: int | None = None,
    star_above: int | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands, bucket on the
    band hash, self-join buckets → candidate pairs (a < b).

    ``max_bucket`` caps degenerate buckets (boilerplate text) so a single
    hot key can't quadratic-blow a 1000-executor job; dropped buckets are
    by definition near-identical docs that the exact-dedup pass already
    collapses.

    ``star_above`` is the Σ cluster² guard rail — THE 100 TB scaling axis
    of every pair-emitting dedup (pair volume grows with the square of
    duplicate-cluster size, a data property no plan shape can remove, only
    cap): buckets larger than ``star_above`` emit a STAR anchored at the
    bucket's minimum id — (anchor, member) edges, s−1 pairs — instead of
    the full s(s−1)/2 clique, bounding any bucket's emission LINEAR in its
    size while keeping every member reachable from the anchor (connected
    components over star edges equal those over clique edges within the
    bucket, assuming the verify step accepts the anchor pairs — in an LSH
    bucket all members share a band signature, so anchor similarity is
    the same evidence any member pair carries). Recall for individual
    NON-anchor pairs inside oversized buckets is deliberately traded
    away; dedup keeper semantics (drop docs with a verified near-dup of
    smaller id) survive because the anchor IS the smallest id. Default
    ``None`` keeps the exact clique emission.
    """
    banded = _banded_signatures(
        signatures, id_col, bands, num_hashes, extra_cols=partition_cols
    )
    if banded is None:
        # empty corpus (e.g. everything dropped by a quality gate):
        # an empty candidate frame, not a TypeError three frames deep
        return signatures.limit(0).select(
            F.col(id_col).alias("a"), F.col(id_col).alias("b")
        )
    # bucket identity: (partition policy cols +) band + band-hash — with
    # partition_cols two docs can only ever pair inside the same policy
    # cell (never dedup across languages/sources), and every bucket-keyed
    # step below shrinks to the cell's occupancy. Policy values are keyed
    # through a NULL sentinel: a bare equi-join would silently exempt
    # NULL-policy rows from dedup (NULL keys never match, even each
    # other); with the sentinel the NULL cell dedups among itself.
    if partition_cols:
        banded = banded.withColumns(
            {
                c: F.coalesce(F.col(c).cast("string"), F.lit("\x00<null>"))
                for c in partition_cols
            }
        )
    keys = list(partition_cols or []) + ["band", "bucket"]
    # Hot-bucket cap as groupBy + broadcast anti-join, NOT a window count:
    # a window over the bucket keys serializes a mega-hot bucket into one
    # task *before* the cap can drop it, while the groupBy partial-combines
    # map-side so the hot key never concentrates (same shape as
    # simhash_near_dups below).
    # ``max_bucket=None`` = no drop cap (the production crawl config is
    # star_above=O(10), max_bucket=None — star everything, drop nothing)
    if max_bucket is not None:
        hot = (
            banded.groupBy(*keys)
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_bucket)
        )
        sized = banded.join(F.broadcast(hot.select(*keys)), keys, "left_anti")
    else:
        sized = banded
    if star_above is not None:
        # per-bucket size + anchor via ONE partial-combining aggregation
        # (agg-not-window keeper rule: a window over the bucket keys would
        # serialize a hot bucket into one task before the cap applies)
        bstats = sized.groupBy(*keys).agg(
            F.count("*").alias("__bs"), F.min(id_col).alias("__anchor")
        )
        tagged = sized.join(bstats, keys)
        small = tagged.filter(F.col("__bs") <= star_above)
        a = small.select(F.col(id_col).alias("a"), *keys)
        b = small.select(F.col(id_col).alias("b"), *keys)
        clique = (
            a.join(b, keys)
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
        )
        star = (
            tagged.filter(F.col("__bs") > star_above)
            .filter(F.col(id_col) != F.col("__anchor"))
            .select(F.col("__anchor").alias("a"), F.col(id_col).alias("b"))
        )
        return clique.unionByName(star).distinct()
    a = sized.select(F.col(id_col).alias("a"), *keys)
    b = sized.select(F.col(id_col).alias("b"), *keys)
    return (
        a.join(b, keys)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    threshold: float = 0.8,
    shingle_mode: str = "char",
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard ≥ threshold.

    Only docs that appear in a candidate pair are re-shingled (semi-join
    first): LSH keeps the candidate set tiny relative to the corpus, so the
    verify pass touches a sliver of the 100 TB, not all of it.

    The candidate pairs are materialized (localCheckpoint) before use: the
    plan references them three times (two id-projections + the verify join),
    and without a materialization barrier Spark would re-run the whole LSH
    band self-join for each reference. Pairs are tiny (ids only), so the
    checkpoint is cheap at any scale.
    """
    candidates = candidates.localCheckpoint(eager=True)
    n_part = df.sparkSession.sparkContext.defaultParallelism
    cand_ids = (
        candidates.select(F.col("a").alias(id_col))
        .union(candidates.select(F.col("b").alias(id_col)))
        .distinct()
    )
    # the corpus side of this semi-join is the scale term: statically
    # Catalyst plans SMJ (cand_ids derives from a checkpoint, unknown
    # stats) and AQE's runtime BHJ conversion lands only AFTER the big
    # side's shuffle map stage has already written — measured 248 MiB of
    # corpus text shuffled for a 4.6k-pair candidate set (300x
    # fixed-batch row, BASELINE.md round 9). The candidates frame is
    # MATERIALIZED, so its size is measurable for free: broadcast the id
    # probe at planning time whenever its measured BYTE size is bounded
    # (row count x sampled id width — not a row-count proxy, since
    # id_col may be long URLs) and the corpus side stays map-only; past
    # the bound, fall back to the shuffle join (the round-7 no-forced-
    # broadcast-on-unbounded-sets rule — measured, not assumed).
    # NO second eager checkpoint for the id projection (round 10): it is
    # a distinct over the already-checkpointed pairs, so the measuring
    # aggregate and the broadcast build each re-derive it from cached
    # blocks for less than a dedicated materialization job cost.
    cand_ids = _broadcast_if_bounded(cand_ids, id_col)
    docs_needed = df.join(cand_ids, id_col, "left_semi")
    sets_df = docs_needed.repartition(n_part, id_col).select(
        F.col(id_col).alias("__id"),
        F.array_distinct(_shingle_expr(text_col, shingle_k, shingle_mode)).alias("__set"),
    )
    # shingle each candidate doc once, not once per join side
    sets_df = sets_df.localCheckpoint(eager=True)
    j = (
        candidates.join(sets_df.withColumnRenamed("__id", "a").withColumnRenamed("__set", "set_a"), "a")
        .join(sets_df.withColumnRenamed("__id", "b").withColumnRenamed("__set", "set_b"), "b")
        .withColumn("inter", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn("uni", F.size(F.array_union("set_a", "set_b")))
        .withColumn("jaccard", F.col("inter") / F.col("uni"))
    )
    return j.filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


def minhash_jaccard_estimate(
    signatures: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Estimate each candidate pair's Jaccard DIRECTLY from the MinHash
    signatures — the fraction of agreeing components, the unbiased MinHash
    estimator (Broder '97: P[min-hash collision] = J exactly). The
    100 TB-scale alternative to :func:`jaccard_verify`: the verify pass
    re-reads and re-shingles both TEXTS of every candidate pair, while
    this joins two K-long integer arrays — the corpus never re-enters the
    plan. The price is estimator noise ~ sqrt(J(1-J)/K) (K=16 → ±0.12 at
    J=0.5), so use it when LSH banding already pre-filtered to plausible
    pairs and the downstream decision tolerates soft boundaries — or as
    the cheap first stage before an exact verify of the borderline band.

    Emits (a, b, j_est, near_dup). Candidates feed exactly one join chain
    here (unlike jaccard_verify's three consumers), so they are NOT
    checkpointed — a barrier would add a full materialization for zero
    reuse.
    """
    sa = signatures.select(F.col(id_col).alias("a"), F.col("signature").alias("__sa"))
    sb = signatures.select(F.col(id_col).alias("b"), F.col("signature").alias("__sb"))
    return (
        candidates.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "j_est",
            F.size(
                F.filter(
                    F.zip_with("__sa", "__sb", lambda x, y: x == y), lambda v: v
                )
            ).cast("double")
            / F.size("__sa"),
        )
        .select("a", "b", "j_est", (F.col("j_est") >= threshold).alias("near_dup"))
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    threshold: float = 0.8,
    shingle_mode: str = "char",
    star_above: int | None = None,
    partition_cols: list[str] | None = None,
    max_bucket: int | None = 200,
) -> DataFrame:
    """End-to-end near-dedup: keep one doc (lowest id) per near-dup group.

    ``partition_cols`` scopes the dedup to policy cells (e.g.
    ``["lang"]`` — never drop a doc against a near-dup in another
    language): the columns ride through signatures into the banding
    bucket identity, so cross-cell pairs are never EMITTED, not just
    filtered — every bucket-keyed stage shrinks to the cell's occupancy
    (per-language buckets are strictly smaller than global ones, which
    is also the scale story).

    Group resolution: union-find collapsed to "drop any doc that has a
    verified near-dup with a smaller id" — one pass, no iteration; for
    transitive chains this keeps chain minima (slightly conservative vs
    full connected components, which needs iterative joins — see GraphX /
    iterative approach note in similarity.py).

    ``star_above`` (recommended at 100 TB scale: O(10–100)) bounds pair
    emission per LSH bucket linear-in-size — see
    :func:`minhash_lsh_candidates`; the anchor of every star is the
    bucket minimum, which is exactly this function's keeper, so the
    keep-lowest-id semantics compose losslessly with the cap.
    """
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k, shingle_mode,
        extra_cols=partition_cols,
    )
    cands = minhash_lsh_candidates(
        sigs, id_col, bands, max_bucket=max_bucket, num_hashes=num_hashes,
        star_above=star_above, partition_cols=partition_cols,
    )
    verified = jaccard_verify(df, cands, text_col, id_col, shingle_k, threshold, shingle_mode)
    losers = (
        verified.select(F.col("b").alias(id_col))
        .distinct()
        .localCheckpoint(eager=True)  # sliver of ids; size now known
    )
    # the final anti-join's left side is the FULL corpus: statically
    # Catalyst plans SMJ (losers had no stats) and the corpus shuffle
    # map stage writes before AQE can convert (measured on the same
    # pattern in jaccard_verify, BASELINE.md round 9). The loser set is
    # materialized, so broadcast it whenever its measured byte size
    # (count x sampled id width, not a row-count proxy) is genuinely
    # bounded and the corpus stays map-only; past the bound, fall back.
    losers = _broadcast_if_bounded(losers, id_col)
    return df.join(losers, id_col, "left_anti")


def incremental_minhash_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    threshold: float = 0.8,
    shingle_mode: str = "char",
    max_bucket: int | None = 200,
    corpus_signatures: DataFrame | None = None,
    star_above: int | None = None,
) -> DataFrame:
    """Cross-corpus NEAR dedup for incremental ingestion: drop incoming
    docs whose exact shingle Jaccard with ANY existing corpus doc is
    >= ``threshold``, then near-dedup within the batch (keep lowest id)
    — the MinHash complement of :func:`incremental_dedup`'s exact
    digests, for the recurring-crawl shape where each snapshot arrives
    against a corpus already deduped.

    THE 100 TB property: the corpus side NEVER self-joins. Re-running
    :func:`minhash_dedup` over corpus+batch would re-emit every corpus
    Σ cluster² pair on every ingest; here the corpus contributes
    (id, band, bucket) banding rows to an asymmetric probe join against
    the (small) batch, and ships text only for the verified-candidate
    sliver. Corpus signatures are a pure per-row map (zero shuffle —
    minhash_signatures), so at scale they are computed once, stored with
    the corpus, and passed via ``corpus_signatures`` (a
    (id, signature array<long>) frame from :func:`minhash_signatures`
    with the SAME num_hashes/shingle parameters) — measured at 30x the
    signature pass is most of the incremental wall. Left None they are
    recomputed for self-containment.

    Ids must be unique ACROSS both inputs (the verify join keys on id).
    ``max_bucket`` drops degenerate buckets by COMBINED (corpus + batch)
    occupancy — a boilerplate bucket hot on the corpus side would
    otherwise emit |batch ∩ bucket| × |corpus ∩ bucket| probe pairs.
    BUT a recurring crawl's MOST duplicated doc is exactly the one whose
    every bucket is hot, so pure dropping admits the worst offenders
    (measured: a 300x replica corpus admitted 77/100 known near-dups
    through the cap — BASELINE.md round 9). ``star_above`` is the
    recall-preserving alternative, the same anchor-star topology as
    :func:`minhash_lsh_candidates`: a probed bucket larger than the
    cap pairs each batch row against the bucket's MINIMUM corpus id
    only — |batch ∩ bucket| pairs instead of the product — so
    mega-duplicated content verifies against one representative at
    linear cost (recall holds when the bucket is a genuine replica
    cluster, the case that makes buckets hot in a deduped corpus).
    Compose: buckets above ``max_bucket`` drop, (star_above,
    max_bucket] star, the rest emit the full product; the production
    crawl configuration is ``star_above=O(10), max_bucket=None``.

    Returns the surviving rows of ``new_docs`` (original columns).
    """
    sigs_new = minhash_signatures(
        new_docs, text_col, id_col, num_hashes, shingle_k, shingle_mode
    ).localCheckpoint(eager=True)  # feeds two banding passes (batch-sized)
    if corpus_signatures is not None:
        # same stored-signature guard as fuzzy_decontaminate: a length
        # mismatch vs num_hashes would make banding silently no-op
        sigs_old = corpus_signatures.withColumn(
            "signature",
            F.when(
                F.size("signature") == num_hashes, F.col("signature")
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "incremental_minhash_dedup: corpus_signatures "
                            "length "
                        ),
                        F.size("signature").cast("string"),
                        F.lit(f" != num_hashes {num_hashes}"),
                    )
                )
            ),
        )
    else:
        sigs_old = minhash_signatures(
            corpus, text_col, id_col, num_hashes, shingle_k, shingle_mode
        )
    bn = _banded_signatures(sigs_new, id_col, bands, num_hashes)
    if bn is None:
        return new_docs
    # materialize=False: the raw corpus banding has exactly ONE consumer
    # (the probe semi-join below) — checkpointing it would write
    # corpus-linear banding rows to local disk on EVERY ingest; the
    # probed SLIVER is what gets materialized (two consumers)
    bo = _banded_signatures(
        sigs_old, id_col, bands, num_hashes, materialize=False
    )
    within = minhash_lsh_candidates(
        sigs_new,
        id_col,
        bands,
        max_bucket if max_bucket is not None else (1 << 62),
        num_hashes=num_hashes,
        star_above=star_above,
    )
    if bo is None:
        cands = within
    else:
        # PROBE-FIRST: only corpus band rows landing in a bucket the
        # batch actually probes can produce a cross pair (and hot-bucket
        # detection on non-probed buckets is irrelevant — they emit
        # nothing either way), so semi-join the corpus banding against
        # the batch's distinct buckets BEFORE counting or joining. The
        # probe set is batch-bounded (≤ batch rows × bands), AQE
        # broadcasts it, and the corpus banding never shuffles — without
        # this, the occupancy groupBy + the cross join each shuffled the
        # FULL corpus banding on every ingest (corpus-linear per batch;
        # measured at the 300x fixed-batch row, BASELINE.md round 9).
        probe_buckets = bn.select("band", "bucket").distinct()
        bo = bo.join(
            probe_buckets, ["band", "bucket"], "left_semi"
        ).localCheckpoint(eager=True)  # sliver: 2 consumers (counts, cross)
        counts = (
            bn.select("band", "bucket")
            .unionByName(bo.select("band", "bucket"))
            .groupBy("band", "bucket")
            .agg(F.count("*").alias("__n"))
        )
        if max_bucket is not None:
            hot = counts.filter(F.col("__n") > max_bucket).select(
                "band", "bucket"
            )
            bo_cold = bo.join(
                F.broadcast(hot), ["band", "bucket"], "left_anti"
            )
            bn_cold = bn.join(
                F.broadcast(hot), ["band", "bucket"], "left_anti"
            )
        else:
            bo_cold, bn_cold = bo, bn
        star_cross = None
        if star_above is not None:
            starred = counts.filter(F.col("__n") > star_above)
            if max_bucket is not None:
                starred = starred.filter(F.col("__n") <= max_bucket)
            starred = starred.select("band", "bucket")
            # one anchor (min corpus id) per starred bucket; each batch
            # row in the bucket pairs with the anchor only — linear in
            # bucket size, the recall trade documented above
            anchors = (
                bo_cold.join(
                    F.broadcast(starred), ["band", "bucket"], "left_semi"
                )
                .groupBy("band", "bucket")
                .agg(F.min(id_col).alias("a"))
            )
            star_cross = (
                bn_cold.join(
                    F.broadcast(starred), ["band", "bucket"], "left_semi"
                )
                .select(F.col(id_col).alias("b"), "band", "bucket")
                .join(anchors, ["band", "bucket"])
                .select("a", "b")
            )
            bo_cold = bo_cold.join(
                F.broadcast(starred), ["band", "bucket"], "left_anti"
            )
            bn_cold = bn_cold.join(
                F.broadcast(starred), ["band", "bucket"], "left_anti"
            )
        # orientation: the corpus doc is always the keeper (column a),
        # the incoming doc the candidate loser (column b) — matching
        # minhash_dedup's drop-the-b-side rule
        cross = (
            bo_cold.select(F.col(id_col).alias("a"), "band", "bucket")
            .join(
                bn_cold.select(F.col(id_col).alias("b"), "band", "bucket"),
                ["band", "bucket"],
            )
            .select("a", "b")
        )
        if star_cross is not None:
            cross = cross.unionByName(star_cross)
        cands = cross.distinct().unionByName(within)
    docs_all = new_docs.select(id_col, text_col).unionByName(
        corpus.select(id_col, text_col)
    )
    verified = jaccard_verify(
        docs_all, cands, text_col, id_col, shingle_k, threshold, shingle_mode
    )
    losers = verified.select(F.col("b").alias(id_col)).distinct()
    return new_docs.join(losers, id_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    threshold: float = 0.5,
    shingle_mode: str = "char",
    star_above: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (recall 1) via a prefix-filtered
    set-similarity join (the PPJoin family: SIGMOD'06 all-pairs /
    ICDE'08 ppjoin — public literature): Jaccard = |A∩B| / |A∪B| over
    distinct char ``shingle_k``-grams, all pairs ≥ ``threshold``.

    Plan shape — the one that survives 100×. A naive inverted-index
    self-join does Σ df(sh)² work; stop-shingles make that quadratic in
    corpus size (at sf0.1 this corpus has 769M raw shingle pairs, 94% from
    shingles in >500 docs) and it cliffs on a stock heap. Instead:

    1. order every doc's shingle set by GLOBAL rarity (document frequency
       asc, shingle asc) — one keyed count with map-side combine, joined
       back (AQE broadcasts the df side when small);
    2. index only each doc's PREFIX — its |A| − ⌈t·|A|⌉ + 1 rarest
       shingles. Theorem (prefix filtering): two sets with Jaccard ≥ t
       must share at least one prefix shingle under any consistent global
       order, so recall stays exactly 1. Rarity order means stop-shingles
       are never indexed — the hot keys prune themselves;
    3. candidate pairs from the prefix self-join, cut further by the size
       filter (t·|A| ≤ |B|) and the positional filter
       (min(|A|−rank_A, |B|−rank_B)+1 ≥ ⌈t/(1+t)·(|A|+|B|)⌉), both
       exact-safe (they only discard pairs that cannot reach t); at sf0.1
       this is 4.6M distinct candidates instead of 769M raw pairs;
    4. verify candidates exactly: join the (localCheckpointed) sets back
       — broadcast when small, keyed otherwise — and compute
       size(array_intersect) JVM-side.

    Epsilon slack on the three bounds only LOOSENS them (float rounding
    can then never shrink a prefix or over-prune), so exactness is
    preserved by construction; the verify step owns precision.

    Two micro-decisions that dominate wall-clock: (a) the tokenized text
    (normalized string, or word array in word mode) is PROJECTED once
    before shingling — the k-fold zip chain then slices an attribute
    instead of re-running the regexp_replace per slice; (b) shingles are
    hashed to int64 (xxhash64) at birth, so every downstream compare — distinct, df
    count, prefix join, array_intersect verify — works on longs, not
    5-char strings. Jaccard over distinct hashes equals Jaccard over
    distinct shingles barring a 64-bit collision (≈n²/2⁶⁴ — negligible,
    and deterministic if it ever happens).

    ``star_above`` is the Σ cluster² guard rail (same rationale and
    topology as :func:`minhash_lsh_candidates`): a prefix-shingle posting
    group larger than ``star_above`` emits STAR candidates anchored at
    the group's minimum doc id — s−1 pairs instead of s(s−1)/2 — so a
    genuinely duplicated mega-cluster (whose every shingle is shared, so
    rarity ordering cannot prune it) has bounded emission. The output is
    then no longer the full recall-1 pair set inside oversized groups
    (every member still pairs with the group anchor, which downstream
    keep-min-id dedup consumes losslessly); default ``None`` keeps the
    exact AllPairs emission.
    """
    from starlight_for_kafka_spark.plans.spread import spread_if_narrow

    t = float(threshold)
    eps = 1e-9
    # the shingle/hash pass below (split + k-fold zip_with + xxhash64 per
    # position) is the corpus-heavy leg; spread it across cores when the
    # corpus arrives as 1-2 input splits (single-row-group parquet — see
    # plans/spread.py; a wide 100 TB scan skips the guard)
    if shingle_mode == "word":
        # Broder-style w-shingling (same choice minhash_dedup made, same
        # rationale): the word-gram vocabulary is orders of magnitude
        # larger than the char-k-gram space, so document frequencies —
        # and with them the prefix-join pair space — collapse.
        tokenize, shingle = words, word_shingles
    else:
        tokenize, shingle = normalize, char_shingles
    norm = spread_if_narrow(df, id_col).select(
        F.col(id_col).alias("__id"), tokenize(F.col(text_col)).alias("__t")
    )
    hashed = F.transform(
        shingle(F.col("__t"), shingle_k), lambda s: F.xxhash64(s)
    )
    sets_df = norm.select(
        "__id", F.array_distinct(hashed).alias("__set")
    ).withColumn("__n", F.size("__set"))
    sets_df = sets_df.localCheckpoint(eager=True)  # reused: postings + verify

    postings = sets_df.select("__id", "__n", F.explode("__set").alias("sh"))
    dfreq = postings.groupBy("sh").agg(F.count("*").alias("__df"))
    ranked = postings.join(dfreq, "sh").withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("__id").orderBy("__df", "sh")),
    )
    prefix_len = F.col("__n") - F.ceil(F.col("__n") * t - eps) + 1
    # NOT checkpointed: the a⋈b self-join's two sides each re-derive the
    # explode + dfreq + rank-window leg from the sets checkpoint, but an
    # eager materialization of the prefix sliver measured SLOWER at sf0.1
    # (interleaved A/B min 2.31 s → 2.80 s) — the dedicated checkpoint
    # job costs more than the cached-block recompute (same finding as the
    # jaccard_verify trim, OPTIMIZATION_r10.md batch 2).
    prefix = ranked.filter(F.col("rk") <= prefix_len)

    min_overlap = F.ceil((F.col("na") + F.col("nb")) * (t / (1.0 + t)) - eps)
    size_filter = F.least("na", "nb") >= F.greatest("na", "nb") * t - eps
    pos_filter = (
        F.least(F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")) + 1
        >= min_overlap
    )
    if star_above is not None:
        # Σ cluster² cap: oversized posting groups emit a star anchored
        # at the group min id. One partial-combining agg per group (the
        # struct-min carries the anchor's size and rank so the exact-safe
        # size/positional bounds still apply to star candidates).
        gstats = prefix.groupBy("sh").agg(
            F.count("*").alias("__gs"),
            F.min(F.struct("__id", "__n", "rk")).alias("__anc"),
        )
        tagged = prefix.join(gstats, "sh")
        small = tagged.filter(F.col("__gs") <= star_above)
        a = small.select(
            F.col("__id").alias("a"), F.col("__n").alias("na"), F.col("rk").alias("ra"), "sh"
        )
        b = small.select(
            F.col("__id").alias("b"), F.col("__n").alias("nb"), F.col("rk").alias("rb"), "sh"
        )
        clique = a.join(b, "sh").filter(F.col("a") < F.col("b"))
        star = (
            tagged.filter(F.col("__gs") > star_above)
            .filter(F.col("__id") != F.col("__anc.__id"))
            .select(
                F.col("__anc.__id").alias("a"),
                F.col("__anc.__n").alias("na"),
                F.col("__anc.rk").alias("ra"),
                F.col("__id").alias("b"),
                F.col("__n").alias("nb"),
                F.col("rk").alias("rb"),
            )
        )
        cand = (
            clique.select("a", "b", "na", "nb", "ra", "rb")
            .unionByName(star.select("a", "b", "na", "nb", "ra", "rb"))
            .filter(size_filter)
            .filter(pos_filter)
            .select("a", "b", "na", "nb")
            .distinct()
        )
    else:
        a = prefix.select(
            F.col("__id").alias("a"), F.col("__n").alias("na"), F.col("rk").alias("ra"), "sh"
        )
        b = prefix.select(
            F.col("__id").alias("b"), F.col("__n").alias("nb"), F.col("rk").alias("rb"), "sh"
        )
        cand = (
            a.join(b, "sh")
            .filter(F.col("a") < F.col("b"))
            .filter(size_filter)
            .filter(pos_filter)
            .select("a", "b", "na", "nb")
            .distinct()
        )

    sa = sets_df.select(F.col("__id").alias("a"), F.col("__set").alias("__sa"))
    sb = sets_df.select(F.col("__id").alias("b"), F.col("__set").alias("__sb"))
    # verify-join strategy: the candidate side is millions of NARROW rows;
    # sort-merge joining them twice against array-carrying sets costs two
    # full sorts. When the set table fits a broadcast (sets_df is already
    # checkpointed, so the stats scan is cheap), pin broadcast-hash joins —
    # verify then runs map-side over the candidate stream. The gate is on
    # estimated BYTES, not row count: 50k long documents can carry multi-GB
    # shingle arrays, and F.broadcast bypasses the autoBroadcastJoinThreshold
    # safety net, so a row-count gate would OOM instead of falling back.
    stats = sets_df.agg(
        F.count("*").alias("n"), F.sum(F.size("__set")).alias("elems")
    ).first()
    est_bytes = (stats["elems"] or 0) * 24 + (stats["n"] or 0) * 64
    if est_bytes <= 256 * 1024 * 1024:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    inter = F.size(F.array_intersect("__sa", "__sb"))
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """Full 64-bit SimHash fingerprint per doc (Charikar 2002; the
    Manku/Jain/Sarma WWW'07 web-dedup fingerprint): per-bit ±1 votes over
    the doc's shingle hashes, sign → bit. Near-dups land within a small
    hamming distance.

    JVM-side in ONE fold: the accumulator is the 64-counter vote array and
    each shingle contributes a ±1 sign vector via ``zip_with`` — O(64)
    adds per shingle inside codegen, instead of 64 separate aggregate
    passes over the hash array (the shape the earlier 16-bit variant used)
    or a Pandas UDF. All 64 bits come from ONE md5 per shingle: bits 0-59
    parse the first 15 hex chars (signed-int64-safe in both engines),
    bits 60-63 the 16th hex char — md5 is the dominant per-shingle cost,
    so a second salted hash would double the operator's wall-clock.

    ``hash_fn`` picks the per-shingle hash. ``"md5"`` (default) is the
    cross-engine determinism seam — the DuckDB oracle replays it
    bit-for-bit. ``"xxhash64"`` is the PRODUCTION configuration:
    Spark's native codegen hash, measured **21x faster end-to-end** on
    the fingerprint pass (17.3 s vs 365.6 s, 150k docs, same session —
    BASELINE.md round 9); same ±1-vote construction over the 64 bits of
    one xxhash64, so all downstream blocking/verify math is unchanged.
    Not oracle-replayable (DuckDB has no xxhash64) — the graded entries
    pin the md5 path; a property test pins the xxhash64 path's behavior
    (identical texts → identical fingerprints, near-dups → small
    hamming, both halves uint32-ranged).

    Parallelism note: this is a HEAVY map (O(shingles × 64) per row);
    callers feeding it from a few large parquet splits should
    ``repartition(defaultParallelism)`` first or the whole corpus funnels
    through a handful of tasks (simhash_near_dups does this for you).

    Emits the fingerprint as two unsigned 32-bit halves (``simhash_hi``,
    ``simhash_lo``) — a packed signed 64-bit would overflow on bit 63 and
    unsigned 64-bit literals don't cross engines; hamming distance is
    bit_count(a_hi XOR b_hi) + bit_count(a_lo XOR b_lo).
    """
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be md5|xxhash64, got {hash_fn!r}")
    sh = F.array_distinct(shingles(F.col(text_col), shingle_k))
    pow2_60 = F.array(*[F.lit(1 << i).cast("long") for i in range(60)])
    pow2_4 = F.array(*[F.lit(1 << i).cast("long") for i in range(4)])
    pow2_63 = F.array(*[F.lit(1 << i).cast("long") for i in range(63)])

    def sign_vec_md5(s):
        m = F.md5(s.cast("binary"))
        h1 = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
        h2 = F.conv(F.substring(m, 16, 1), 16, 10).cast("long")
        low = F.transform(
            pow2_60, lambda p: F.when(h1.bitwiseAND(p) != 0, 1).otherwise(-1)
        )
        top = F.transform(
            pow2_4, lambda p: F.when(h2.bitwiseAND(p) != 0, 1).otherwise(-1)
        )
        return F.concat(low, top)

    def sign_vec_xx(s):
        # all 64 bits of one native xxhash64: bits 0-62 by mask, bit 63
        # is the sign bit of the signed long
        h = F.xxhash64(s)
        low = F.transform(
            pow2_63, lambda p: F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1)
        )
        return F.concat(low, F.array(F.when(h < 0, 1).otherwise(-1)))

    sign_vec = sign_vec_md5 if hash_fn == "md5" else sign_vec_xx

    votes = F.aggregate(
        F.transform(sh, sign_vec),
        F.array_repeat(F.lit(0), 64),
        lambda acc, sg: F.zip_with(acc, sg, lambda a, b: a + b),
    )

    def pack(votes_slice, width):
        pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(width)])
        return F.aggregate(
            F.zip_with(
                votes_slice, pow2, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))
            ),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        )

    out = df.select(F.col(id_col), votes.alias("__v"))
    return out.select(
        id_col,
        pack(F.slice("__v", 33, 32), 32).alias("simhash_hi"),
        pack(F.slice("__v", 1, 32), 32).alias("simhash_lo"),
    )


def embedding_cosine_dups(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | None = None,
    target_bucket: int = 64,
) -> DataFrame:
    """Embedding near-dup pairs: LSH-bucket by random-hyperplane sign bits,
    then exact cosine within buckets (see operators/similarity.py for the
    shared bucketing). ``n_planes <= 0`` disables bucketing (exact all-pairs
    baseline — O(n²), for oracle checks and small tables only).

    ``n_planes=None`` (the default) AUTO-SIZES the bucket space from the
    corpus count (similarity.auto_plane_count): expected bucket occupancy
    stays ≤ ``target_bucket`` as the corpus grows, so within-bucket
    quadratic work is bounded at 100× without caller tuning. The count is
    one control-plane aggregate (parquet row-group stats make it a
    metadata scan); the derived p is a pure function of it, so oracles
    replay the identical bucketing from the same count."""
    from starlight_for_kafka_spark.operators.similarity import (
        auto_plane_count,
        hyperplane_bucket,
    )
    from starlight_for_kafka_spark.functions.vectors import cosine_similarity

    from starlight_for_kafka_spark.plans.spread import spread_if_narrow

    if n_planes is None:
        n_planes = auto_plane_count(embeddings.count(), target_bucket)
    bucket = (
        F.lit(0) if n_planes <= 0 else hyperplane_bucket(F.col(vec_col), n_planes)
    )
    # the p x dim md5 projections per row are the heavy pass; spread when
    # the table arrives as 1-2 input splits (see plans/spread.py)
    embeddings = spread_if_narrow(embeddings, id_col)
    # checkpoint the bucket assignment so the self-join's two sides don't
    # EACH recompute the md5-derived hyperplane signs (p×dim hashes per
    # row; AQE does not reuse the exchange across self-join sides — the
    # same lesson as semantic_dedup's assignment pass)
    bucketed = embeddings.withColumn("__bucket", bucket).localCheckpoint(
        eager=False
    )
    a = bucketed.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("va"), "__bucket"
    )
    b = bucketed.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("vb"), "__bucket"
    )
    return (
        a.join(b, "__bucket")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos", cosine_similarity(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_k: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, the fraction of its
    distinct word ``ngram_k``-grams that also occur anywhere in the
    benchmark set; ``contaminated`` flags docs at or above ``threshold``.
    Word 8-grams over normalized text is the standard eval-leak check
    (GPT-3/PaLM-style n-gram decontamination).

    Scale: the benchmark side (eval sets, MBs) collapses to a DISTINCT
    n-gram set and broadcasts, so the corpus side is one explode + one
    broadcast semi-ish join + one per-doc count — no corpus-sized shuffle
    except the final per-doc aggregation, which is pre-combined map-side.
    Docs shorter than ``ngram_k`` words have no n-grams and report ratio 0.
    """
    grams = lambda c: F.array_distinct(word_shingles(words(c), ngram_k))  # noqa: E731
    bench_grams = (
        benchmark.select(F.explode(grams(F.col(text_col))).alias("g")).distinct()
    )
    corpus_sets = corpus.select(
        F.col(id_col), grams(F.col(text_col)).alias("__set")
    )
    corpus_grams = corpus_sets.select(
        F.col(id_col),
        F.size("__set").alias("n_ngrams"),
        F.explode_outer("__set").alias("g"),
    )
    hits = corpus_grams.join(
        F.broadcast(bench_grams.withColumn("__hit", F.lit(1))), "g", "left"
    )
    per_doc = hits.groupBy(id_col, "n_ngrams").agg(
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_overlap")
    )
    ratio = F.when(
        F.col("n_ngrams") > 0, F.col("n_overlap") / F.col("n_ngrams")
    ).otherwise(F.lit(0.0))
    return per_doc.withColumn("contamination", ratio).withColumn(
        "contaminated", ratio >= F.lit(threshold)
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_k: int = 8,
    n_bits: int = 1 << 16,
    n_hashes: int = 3,
) -> DataFrame:
    """Bloom-gated decontamination — the broadcast-BITSET scale path next
    to :func:`benchmark_contamination`'s broadcast join. The benchmark's
    distinct word n-grams fold ONCE into an ``n_bits`` Bloom filter (the
    position collect is control-plane: eval sets are MBs); the corpus
    side is then a PURE MAP — a doc is flagged iff any of its n-grams
    tests positive, no join, no corpus-side shuffle at all beyond the
    scan. This is the shape that wins when the corpus is 100 TB and the
    filter must ride along with other map work.

    One-sided error by construction: every true benchmark n-gram hits
    (no false negatives); a ~(1 - e^(-kn/m))^k false-positive rate flags
    some clean docs — size ``n_bits`` ≈ 16 bits/gram for ~0.1% FP at
    k=3. Positions are md5-derived, so the filter — INCLUDING its false
    positives — replays bit-for-bit in the oracle.

    Emits (id, n_ngrams, bloom_hit).
    """
    grams = lambda c: F.array_distinct(word_shingles(words(c), ngram_k))  # noqa: E731

    def positions(g, i: int):
        return F.pmod(md5_hash64(F.concat(F.lit(f"bl{i}:"), g)), F.lit(n_bits))

    bench = benchmark.select(F.explode(grams(F.col(text_col))).alias("g")).distinct()
    pos_rows = bench.select(
        F.explode(F.array(*[positions(F.col("g"), i) for i in range(n_hashes)])).alias(
            "p"
        )
    ).distinct()
    bitset = [0] * ((n_bits + 63) // 64)
    for (p,) in pos_rows.collect():  # control-plane: <= n_bits ints
        bitset[p // 64] |= 1 << (p % 64)

    def signed64(x: int) -> int:
        return x - (1 << 64) if x >= (1 << 63) else x

    bits_lit = F.array(*[F.lit(signed64(wd)).cast("long") for wd in bitset])
    p2_lit = F.array(
        *[F.lit(signed64(1 << j)).cast("long") for j in range(64)]
    )

    def test(g, i: int):
        p = positions(g, i)
        word = F.element_at(bits_lit, (p / 64).cast("int") + 1)
        bit = F.element_at(p2_lit, F.pmod(p, F.lit(64)).cast("int") + 1)
        return word.bitwiseAND(bit) != 0

    def gram_hits(g):
        out = test(g, 0)
        for i in range(1, n_hashes):
            out = out & test(g, i)
        return out

    sets = corpus.select(F.col(id_col), grams(F.col(text_col)).alias("__set"))
    return sets.select(
        id_col,
        F.size("__set").alias("n_ngrams"),
        F.coalesce(F.exists("__set", gram_hits), F.lit(False)).alias("bloom_hit"),
    )


def fuzzy_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    threshold: float = 0.8,
    shingle_mode: str = "char",
    max_bench_bucket: int = 200,
    mode: str = "survivors",
    corpus_signatures: DataFrame | None = None,
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: drop (or report) corpus
    docs whose exact shingle Jaccard with ANY benchmark doc is >=
    ``threshold``, candidates found by MinHash-LSH banding — the fuzzy
    complement of :func:`benchmark_contamination`'s n-gram overlap (the
    FineWeb / Llama-style eval-leak scrub catches paraphrased and
    lightly-edited leaks that exact n-gram matching misses).

    ``corpus_signatures`` mirrors :func:`incremental_minhash_dedup`'s
    stored-signature seam: at production scale the corpus signatures are
    computed once and stored with the corpus (same num_hashes/shingle
    parameters, via :func:`minhash_signatures`), turning the probe
    side's dominant cost — re-signing the corpus text — into a column
    read; the verify step still reads text, but only for the candidate
    sliver. Left None they are recomputed for self-containment.

    THE 100 TB shape — the corpus side never shuffles:
    the benchmark (eval sets, MBs) signs and bands first and its banding
    rows BROADCAST; the corpus side is a pure per-row map
    (minhash_signatures, zero shuffle) into a broadcast-hash probe join,
    so candidate discovery rides the corpus scan. Verification re-
    shingles only the candidate sliver (semi-join against the broadcast
    candidate ids) and joins benchmark shingle sets by broadcast, so the
    ONLY corpus-sized work is the scan + map. Contrast
    :func:`incremental_minhash_dedup` (batch-vs-corpus, shuffle probe
    join): here the small side is known-broadcastable by construction.

    Pair emission is bounded per corpus row: <= ``bands`` x
    ``max_bench_bucket`` candidates pre-distinct. ``max_bench_bucket``
    caps buckets by BENCHMARK-side occupancy only (boilerplate shared
    across many eval items); corpus-side occupancy is irrelevant to the
    bound and computing it would cost the corpus shuffle this operator
    exists to avoid.

    ``mode``: ``"survivors"`` (default) returns the clean rows of
    ``corpus`` (original columns); ``"report"`` returns the verified
    contamination pairs (corpus_id, bench_id, jaccard) for leak
    attribution — which eval items leak, and how many corpus docs each
    one taints. Ids must be unique across both inputs.

    Reference parity note: the reference broker has no dedup surface —
    this operator belongs to the training-data-pipeline extension set
    (SURVEY §M5), same contract as the other dedup entries.
    """
    if mode not in ("survivors", "report"):
        raise ValueError(f"mode must be survivors|report, got {mode!r}")
    sigs_bench = minhash_signatures(
        benchmark, text_col, id_col, num_hashes, shingle_k, shingle_mode
    )
    # num_hashes is always concrete here, so banding never returns the
    # None empty-probe sentinel; an EMPTY benchmark flows through as an
    # empty banding frame (zero candidates -> zero flagged -> corpus
    # unchanged / empty report with the right columns)
    bb = _banded_signatures(sigs_bench, id_col, bands, num_hashes)
    # benchmark-side hot-bucket cap: tiny aggregation, broadcast both ways
    hot = (
        bb.groupBy("band", "bucket")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > max_bench_bucket)
        .select("band", "bucket")
    )
    bb_cold = bb.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    if corpus_signatures is not None:
        # stored signatures built with a different num_hashes would index
        # past the array end in banding — concat_ws silently skips the
        # NULLs, buckets never match the benchmark side, and the scrub
        # silently no-ops. Guard at execution time (distributed, no extra
        # driver job): any row with the wrong signature length raises.
        sigs_corpus = corpus_signatures.withColumn(
            "signature",
            F.when(
                F.size("signature") == num_hashes, F.col("signature")
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "fuzzy_decontaminate: corpus_signatures length "
                        ),
                        F.size("signature").cast("string"),
                        F.lit(f" != num_hashes {num_hashes}"),
                    )
                )
            ),
        )
    else:
        sigs_corpus = minhash_signatures(
            corpus, text_col, id_col, num_hashes, shingle_k, shingle_mode
        )
    # single consumer -> no materialization: corpus banding rows stream
    # straight into the broadcast probe, never touching local disk
    bc = _banded_signatures(
        sigs_corpus, id_col, bands, num_hashes, materialize=False
    )
    cands = (
        bc.join(F.broadcast(bb_cold.select("band", "bucket", F.col(id_col).alias("bench_id"))),
                ["band", "bucket"])
        .select(F.col(id_col).alias("corpus_id"), "bench_id")
        .distinct()
        .localCheckpoint(eager=True)  # sliver-sized; read three times below
    )
    # verify on the sliver: corpus shingle sets only for candidate ids
    # (broadcast semi-join keeps the corpus side map-only), benchmark
    # sets broadcast whole
    sh = lambda c: F.array_distinct(_shingle_expr(c, shingle_k, shingle_mode))  # noqa: E731
    # candidate ids are bounded by contamination volume, not a constant
    # (BASELINE.md records flagged growing linearly with scale) — so the
    # broadcast decision is MEASURED, not assumed: cands is materialized
    # (checkpointed above), its count is free, and only a genuinely
    # bounded probe broadcasts. AQE alone is not enough here: it plans
    # SMJ statically (the probe derives from a checkpoint, no stats) and
    # converts only after the corpus shuffle map stage has written
    # (measured on the identical pattern in jaccard_verify, BASELINE.md
    # round 9).
    # no eager checkpoint for the probe projection (round 10): it is a
    # distinct over the checkpointed candidate pairs — re-deriving it
    # from cached blocks (once for the measuring aggregate, once for the
    # broadcast build) costs less than a dedicated materialization job
    probe = cands.select(F.col("corpus_id").alias(id_col)).distinct()
    probe = _broadcast_if_bounded(probe, id_col)
    corpus_sets = corpus.join(
        probe,
        id_col,
        "left_semi",
    ).select(F.col(id_col).alias("corpus_id"), sh(text_col).alias("__ca"))
    bench_sets = benchmark.select(
        F.col(id_col).alias("bench_id"), sh(text_col).alias("__cb")
    )
    verified = (
        cands.join(corpus_sets, "corpus_id")
        .join(F.broadcast(bench_sets), "bench_id")
        .withColumn("__i", F.size(F.array_intersect("__ca", "__cb")))
        .withColumn("__u", F.size(F.array_union("__ca", "__cb")))
        .withColumn("jaccard", F.col("__i") / F.col("__u"))
        .filter(F.col("jaccard") >= threshold)
    )
    if mode == "report":
        return verified.select("corpus_id", "bench_id", "jaccard")
    # flagged ⊆ candidate corpus ids; re-measure its own byte size (it
    # is usually far smaller than the candidate probe) — broadcast keeps
    # the corpus-side anti-join map-only, an unbounded contamination
    # volume falls back to the shuffle join
    flagged = (
        verified.select(F.col("corpus_id").alias(id_col))
        .distinct()
        .localCheckpoint(eager=True)
    )
    flagged = _broadcast_if_bounded(flagged, id_col)
    return corpus.join(flagged, id_col, "left_anti")


def connected_components(
    pairs: DataFrame, a_col: str = "a", b_col: str = "b", max_iter: int = 25
) -> DataFrame:
    """Connected components over near-dup pairs by iterative min-label
    propagation: every node starts labeled with itself; each round a node
    takes the min of its own and all neighbors' labels; converged when no
    label changes. Returns (node, component) with component = min node id.

    This is the exact group resolution minhash_dedup's one-pass drop
    approximates (a non-min node whose neighbors all have larger ids
    survives the one-pass but not CC). Each round costs one join + one
    aggregation (2 shuffles) plus a shuffle-free convergence scan of the
    new generation (the previous label rides along as __old, so no
    second join is needed to detect movement), and rounds ≈ graph
    diameter — near-dup components are short chains, so 3-5 rounds in
    practice; ``max_iter`` bounds pathological chains. Labels are
    localCheckpointed per round to cut lineage (iterative plans
    otherwise re-execute from the source every round).

    The loop is driver-side control flow over distributed steps — the
    standard Spark shape for iterative algorithms (same as GraphX/Pregel).
    Deterministic, but genuinely iterative, so the driver check is
    rows-only; exactness is pinned against a union-find in the test suite.
    """
    from starlight_for_kafka_spark.plans.checkpoints import RollingCheckpoint

    # keep=1: the convergence check reads the NEW generation only (the
    # old label rides inside it as __old — see the loop), so a superseded
    # generation is never read after its successor materializes
    roll = RollingCheckpoint(pairs.sparkSession, keep=1)
    try:
        # pin_partitioned on y (the per-round join key): localCheckpoint
        # would erase the partitioning and re-shuffle the whole edge
        # table every round; hash-partitioned + persisted, per-round
        # shuffle is O(labels), not O(edges) — the pagerank recipe
        # (plans/checkpoints.pin_partitioned)
        edges = roll.pin_partitioned(
            pairs.select(F.col(a_col).alias("x"), F.col(b_col).alias("y"))
            .union(pairs.select(F.col(b_col).alias("x"), F.col(a_col).alias("y")))
            .distinct(),
            "y",
        )
        labels = roll(
            edges.select(F.col("x").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
        )
    except BaseException:
        # both setup checkpoints are real Spark jobs; a failure in the
        # second must not leak the first
        roll.abort()
        raise
    try:
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges["y"] == labels["node"])
                .groupBy("x")
                .agg(F.min("component").alias("nmin"))
            )
            # the OLD label rides inside the checkpointed frame (__old):
            # the convergence check is then a shuffle-free scan of the
            # just-materialized generation, not a second join of two
            # checkpointed label tables (guide §2.4 — the old shape paid
            # 2 extra exchanges + an SMJ per round purely to count
            # changed labels)
            updated = roll(
                labels.join(neighbor_min, labels["node"] == neighbor_min["x"], "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                    ).alias("component"),
                    F.col("component").alias("__old"),
                )
            )
            changed = updated.filter(F.col("component") != F.col("__old")).count()
            labels = updated.drop("__old")
            if changed == 0:
                break
        else:
            # exhausting max_iter with labels still moving means components
            # wider than the iteration budget — returning the intermediate
            # labels would silently split a near-dup group, which for
            # leakage_safe_split is exactly the train/val leak the caller is
            # trying to prevent. Fail loudly instead.
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                f"({changed} labels still changing); the graph has a chain "
                f"longer than max_iter — raise max_iter"
            )
    except BaseException:
        # no result will be returned — nothing may stay pinned
        roll.abort()
        raise
    roll.finish()
    return labels


def minhash_dedup_exact_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    threshold: float = 0.8,
    shingle_mode: str = "char",
    star_above: int | None = None,
    max_bucket: int | None = 200,
) -> DataFrame:
    """minhash_dedup with exact transitive grouping: verified pairs →
    connected components → keep each component's minimum id.

    ``star_above`` caps per-bucket pair emission to a star
    (:func:`minhash_lsh_candidates`) — star edges preserve within-bucket
    connectivity, so the components (and thus the keeper set) match the
    clique emission whenever the verify step accepts the anchor edges."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k, shingle_mode)
    cands = minhash_lsh_candidates(
        sigs, id_col, bands, max_bucket=max_bucket, num_hashes=num_hashes,
        star_above=star_above,
    )
    verified = jaccard_verify(df, cands, text_col, id_col, shingle_k, threshold, shingle_mode)
    comps = connected_components(verified)
    # no eager checkpoint: comps IS a checkpoint (the CC loop's final
    # generation), so this filter re-derives from cached blocks
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    # same measured-bound broadcast as minhash_dedup's anti-join: keep
    # the corpus side map-only whenever the loser set's byte size
    # (count x sampled id width) is bounded
    losers = _broadcast_if_bounded(losers, id_col)
    return df.join(losers, id_col, "left_anti")


def cluster_representatives(
    components: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    node_col: str = "node",
    comp_col: str = "component",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware canonical selection: keep each near-dup component's
    BEST-scoring member (ties -> smallest id) instead of the arbitrary
    min-id keeper — the curation refinement most pipelines run after
    transitive grouping (keep the longest / highest-quality copy of every
    duplicate cluster, drop the rest). ``components`` is
    :func:`connected_components` output; ``scores`` maps ``id_col`` to a
    numeric ``score_col``. Ids must be numeric (the argmax tie-break
    negates them).

    Emits (component, id, score) — one row per component.

    Scale shape: one join on the node id plus ONE max(struct)
    partial-combining aggregation — the agg-not-window keeper rule
    exact_dedup and line_dedup pin. A component duplicated 10^8 times
    partial-aggregates map-side; no window partition ever serializes it,
    and the heavy document payloads never enter the plan.
    """
    joined = components.select(
        F.col(node_col).alias("__n"), comp_col
    ).join(
        scores.select(
            F.col(id_col).alias("__n"), F.col(score_col).cast("double").alias("__s")
        ),
        "__n",
    )
    won = joined.groupBy(comp_col).agg(
        F.max(
            F.struct(F.col("__s").alias("s"), (-F.col("__n")).alias("negid"))
        ).alias("__w")
    )
    return won.select(
        comp_col,
        (-F.col("__w.negid")).alias(id_col),
        F.col("__w.s").alias(score_col),
    )


def source_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    ngram_k: int = 8,
) -> DataFrame:
    """Cross-corpus contamination matrix: word n-gram Jaccard between every
    pair of sources (which crawls/dumps overlap, and how much — the
    corpus-level sibling of per-doc benchmark_contamination).

    Shuffle shape: distinct (group, shingle) → ONE groupBy(shingle) that
    collects each shingle's source set, pairs generated row-side from that
    set. This avoids the shingle self-join, whose hot shingles (present in
    every source) would each fan out |S|^2 join rows through the shuffle;
    here a shingle contributes one row and at most C(|S|,2) tiny pair
    structs, and the pair-count aggregation partial-combines map-side.
    Assumes |S| (number of sources) is small — the matrix itself is
    O(|S|^2) — while docs and shingles are unbounded.
    """
    # hashed gram identity: the distinct + source-set agg shuffle 8-byte
    # longs, not 8-word strings (remove_repeated_spans' seam)
    grams = df.select(
        F.col(group_col).alias("grp"),
        F.explode(
            F.transform(word_shingles(words(F.col(text_col)), ngram_k), md5_hash64)
        ).alias("g"),
    ).distinct()
    sizes = grams.groupBy("grp").agg(F.count("*").alias("n"))
    src_sets = grams.groupBy("g").agg(F.sort_array(F.collect_set("grp")).alias("ss"))
    pair_structs = F.flatten(
        F.transform(
            F.col("ss"),
            lambda a, i: F.transform(
                F.slice(F.col("ss"), i + 2, F.greatest(F.size(F.col("ss")) - i - 1, F.lit(0))),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    inter = (
        src_sets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.a").alias("src_a"), F.col("p.b").alias("src_b"))
        .agg(F.count("*").alias("n_common"))
    )
    a, b = sizes.alias("x"), sizes.alias("y")
    matrix = (
        a.join(b, F.col("x.grp") < F.col("y.grp"))
        .select(
            F.col("x.grp").alias("src_a"),
            F.col("y.grp").alias("src_b"),
            F.col("x.n").alias("n_a"),
            F.col("y.n").alias("n_b"),
        )
        .join(inter, ["src_a", "src_b"], "left")
        .withColumn("n_common", F.coalesce(F.col("n_common"), F.lit(0)))
    )
    return matrix.withColumn(
        "jaccard",
        F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
    )


def duplicated_ngram_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_k: int = 8,
) -> DataFrame:
    """Per-document duplicated n-gram fraction (the Gopher/MassiveText
    repetition-across-corpus signal): what share of a doc's distinct word
    n-grams also appear in at least one OTHER document. High fractions mark
    boilerplate/templated docs that exact and MinHash dedup both miss
    because no single pair is similar enough.

    Shuffle shape: distinct grams per doc (map-side), ONE gram-keyed
    count — since grams are doc-distinct, count(*) IS the doc frequency —
    then join the per-gram count back (gram-keyed, co-partitioned with the
    agg) and re-aggregate per doc. No shingle self-join: a gram present in
    d docs costs d rows, never d^2. Hot grams (stopword runs) are bounded
    by the doc-distinct step; AQE skew-join covers the rest at scale.

    Docs with fewer than ngram_k words produce no grams and are absent
    from the output (they have no signal, not a 0.0 score).
    """
    # gram identity travels as the md5-derived int64 (8 bytes through
    # the gram agg + join instead of an 8-word string — same seam and
    # collision argument as remove_repeated_spans)
    grams = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(word_shingles(words(F.col(text_col)), ngram_k), md5_hash64)
            )
        ).alias("g"),
    )
    freq = grams.groupBy("g").agg(F.count("*").alias("n_docs"))
    per_doc = (
        grams.join(freq, "g")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("n_docs") > 1).cast("long")).alias("dup_grams"),
        )
    )
    return per_doc.withColumn("dup_frac", F.col("dup_grams") / F.col("n_grams"))


def semantic_dedup(
    embeddings: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    star_above: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    removal that MinHash/SimHash miss — paraphrases share embeddings, not
    shingles. Assign every vector to its nearest centroid cell (k-means
    coarse quantization, same assignment as similarity.ivf_assign), compare
    cosine ONLY within a cell, and mark a vector as duplicate when a
    same-cell neighbor with a smaller id is >= threshold similar
    (deterministic keep-lowest-id, matching exact_dedup's tie rule).

    Scale shape: the within-cell equi-join shuffles on ``ivf_cell`` — the
    pair space is sum(|cell|²), never n² (that IS the SemDeDup trick; the
    paper dedups a billion-image corpus this way). Cell sizes are balanced
    by k-means training; residual hot cells are AQE skew-join territory, or
    raise k. The assignment pass is computed once and localCheckpoint-ed so
    the self-join's two sides don't re-score k centroids per row (AQE does
    not reuse the exchange across sides).

    Returns one row per vector: (id, ivf_cell, dup_of, is_dup) where
    ``dup_of`` is the smallest qualifying same-cell id (null when kept).

    ``star_above`` is the Σ cell² guard rail (the same anchor-star
    topology as :func:`minhash_lsh_candidates`): cells LARGER than the
    cap compare every member against the cell's anchor (its smallest id)
    ONLY — |cell| comparisons instead of |cell|² — so a mega-cell's cost
    is linear in its size. In a capped cell ``dup_of`` is the anchor id
    (not necessarily the smallest qualifying neighbor) and a duplicate
    pair whose two members both miss the anchor by > threshold is not
    marked — the cap trades that recall for the linear bound, exactly
    like the MinHash star. Cells at or under the cap keep the exact
    smallest-qualifying-id semantics."""
    from starlight_for_kafka_spark.functions.vectors import cosine_similarity
    from starlight_for_kafka_spark.operators.similarity import ivf_assign

    assigned = (
        ivf_assign(embeddings, centroids, id_col, vec_col)
        .select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("__v"),
            "ivf_cell",
        )
        .localCheckpoint(eager=False)
    )
    if star_above is None:
        pairs_src = assigned
    else:
        # per-cell size + anchor (id AND vector) via one partial-combining
        # aggregation — agg-not-window, same keeper rule as the LSH cap
        cstats = assigned.groupBy("ivf_cell").agg(
            F.count("*").alias("__cs"),
            F.min(id_col).alias("__anchor"),
            F.min_by("__v", id_col).alias("__av"),
        )
        tagged = assigned.join(cstats, "ivf_cell")
        pairs_src = tagged.filter(F.col("__cs") <= star_above).drop(
            "__cs", "__anchor", "__av"
        )
    a = pairs_src.select(
        F.col(id_col).alias("a"), F.col("__v").alias("va"), "ivf_cell"
    )
    b = pairs_src.select(
        F.col(id_col).alias("b"), F.col("__v").alias("vb"), "ivf_cell"
    )
    dup_of = (
        a.join(b, "ivf_cell")
        .filter(F.col("b") < F.col("a"))
        .filter(F.round(cosine_similarity(F.col("va"), F.col("vb")), 9) >= threshold)
        .groupBy(F.col("a").alias(id_col))
        .agg(F.min("b").alias("dup_of"))
    )
    if star_above is not None:
        star = (
            tagged.filter(F.col("__cs") > star_above)
            .filter(F.col(id_col) != F.col("__anchor"))
            .filter(
                F.round(cosine_similarity(F.col("__v"), F.col("__av")), 9)
                >= threshold
            )
            .select(F.col(id_col), F.col("__anchor").alias("dup_of"))
        )
        dup_of = dup_of.unionByName(star)
    return (
        assigned.select(id_col, "ivf_cell")
        .join(dup_of, id_col, "left")
        .withColumn("is_dup", F.col("dup_of").isNotNull())
    )


def repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_k: int = 8,
) -> DataFrame:
    """Longest cross-document repeated passage per doc (the signal behind
    suffix-array substring dedup, Lee et al. 2022 "Deduplicating Training
    Data Makes Language Models Better"): a maximal run of consecutive word
    positions whose k-grams ALL occur in some other document marks a
    copied passage of ``run + k - 1`` words — without building a suffix
    array, which does not distribute. Exact for passages ≥ k words.

    Tokenized with :func:`~starlight_for_kafka_spark.functions.hashing.words`
    (lowercase, whitespace collapsed). Ids are unique per document, as
    every dedup operator here assumes.

    Shuffle shape: positional k-grams (map-only posexplode; gram identity
    is the md5-derived int64, as in :func:`duplicated_ngram_fraction` and
    :func:`remove_repeated_spans`), one gram-keyed (min-doc, max-doc)
    aggregation that partial-combines map-side, a gram-keyed join back to
    flag each position, then gaps-and-islands per doc (doc-keyed windows
    over the doc's own positions — bounded by doc length).

    Emits one row per INPUT doc: n_grams (positions; 0 for docs shorter
    than ``ngram_k`` words), longest_dup_run (k-gram run), and
    longest_dup_span_words (0 when the doc shares no k-gram).
    """
    from starlight_for_kafka_spark.plans.spread import spread_if_narrow

    # the shingle + posexplode passes below are the corpus-heavy leg;
    # spread across cores when the corpus arrives as 1-2 input splits
    # (single-row-group parquet — see plans/spread.py)
    df = spread_if_narrow(df, id_col)
    pos_grams = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(word_shingles(words(F.col(text_col)), ngram_k), md5_hash64)
        ).alias("pos", "g"),
    )
    # "gram shared by >1 doc" == min(doc) != max(doc) over the positional
    # rows; min/max partial-combine map-side, so a hot gram never
    # concentrates on one reducer
    freq = pos_grams.groupBy("g").agg(
        F.min(id_col).alias("__mn"), F.max(id_col).alias("__mx")
    )
    flagged = pos_grams.join(freq, "g").withColumn(
        "dup", F.col("__mn") != F.col("__mx")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        flagged.filter("dup")
        .withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "grp")
        .agg(F.count("*").alias("run"))
        .groupBy(id_col)
        .agg(F.max("run").alias("longest_dup_run"))
    )
    gram_counts = pos_grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    # left-join from the INPUT ids: a doc shorter than ngram_k words has no
    # shingles at all and would otherwise vanish from the output
    totals = (
        df.select(id_col)
        .join(gram_counts, id_col, "left")
        .withColumn("n_grams", F.coalesce("n_grams", F.lit(0)))
    )
    return (
        totals.join(runs, id_col, "left")
        .withColumn("longest_dup_run", F.coalesce("longest_dup_run", F.lit(0)))
        .withColumn(
            "longest_dup_span_words",
            F.when(
                F.col("longest_dup_run") > 0,
                F.col("longest_dup_run") + F.lit(ngram_k - 1),
            ).otherwise(F.lit(0)),
        )
    )


def remove_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_k: int = 8,
) -> DataFrame:
    """CUT cross-document repeated passages out of the text — the removal
    step behind suffix-array substring dedup (Lee et al. 2022): where
    :func:`repeated_spans` only reports the signal, this rewrites each
    document with every shared passage of >= ``ngram_k`` words removed
    from all but its FIRST-occurrence document (lowest ``id_col`` holding
    the k-gram — the same keep-min-id keeper rule every dedup path in
    this package pins). Ids are unique per document, as every dedup
    operator here assumes.

    Semantics (exact, engine-reproducible): tokenize with
    :func:`~starlight_for_kafka_spark.functions.hashing.words`
    (lowercase, whitespace collapsed); a word survives unless it is
    covered by a positional k-gram that (a) occurs in more than one
    document and (b) sits in a non-keeper document. Output text is the
    surviving words joined by single spaces — normalized-token
    granularity, the convention substring-dedup pipelines run the pass
    at; the keeper document keeps every occurrence, so no shared passage
    is ever lost from the corpus.

    Shuffle shape (no suffix array — it does not distribute): positional
    k-grams map-only; ONE gram-keyed aggregation carrying (min-doc,
    max-doc) — algebraic, so it partial-combines map-side and a gram held
    by every document ships one row per map partition; a gram-keyed join
    back keeps the removable grams; their start positions gather per
    affected document (one doc-keyed aggregation, one int per removable
    gram, zero rows on a clean corpus) and join back onto the documents
    by id. Each document's kept words are then one array expression
    over its own word array: the positions
    ``array_except(sequence(0, n - 1), covered)`` (hash-based, so a full
    clone stays linear in its length) mapped back to words; a document
    with no covered position keeps its array as it is. No word is ever
    exploded or regrouped. Gram identity travels as the repo-standard
    md5-derived int64 (functions.hashing.md5_hash64), not the raw
    k-word string: the gram agg and join shuffle 8 bytes per position
    instead of ~an 8-word string — measured 3.7x less gram-stage
    shuffle at 30x — with the same engine-portable determinism seam as
    every MinHash bucket (a 60-bit collision would merge two grams'
    stats identically in both engines; at 10^8 distinct grams the
    probability of ANY collision is ~4e-3 and of one affecting a
    specific decision vanishingly lower).

    Emits one row per input doc: (id, n_words, removed_words, text).
    Docs shorter than ``ngram_k`` words pass through untouched; a null
    text gives text ``""``.
    """
    from starlight_for_kafka_spark.plans.spread import spread_if_narrow

    # the positional-gram pass and the final per-doc projection both read
    # ``base``; on a 1-2-split corpus each would serialize onto 1-2 slots.
    # Spread once below the scan (see plans/spread.py).
    df = spread_if_narrow(df, id_col)
    base = df.select(F.col(id_col), words(F.col(text_col)).alias("__ws"))
    pos_grams = base.select(
        F.col(id_col),
        F.posexplode(
            F.transform(word_shingles(F.col("__ws"), ngram_k), md5_hash64)
        ).alias("pos", "g"),
    )
    # "gram occurs in >1 doc" is exactly min(doc) != max(doc)
    freq = pos_grams.groupBy("g").agg(
        F.min(id_col).alias("keeper"),
        F.max(id_col).alias("__maxdoc"),
    )
    covered = (
        pos_grams.join(
            freq.filter(F.col("keeper") != F.col("__maxdoc")).select("g", "keeper"),
            "g",
        )
        .filter(F.col(id_col) != F.col("keeper"))
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.collect_list("pos"),
                    lambda p: F.sequence(p, p + F.lit(ngram_k - 1)),
                )
            ).alias("__cov")
        )
    )
    ws, cov, n = F.col("__ws"), F.col("__cov"), F.size("__ws")
    kept = F.when(cov.isNull(), ws).otherwise(
        F.transform(F.array_except(F.sequence(F.lit(0), n - 1), cov), lambda i: ws[i])
    )
    n_kept = F.when(ws.isNotNull(), F.size(kept))
    return base.join(covered, id_col, "left").select(
        id_col,
        n.alias("n_words"),
        (n - F.coalesce(n_kept, F.lit(0))).alias("removed_words"),
        F.coalesce(F.array_join(kept, " "), F.lit("")).alias(text_col),
    )


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    shingle_k: int = 4,
    max_bucket: int | None = 200,
    star_above: int | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """SimHash near-dup pairs at hamming distance ≤ ``max_hamming`` —
    Manku/Jain/Sarma's WWW'07 web-dedup search, the operator that makes
    the 64-bit fingerprint useful at corpus scale. Pigeonhole: split the
    fingerprint into 4 16-bit blocks; two fingerprints within hamming 3
    must agree on at least one whole block, so candidates come from FOUR
    block-keyed equi-joins (each a hash join on a 16-bit key) instead of
    an all-pairs scan — recall is exactly 1 for ``max_hamming`` ≤ 3, and
    the XOR-popcount verify owns precision.

    ``max_bucket`` caps degenerate blocks (a block value shared by more
    than this many docs is skipped in the candidate stage — same
    hot-bucket bound minhash_lsh_candidates uses; boilerplate-heavy
    corpora otherwise quadratic-blow a single join key). The cap TRADES
    recall: a document duplicated more than ``max_bucket`` times shares
    ALL FOUR blocks with its clones, so every one of its blocks is hot
    and none of its pairs are emitted — the recall-1 guarantee holds for
    pairs whose fingerprints keep at least one sub-cap block. Pass
    ``max_bucket=None`` for exact recall (route mega-clusters to
    exact_dedup first — identical payloads are ITS job). Verify touches
    fingerprints only — the 100 TB join moves 3 longs per row.

    ``star_above`` is the Σ bucket² guard rail (the anchor-star topology
    of :func:`minhash_lsh_candidates`): a block bucket LARGER than the
    cap emits only pairs anchored at its smallest id — |bucket| candidate
    rows instead of |bucket|² — so candidate volume is bounded by Σ
    bucket. The hamming verify still owns precision; the cap trades the
    non-anchor pairs of mega-buckets (they survive only if some OTHER
    block keeps a sub-cap bucket for them), the same recall trade as the
    MinHash star, bounded above by ``max_bucket``'s. Compose with
    ``max_bucket``: buckets above ``max_bucket`` are dropped entirely,
    buckets in (star_above, max_bucket] emit stars, the rest cliques.

    ``hash_fn="xxhash64"`` switches the fingerprint to the native-hash
    production path (21x faster fingerprinting — see
    :func:`simhash64`); the pigeonhole/blocking/verify math is hash-
    agnostic and unchanged.
    """
    if max_hamming > 3:
        raise ValueError("4-block pigeonhole guarantees recall only for max_hamming <= 3")
    # fingerprinting is the expensive pass; spread it over every core even
    # when the input is a couple of big parquet splits (79s -> ~4s at
    # sf0.1 on local[32] before this repartition)
    par = df.sparkSession.sparkContext.defaultParallelism
    fps = simhash64(
        df.repartition(par), text_col, id_col, shingle_k, hash_fn=hash_fn
    ).localCheckpoint(eager=True)
    blocks = fps.select(
        F.col(id_col).alias("__id"), "simhash_hi", "simhash_lo",
        F.col("simhash_lo").bitwiseAND(F.lit(0xFFFF)).alias("b0"),
        F.shiftright("simhash_lo", 16).bitwiseAND(F.lit(0xFFFF)).alias("b1"),
        F.col("simhash_hi").bitwiseAND(F.lit(0xFFFF)).alias("b2"),
        F.shiftright("simhash_hi", 16).bitwiseAND(F.lit(0xFFFF)).alias("b3"),
    )
    cand = None
    for k in range(4):
        keyed = blocks.select("__id", "simhash_hi", "simhash_lo", F.col(f"b{k}").alias("bv"))
        if max_bucket is None:
            cold = keyed
        else:
            hot = keyed.groupBy("bv").agg(F.count("*").alias("__n")).filter(
                F.col("__n") > max_bucket
            )
            cold = keyed.join(F.broadcast(hot.select("bv")), "bv", "left_anti")
        if star_above is not None:
            # bucket size + anchor id/fingerprint via one partial-combining
            # aggregation (agg-not-window keeper rule, as in the LSH cap)
            bstats = cold.groupBy("bv").agg(
                F.count("*").alias("__bs"),
                F.min("__id").alias("__anchor"),
                F.min_by("simhash_hi", "__id").alias("__ah"),
                F.min_by("simhash_lo", "__id").alias("__al"),
            )
            tagged = cold.join(bstats, "bv")
            cold = tagged.filter(F.col("__bs") <= star_above).select(
                "__id", "simhash_hi", "simhash_lo", "bv"
            )
            # the anchor is the bucket minimum, so anchor < id always
            # holds and star pairs are already (a < b)-oriented
            star = (
                tagged.filter(F.col("__bs") > star_above)
                .filter(F.col("__id") != F.col("__anchor"))
                .select(
                    F.col("__anchor").alias("a"), F.col("__ah").alias("ha"),
                    F.col("__al").alias("la"), F.col("__id").alias("b"),
                    F.col("simhash_hi").alias("hb"),
                    F.col("simhash_lo").alias("lb"),
                )
            )
            cand = star if cand is None else cand.unionByName(star)
        a = cold.select(
            F.col("__id").alias("a"), F.col("simhash_hi").alias("ha"),
            F.col("simhash_lo").alias("la"), "bv",
        )
        b = cold.select(
            F.col("__id").alias("b"), F.col("simhash_hi").alias("hb"),
            F.col("simhash_lo").alias("lb"), "bv",
        )
        pairs = a.join(b, "bv").filter(F.col("a") < F.col("b")).drop("bv")
        cand = pairs if cand is None else cand.unionByName(pairs)
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) + F.bit_count(
        F.col("la").bitwiseXOR(F.col("lb"))
    )
    return (
        cand.distinct()
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def dedup_cluster_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    threshold: float = 0.8,
    shingle_mode: str = "char",
) -> DataFrame:
    """Near-dup cluster health report: run the full MinHash pipeline,
    resolve exact transitive components, and emit the per-cluster-size
    distribution — the summary a curation run publishes (how much of the
    corpus is duplicated, how big the worst cluster is) before anyone
    commits to the drop decision. One row per cluster size ≥ 2:
    (cluster_size, n_clusters, n_docs, docs_dropped = n_docs − n_clusters),
    ordered by size.

    Scale shape: everything up to the components is the (already
    scale-shaped) minhash pipeline; the stats are two aggregations over
    the component table — |docs-in-clusters| rows, tiny next to the
    corpus.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k, shingle_mode)
    cands = minhash_lsh_candidates(sigs, id_col, bands, num_hashes=num_hashes)
    verified = jaccard_verify(
        df, cands, text_col, id_col, shingle_k, threshold, shingle_mode
    )
    comps = connected_components(verified)
    sizes = comps.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .withColumn("n_docs", F.col("cluster_size") * F.col("n_clusters"))
        .withColumn("docs_dropped", F.col("n_docs") - F.col("n_clusters"))
        .select("cluster_size", "n_clusters", "n_docs", "docs_dropped")
    )


def soft_dedup_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    threshold: float = 0.8,
    shingle_mode: str = "char",
    star_above: int | None = None,
    alpha: float = 1.0,
) -> DataFrame:
    """Duplicate-aware soft reweighting (SoftDeDup, He et al. 2024):
    instead of DROPPING near-duplicates, keep every document and assign a
    sampling weight 1 / cluster_size^``alpha`` from its exact transitive
    near-dup cluster — total sampled mass per distinct content stays ~1
    at alpha=1 while no document (and no cluster-internal diversity) is
    lost. The training loader consumes the weights through
    sampling.weighted_sample / interleave_sources.

    Pipeline: the same MinHash-LSH + Jaccard-verify + connected-components
    chain as :func:`minhash_dedup_exact_groups` (``star_above`` caps
    Σ cluster² pair emission — star edges preserve connectivity, so the
    components and hence the weights are unchanged), then ONE
    component-keyed count and a broadcast-size join back. Docs in no
    verified pair are singletons: cluster = own id, weight 1.

    Emits (id, cluster, cluster_size, weight 6dp) — one row per INPUT
    doc, no row ever dropped.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k, shingle_mode)
    cands = minhash_lsh_candidates(
        sigs, id_col, bands, num_hashes=num_hashes, star_above=star_above
    )
    verified = jaccard_verify(
        df, cands, text_col, id_col, shingle_k, threshold, shingle_mode
    )
    comps = connected_components(verified)
    sizes = comps.groupBy("component").agg(F.count("*").alias("cluster_size"))
    labeled = comps.join(sizes, "component")
    return (
        df.select(id_col)
        .join(labeled, F.col(id_col) == F.col("node"), "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster"),
            F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
            F.round(
                F.pow(F.coalesce("cluster_size", F.lit(1)).cast("double"), F.lit(-float(alpha))),
                6,
            ).alias("weight"),
        )
    )


def minhash_recall(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    threshold: float = 0.8,
    shingle_mode: str = "char",
) -> DataFrame:
    """Acceptance harness for the MinHash-LSH pipeline — the dedup
    counterpart of similarity.ann_recall: ground truth is the EXACT
    all-pairs n-gram Jaccard >= threshold set (:func:`ngram_jaccard_pairs`,
    prefix-filtered join, recall 1 by construction), measured is the
    banding pipeline's candidate and verified pair sets over the SAME
    shingles and threshold. The verify step already computes exact
    Jaccard, so verified ⊆ truth and the number banding can lose is
    RECALL — true pairs whose signatures never collide in any band (the
    (num_hashes, bands) S-curve trade every corpus commits to before a
    100 TB dedup run). candidate_precision (verified / candidates) prices
    the verify pass the banding bought.

    Scale shape: both pipelines are the package's existing bounded joins;
    the comparison itself is one pair-keyed join + three 1-row counts
    (crossJoins against 1-row aggregates — control plane).

    Emits ONE row: (true_pairs, candidate_pairs, verified_pairs,
    recall 4dp, candidate_precision 4dp).
    """
    truth = ngram_jaccard_pairs(
        df, text_col, id_col, shingle_k, threshold, shingle_mode
    ).select("a", "b")
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k, shingle_mode)
    cands = minhash_lsh_candidates(sigs, id_col, bands, num_hashes=num_hashes)
    ver = jaccard_verify(
        df, cands, text_col, id_col, shingle_k, threshold, shingle_mode
    ).select("a", "b")
    n_true = truth.agg(F.count("*").alias("true_pairs"))
    n_cand = cands.agg(F.count("*").alias("candidate_pairs"))
    n_ver = ver.agg(F.count("*").alias("verified_pairs"))
    return (
        n_true.crossJoin(n_cand)
        .crossJoin(n_ver)
        .select(
            "true_pairs",
            "candidate_pairs",
            "verified_pairs",
            F.when(F.col("true_pairs") > 0,
                   F.round(F.col("verified_pairs") / F.col("true_pairs"), 4)
                   ).otherwise(F.lit(1.0)).alias("recall"),
            F.when(F.col("candidate_pairs") > 0,
                   F.round(F.col("verified_pairs") / F.col("candidate_pairs"), 4)
                   ).otherwise(F.lit(1.0)).alias("candidate_precision"),
        )
    )
