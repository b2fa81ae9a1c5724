"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (one scan, no shuffle until
the final top-k, embarrassingly parallel). The scale path is LSH bucketing
by random-hyperplane signs (search only matching buckets) or IVF-style
coarse quantization (assign to nearest centroid, probe nearest cells).

Everything stays JVM-side via higher-order functions; the "random"
hyperplanes are deterministic pseudo-planes derived from md5(seed, dim) so
runs — and the DuckDB oracle — are reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from starlight_for_kafka_spark.functions.vectors import cosine_similarity
from starlight_for_kafka_spark.plans.local import local_frame


def brute_force_top_k(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    The query vector is a literal array (broadcast inside the plan); the
    scan computes one fused dot+norm per row (codegen), then a global top-k.
    Similarity is rounded to 6 dp for stable cross-engine ordering; ties
    break on id.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col).cast("array<double>"), q), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def auto_plane_count(
    n_rows: int, target_bucket: int = 64, max_planes: int = 24
) -> int:
    """Derive the hyperplane count from the corpus size: the smallest p
    with expected bucket occupancy n/2^p ≤ ``target_bucket`` (uniform
    spread), so within-bucket quadratic work stays bounded as the corpus
    grows 100× WITHOUT the caller re-tuning — a fixed p=8 that is fine at
    1M rows leaves 2^8 buckets of 400k at 100M rows and the bucket² cost
    explodes. ``max_planes`` bounds the bucket space (2^24 ≈ 16M buckets
    is already far past any shuffle-key-cardinality concern). Pure
    function of the count, so an engine-side auto choice is exactly
    reproducible by an oracle that derives p from the same count."""
    import math

    if n_rows <= target_bucket:
        return 1
    return min(max_planes, max(1, math.ceil(math.log2(n_rows / target_bucket))))


def hyperplane_bucket(vec: Column, n_planes: int = 8, dim: int = 0) -> Column:
    """Sign-bit LSH bucket id for a vector: bit_i = sign(h_i · v) where the
    pseudo-hyperplane h_i has components hash(i, d) mapped to ±1.

    Using ±1 components keeps the projection a sum of signed elements —
    computable with one aggregate over the (index, value) zip, no stored
    hyperplane matrix, identical on any engine with md5.
    """
    idx = F.sequence(F.lit(0), F.size(vec) - 1)

    def plane_sign(p: int):
        def signer(v, d):
            from starlight_for_kafka_spark.functions.hashing import md5_hash64

            h = md5_hash64(F.concat(F.lit(f"hp{p}:"), d.cast("string")))
            return F.when(h % 2 == 0, v).otherwise(-v)

        return signer

    bits = []
    for p in range(n_planes):
        signed = F.zip_with(vec.cast("array<double>"), idx, plane_sign(p))
        proj = F.aggregate(signed, F.lit(0.0), lambda acc, v: acc + v)
        bits.append(F.when(proj > 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(1 << p))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def lsh_top_k(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = 6,
    probe_hamming1: bool = False,
    target_bucket: int = 64,
) -> DataFrame:
    """ANN top-k: score only vectors in the query's hyperplane bucket.
    ``n_planes=None`` auto-sizes from the table count
    (:func:`auto_plane_count`) so expected bucket occupancy — and with it
    per-query scan cost — stays ≤ ``target_bucket`` across 100× growth.

    At 100 TB, bucket the table once at rest (partition by bucket) and this
    becomes a partition-pruned scan of ~1/2^n_planes of the data. Recall is
    probabilistic; ``probe_hamming1`` raises it with multi-probe: also scan
    the n_planes buckets one sign-bit away (the near-miss buckets), trading
    an (n_planes+1)/2^n_planes scan fraction for recall.

    The query's bucket id is resolved driver-side (one local one-row
    evaluation — control plane, not a data scan), so the probe is a plain
    IN-list filter that partition-prunes against a bucket-partitioned table.
    """
    spark = embeddings.sparkSession
    if n_planes is None:
        n_planes = auto_plane_count(embeddings.count(), target_bucket)
    qb = (
        local_frame(spark, [(query_vec,)], f"{vec_col} array<float>")
        .select(hyperplane_bucket(F.col(vec_col), n_planes).alias("b"))
        .first()
        .b
    )
    buckets = [qb] + ([qb ^ (1 << p) for p in range(n_planes)] if probe_hamming1 else [])
    bucketed = embeddings.withColumn("__bucket", hyperplane_bucket(F.col(vec_col), n_planes))
    candidates = bucketed.filter(F.col("__bucket").isin(buckets))
    return brute_force_top_k(candidates, query_vec, k, id_col, vec_col)


def _centroid_sims(vec_col: str, centroids: list[list[float]]) -> Column:
    """The per-centroid cosine array (9 dp, the cross-engine assignment
    convention) — ONE definition shared by ivf_assign and
    cluster_balanced_sample so the two paths (and their oracles) can
    never desynchronize on rounding or tie-breaks."""
    v = F.col(vec_col).cast("array<double>")
    # ONE literal array-of-arrays + ONE transform lambda — not |centroids|
    # separately-unrolled cosine folds. Arithmetic is identical per
    # element (same cosine fold, same 9 dp round); what changes is plan
    # SIZE: the unrolled form is O(cells × dim) expression TREES, and at
    # 64 cells its analysis+codegen cost dominated wall time at every
    # data scale (measured: the 64-cell IVFADC row spent ~22 s flat on a
    # 2k-row corpus). The lambda form carries the centroids as one
    # constant and scales in cell count for free.
    cents = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    return F.transform(cents, lambda ctr: F.round(cosine_similarity(v, ctr), 9))


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    (literal centroid list — in production, k-means trained and broadcast).
    Writing the table partitioned by ``ivf_cell`` makes probing partition-
    pruned at the parquet layer."""
    sims = _centroid_sims(vec_col, centroids)
    best = F.array_position(sims, F.array_max(sims)) - 1
    return embeddings.withColumn("ivf_cell", best.cast("int"))


def centroids(
    embeddings: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group mean vector (k-means / IVF centroid training step).

    Spark-first: posexplode to (group, dim, x) rows, aggregate avg per
    (group, dim), reassemble the array sorted by dim. The explode costs
    dim× rows but stays whole-stage-codegen'd and combines map-side, so
    the shuffle carries only |groups|×dim partial sums — at 100 TB that
    beats any array-valued aggregation UDF (interpreted, no partial agg).
    """
    ex = embeddings.select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("dim", "x")
    )
    means = ex.groupBy(group_col, "dim").agg(
        F.avg(F.col("x").cast("double")).alias("c")
    )
    return means.groupBy(group_col).agg(
        F.array_sort(F.collect_list(F.struct("dim", "c")))
        .getField("c")
        .alias("centroid"),
        F.count("*").alias("n_dims"),
    )


def lloyd_step(
    embeddings: DataFrame,
    seed_centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd (k-means) iteration under cosine assignment: assign every
    vector to its nearest seed centroid (ivf_assign — deterministic, 9 dp
    rounded), then re-center each cell as the mean of its members.

    The driver loops this k times for full k-means — each step is one
    assign pass + one centroid aggregation, both linear scans; no state
    beyond the (tiny) centroid list crosses iterations. A single step is
    fully deterministic, so it oracle-checks exactly.
    """
    assigned = ivf_assign(embeddings, seed_centroids, id_col, vec_col)
    return centroids(assigned, "ivf_cell", vec_col)


def l2_assign(
    embeddings: DataFrame,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment under squared L2 — the SAME distance
    convention as :func:`pq_encode` (9 dp rounded fold, lowest-index
    tie-break), exposed standalone so PQ codebook TRAINING assigns by
    the metric the encoder will use. Map-only against the literal
    centroid array (one transform lambda — see _centroid_sims for why
    not |cents| unrolled folds)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cents_col = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in cents]
    )
    dists = F.transform(cents_col, lambda c: F.round(_l2_sq_fold(v, c), 9))
    best = F.array_position(dists, F.array_min(dists)) - 1
    return embeddings.withColumn("ivf_cell", best.cast("int"))


def kmeans_fit(
    embeddings: DataFrame,
    k: int,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> list[list[float]]:
    """Full Lloyd k-means — the TRAINING half of the IVF retrieval loop
    (the probe half, :func:`pq_knn_join`/:func:`ivf_top_k`, previously
    took its centroids as givens). Driver-loop iteration like PageRank
    and bpe_train: each round is ONE assignment scan (map-only against
    the broadcast centroid literal) plus ONE per-(cell, dim) mean
    aggregation (posexplode + partial-combining avg — the shuffle
    carries k x d partial sums, never vectors), then a k x d collect.

    Determinism contract (what makes the fit oracle-replayable and
    engine-portable): seeds are the k lowest-``id_col`` vectors;
    assignment follows the 9 dp convention of the metric's probe path
    (``cosine`` = ivf_assign's rule, ``l2`` = pq_encode's rule with
    lowest-index tie-break); new centroids are rounded to 6 dp IN THE
    PLAN (F.round — same half-up as the oracle's round()) before the
    next round, so both engines iterate from identical values; a cell
    that loses every member keeps its previous centroid (cell indexes
    never shift).

    At 100 TB: n_iter bounded scans of one narrow column — the standard
    sampled/mini-batch refinements compose on top by passing a sample
    as ``embeddings``; centroids stay driver-sized (k x d floats).
    """
    if metric not in ("cosine", "l2"):
        raise ValueError(f"metric must be cosine|l2, got {metric!r}")
    assign = ivf_assign if metric == "cosine" else l2_assign
    seeds = embeddings.orderBy(id_col).limit(k).collect()
    if len(seeds) < k:
        raise ValueError(f"kmeans_fit: k={k} exceeds corpus size {len(seeds)}")
    cents = [[float(x) for x in r[vec_col]] for r in seeds]
    for _ in range(n_iter):
        assigned = assign(embeddings, cents, id_col, vec_col)
        rows = (
            centroids(assigned, "ivf_cell", vec_col)
            .select(
                "ivf_cell",
                F.transform("centroid", lambda x: F.round(x, 6)).alias(
                    "centroid"
                ),
            )
            .collect()
        )
        updated = {
            int(r["ivf_cell"]): [float(x) for x in r["centroid"]]
            for r in rows
        }
        cents = [updated.get(i, cents[i]) for i in range(k)]
    return cents


def pq_train(
    embeddings: DataFrame,
    m: int,
    ks: int,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train PQ codebooks (Jégou et al. 2011 §III): split vectors into
    ``m`` contiguous subvectors and run an independent squared-L2
    k-means (:func:`kmeans_fit`, ``metric="l2"`` — the exact distance
    :func:`pq_encode` assigns by) of ``ks`` codes per subspace. Closes
    the retrieval loop end to end: pq_train → pq_encode/ivf_assign at
    ingest → pq_knn_join probes — no fixture codebooks anywhere.

    Scale shape (round-10 rework, guide §1.2/#1 — fewer passes): ALL m
    subspaces train inside ONE corpus scan per iteration. The previous
    per-subspace loop (m independent kmeans_fit calls) paid
    m x (1 + n_iter) full corpus scans plus m seed collects — at 100 TB
    that is m extra reads of the embedding column, and locally m x
    n_iter extra driver round-trips. Fused: one seed collect (the ks
    lowest-id vectors, sliced driver-side — identical subvectors, since
    each subspace's lowest-``id_col`` rows are the same rows), then per
    iteration one scan that assigns every subspace (same 9 dp L2
    argmin expression as :func:`l2_assign`) and aggregates all m x ks x
    sub_d means through a single (subspace, cell, dim)-keyed
    partial-combining aggregation. Per-subspace math is unchanged:
    assignment, 6 dp mean rounding, and the keep-previous rule for
    emptied cells all follow kmeans_fit's l2 contract exactly.
    Codebooks are driver-sized (m x ks x sub_d floats) — broadcastable
    anywhere.
    """
    seeds = embeddings.orderBy(id_col).limit(ks).collect()
    if not seeds:
        raise ValueError("pq_train: empty corpus")
    if len(seeds) < ks:
        raise ValueError(
            f"kmeans_fit: k={ks} exceeds corpus size {len(seeds)}"
        )
    d = len(seeds[0][vec_col])
    if d % m != 0:
        raise ValueError(f"pq_train: m={m} must divide dim {d}")
    sub_d = d // m
    books = [
        [
            [float(x) for x in r[vec_col][j * sub_d:(j + 1) * sub_d]]
            for r in seeds
        ]
        for j in range(m)
    ]
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def _dist_fn(sv):
        # single-arg lambda on purpose: F.transform reads the callable's
        # arity, and a second (defaulted) parameter would be bound to the
        # ELEMENT INDEX, not the closure value
        return lambda c: F.round(_l2_sq_fold(sv, c), 9)

    for _ in range(n_iter):
        per_sub = []
        for j in range(m):
            sv = F.slice(v, j * sub_d + 1, sub_d)
            cents_col = F.array(
                *[F.array(*[F.lit(float(x)) for x in c]) for c in books[j]]
            )
            dists = F.transform(cents_col, _dist_fn(sv))
            best = F.array_position(dists, F.array_min(dists)) - 1
            per_sub.append(
                F.struct(
                    F.lit(j).alias("j"),
                    best.cast("int").alias("cell"),
                    sv.alias("sv"),
                )
            )
        ex = (
            embeddings.select(F.explode(F.array(*per_sub)).alias("s"))
            .select(
                F.col("s.j").alias("j"),
                F.col("s.cell").alias("cell"),
                F.posexplode("s.sv").alias("dim", "x"),
            )
        )
        means = ex.groupBy("j", "cell", "dim").agg(F.avg("x").alias("c"))
        rows = (
            means.groupBy("j", "cell")
            .agg(
                F.array_sort(F.collect_list(F.struct("dim", "c")))
                .getField("c")
                .alias("centroid")
            )
            .select(
                "j",
                "cell",
                F.transform("centroid", lambda x: F.round(x, 6)).alias(
                    "centroid"
                ),
            )
            .collect()
        )
        updated: dict[tuple[int, int], list[float]] = {
            (int(r["j"]), int(r["cell"])): [float(x) for x in r["centroid"]]
            for r in rows
        }
        books = [
            [updated.get((j, i), books[j][i]) for i in range(ks)]
            for j in range(m)
        ]
    return books


def cluster_balanced_sample(
    embeddings: DataFrame,
    centroids: list[list[float]],
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-balanced prototype sampling: assign every vector to its
    nearest centroid (cosine, same 9 dp convention as ivf_assign) and keep
    the ``m`` MOST CENTRAL members of each cluster — the diversity-
    preserving downsampling step semantic-dedup pipelines run after
    clustering (SemDeDup, Abbas et al. 2023, samples per-cluster rather
    than globally so rare modes survive a 100× cut). Ties break on
    ``id_col`` so selection is deterministic.

    Emits (cluster, id, centroid_sim, rank), rank 1 = most central.

    Scale: assignment is map-only against the broadcast centroid list
    (same as ivf_assign); per-cluster selection goes through
    skew.grouped_top_k — two bounded aggregations, never a full-cluster
    window, so a mega-cluster (boilerplate mode) cannot serialize one
    task.
    """
    from starlight_for_kafka_spark.operators.skew import grouped_top_k

    sims = _centroid_sims(vec_col, centroids)
    best = F.array_max(sims)
    assigned = embeddings.select(
        id_col,
        (F.array_position(sims, best) - 1).cast("int").alias("cluster"),
        best.alias("centroid_sim"),
    )
    return grouped_top_k(
        assigned,
        ["cluster"],
        [F.col("centroid_sim").desc(), F.col(id_col).asc()],
        k=m,
    )


def _rank_probe_cells(
    centroids: list[list[float]], query_vec: list[float], nprobe: int
) -> list[int]:
    """The ONE probe-selection rule shared by ivf_top_k and ann_recall:
    centroid cosine rounded to 9 dp (same as ivf_assign, so selection is
    engine-reproducible), ties broken by cell index. Shared on purpose —
    a harness that re-implemented it would keep measuring the OLD probe
    order if the operator's rule ever changed."""
    import math

    def _cos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return round(dot / (na * nb), 9)

    ranked = sorted(
        range(len(centroids)), key=lambda i: (-_cos(centroids[i], query_vec), i)
    )
    return ranked[:nprobe]


def ivf_top_k(
    embeddings: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe search: rank centroids against the query DRIVER-side (the
    centroid list is tiny, control-plane), probe the ``nprobe`` nearest
    cells, brute-force cosine top-k inside them only.

    At 100 TB the table is written pre-assigned and partitioned by
    ``ivf_cell`` (see ivf_assign), so the ``isin(probe)`` filter is
    partition-pruned at the parquet layer: the scan touches
    ~nprobe/n_cells of the data and nothing else. Recall is the standard
    IVF trade — raise ``nprobe`` to trade scan fraction for recall.
    Centroid similarity is rounded to 9 dp (same as ivf_assign) so probe
    selection is reproducible across engines.
    """
    probe = _rank_probe_cells(centroids, query_vec, nprobe)
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
    candidates = assigned.filter(F.col("ivf_cell").isin(probe))
    return brute_force_top_k(candidates, query_vec, k, id_col, vec_col)


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127, q_i =
    clamp(round(x_i/scale), ±127). Returns the int8 codes, the scale needed
    to dequantize, and the worst-case per-vector reconstruction error.

    The memory lever for ANN at scale: a float32 corpus shrinks 4x, so 4x
    more vectors fit per executor before a brute-force or IVF scan spills.
    Map-only (each row quantizes from its own max), no shuffle; rounding is
    floor(v + 0.5) rather than an engine round() so Spark and the DuckDB
    oracle agree bit-for-bit on ties.
    """
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    m = F.array_max(F.transform(x, F.abs))
    scale = F.when(m > 0, m / F.lit(127.0)).otherwise(F.lit(1.0))
    qd = F.transform(
        x,
        lambda v: F.greatest(
            F.lit(-127.0), F.least(F.lit(127.0), F.floor(v / scale + 0.5))
        ),
    )
    max_err = F.array_max(F.zip_with(x, qd, lambda a, b: F.abs(a - b * scale)))
    return df.select(
        id_col,
        F.round(scale, 9).alias("scale"),
        qd.cast("array<int>").alias("q"),
        F.round(max_err, 9).alias("max_err"),
    )


def quantization_recall(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of int8-quantized search against full-precision search:
    for each query, the fraction of the true float32 top-k that survives
    when corpus vectors are replaced by their dequantized int8 codes
    (asymmetric setup — queries stay full precision, as in ADC scans).

    The evaluation harness for :func:`quantize_embeddings`: run it on a
    sample before committing the 4x memory saving corpus-wide. Both ranking
    passes broadcast the (tiny) query set and window-partition by query id
    — each executor ranks its local shard, only (query, candidate) pairs
    shuffle. Ranks tie-break on vec_id so the result is deterministic.
    """
    from pyspark.sql import Window

    from starlight_for_kafka_spark.functions.vectors import cosine_similarity

    x = df.select(
        id_col, F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("x")
    )
    quant = quantize_embeddings(df, vec_col, id_col)
    deq = quant.select(
        id_col,
        F.transform(F.col("q"), lambda v: v.cast("double") * F.col("scale")).alias(
            "dx"
        ),
    )
    queries = x.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"), F.col("x").alias("qv")
    )

    def top_k(corpus: DataFrame, col: str) -> DataFrame:
        w = Window.partitionBy("qid").orderBy(
            F.desc(cosine_similarity(F.col(col), F.col("qv"))), F.asc(id_col)
        )
        return (
            corpus.join(F.broadcast(queries))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("qid", id_col)
        )

    full = top_k(x, "x")
    approx = top_k(deq, "dx")
    hits = full.join(approx, ["qid", id_col])
    return (
        full.groupBy("qid")
        .agg(F.count("*").alias("n_full"))
        .join(hits.groupBy("qid").agg(F.count("*").alias("n_hit")), "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(float(k))).alias("recall"),
        )
    )


def ann_recall(
    embeddings: DataFrame,
    query_ids: list[int],
    centroids: list[list[float]],
    k: int = 10,
    n_planes: int = 4,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of every ANN index against exact brute force, per query:
    the evaluation harness that turns "LSH/IVF recall is probabilistic"
    into a measured, re-checkable number (the quantization_recall pattern
    applied to the index structures).

    Methods evaluated per query id: ``lsh`` (single hyperplane bucket),
    ``lsh_probe`` (multi-probe, Hamming-1 buckets), ``ivf`` (``nprobe``
    nearest cells). Because the hyperplanes are md5-derived and the
    centroid assignment uses the same 9-dp rounding as ivf_assign, every
    candidate set — hence every recall value — is exactly deterministic
    and oracle-checkable.

    Plan shape: queries are a handful of rows (control-plane: collected
    and broadcast); each method is ONE scan of the corpus filtered by its
    index predicate, ranked per query with a window partitioned by query
    id — only (query, candidate) pairs shuffle. At 100 TB with the table
    written bucket-/cell-partitioned, the same predicates partition-prune.
    """
    x = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__x")
    )
    queries = x.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"), F.col("__x").alias("__qv")
    )
    qrows = queries.collect()  # control-plane: len(query_ids) rows

    bucketed = x.withColumn("__b", hyperplane_bucket(F.col("__x"), n_planes))
    qb = queries.withColumn("__qb", hyperplane_bucket(F.col("__qv"), n_planes))

    sim = F.round(cosine_similarity(F.col("__x"), F.col("__qv")), 6)

    def top_k(cand: DataFrame) -> DataFrame:
        w = Window.partitionBy("qid").orderBy(F.desc("__sim"), F.asc(id_col))
        return (
            cand.withColumn("__sim", sim)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select("qid", id_col)
        )

    truth = top_k(x.join(F.broadcast(queries)))
    lsh = top_k(
        bucketed.join(F.broadcast(qb), F.col("__b") == F.col("__qb"))
    )
    probe = top_k(
        bucketed.join(
            F.broadcast(qb), F.bit_count(F.col("__b").bitwiseXOR(F.col("__qb"))) <= 1
        )
    )

    probe_cells = [
        (r["qid"], _rank_probe_cells(centroids, list(r["__qv"]), nprobe))
        for r in qrows
    ]
    spark = embeddings.sparkSession
    qcells = local_frame(spark, probe_cells, "qid bigint, __cells array<int>")
    assigned = ivf_assign(x, centroids, id_col, "__x")
    ivf = top_k(
        assigned.join(F.broadcast(queries))
        .join(F.broadcast(qcells), "qid")
        .filter(F.array_contains(F.col("__cells"), F.col("ivf_cell")))
    )

    truth_n = truth.groupBy("qid").agg(F.count("*").alias("__nt"))

    def recall_of(cand_top: DataFrame, method: str) -> DataFrame:
        hits = truth.join(cand_top, ["qid", id_col]).groupBy("qid").agg(
            F.count("*").alias("n_hit")
        )
        return truth_n.join(hits, "qid", "left").select(
            F.lit(method).alias("method"),
            "qid",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(float(k))).alias("recall"),
        )

    return (
        recall_of(lsh, "lsh")
        .unionByName(recall_of(probe, "lsh_probe"))
        .unionByName(recall_of(ivf, "ivf"))
    )


def hybrid_search(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 100,
    rrf_k: int = 60,
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval: keyword relevance fused with vector similarity by
    Reciprocal Rank Fusion (RRF, the standard score-free fusion:
    score = Σ 1/(rrf_k + rank_side)).

    Keyword side scores docs by exact token matches of the query terms;
    vector side by cosine to the query embedding. Each side shortlists its
    top-``shortlist`` via TakeOrderedAndProject — no global sort, no driver
    collect — and ranking + fusion then run on the two tiny shortlists
    (an outer join of ≤2·shortlist rows). At 100 TB the corpus is touched
    exactly twice (one keyword scan, one vector scan), each a map-side
    scan feeding a bounded top-k.
    """
    if not query_terms:
        raise ValueError(
            "hybrid_search: query_terms is empty — use brute_force_top_k / "
            "ivf_top_k for vector-only search"
        )
    toks = F.split(F.col(text_col), " ")
    tscore = None
    for t in query_terms:
        c = F.size(F.filter(toks, lambda x: x == F.lit(t)))
        tscore = c if tscore is None else tscore + c
    ttop = (
        docs.select(F.col(doc_id_col).alias("id"), tscore.alias("text_score"))
        .filter(F.col("text_score") > 0)
        .orderBy(F.col("text_score").desc(), "id")
        .limit(shortlist)
    )
    wt = Window.orderBy(F.col("text_score").desc(), "id")
    tranked = ttop.withColumn("r_text", F.row_number().over(wt))

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    vtop = (
        embeddings.select(
            F.col(vec_id_col).alias("id"),
            F.round(
                cosine_similarity(F.col(vec_col).cast("array<double>"), q), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "id")
        .limit(shortlist)
    )
    wv = Window.orderBy(F.col("cos_sim").desc(), "id")
    vranked = vtop.withColumn("r_vec", F.row_number().over(wv))

    fused = tranked.join(vranked, "id", "full_outer").withColumn(
        "rrf",
        F.round(
            F.coalesce(1.0 / (F.lit(rrf_k) + F.col("r_text")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("r_vec")), F.lit(0.0)),
            9,
        ),
    )
    return (
        fused.orderBy(F.col("rrf").desc(), "id")
        .limit(k)
        .select("id", "r_text", "r_vec", "rrf")
    )


def _l2_sq_fold(a: Column, b: Column) -> Column:
    """Squared L2 distance as a LEFT FOLD over zip_with — fixed summation
    order, so the raw double is reproducible run-to-run; callers round to
    9 dp where a cross-engine oracle sums in its own order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Product quantization (Jégou et al. 2011): split each vector into
    ``m = len(codebooks)`` contiguous subvectors and replace subvector j by
    the index of its nearest entry (squared L2, 9 dp rounded, lowest-index
    tie-break) in ``codebooks[j]`` — compressing a d-dim float vector to m
    small codes. With m=4, ks=8 a 64-dim float32 vector (256 B) becomes
    4 codes (4 B): the memory lever that lets a 100 TB corpus's ANN index
    live executor-resident where int8 quantization (4x) still spills.

    Map-only and fully codegen'd: every distance is an unrolled JVM
    expression over the row's own slice — no shuffle, no UDF. Emits
    ``code_0..code_{m-1}`` as plain int columns (engine-portable, no array
    canonicalization hazards) plus the total squared reconstruction error.
    ``extra_cols`` ride through unchanged (the at-rest index writer and
    the inline corpus path of :func:`pq_knn_join` carry the ivf cell this
    way — one map-only chain instead of an id-keyed re-join).
    """
    m = len(codebooks)
    sub_d = len(codebooks[0][0])
    extras = list(extra_cols or [])
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    out = df.select(id_col, *extras, x.alias("__x"))
    err_terms = []
    for j, book in enumerate(codebooks):
        sub = F.slice(F.col("__x"), j * sub_d + 1, sub_d)
        # one literal book array + one transform lambda, not ks unrolled
        # fold trees — identical per-entry arithmetic, O(ks) smaller plan
        # (see _centroid_sims for the measured rationale)
        book_col = F.array(
            *[F.array(*[F.lit(float(v)) for v in c]) for c in book]
        )
        dists = F.transform(
            book_col, lambda cent: F.round(_l2_sq_fold(sub, cent), 9)
        )
        out = out.withColumn(f"__d{j}", dists).withColumn(
            f"code_{j}",
            (F.array_position(F.col(f"__d{j}"), F.array_min(F.col(f"__d{j}"))) - 1)
            .cast("int"),
        )
        err_terms.append(F.array_min(F.col(f"__d{j}")))
    total_err = F.round(sum(err_terms[1:], err_terms[0]), 9)
    return out.select(
        id_col,
        *extras,
        *[f"code_{j}" for j in range(m)],
        total_err.alias("recon_sq_err"),
    )


def _pq_lut(codebooks: list[list[list[float]]], query_vec: list[float]):
    """Driver-side ADC lookup table: lut[j][c] = round(||q_j - cb_j[c]||², 9).
    Control-plane arithmetic (m × ks tiny floats), same 9 dp contract as
    the encode pass."""
    m = len(codebooks)
    sub_d = len(codebooks[0][0])
    lut = []
    for j in range(m):
        q_sub = query_vec[j * sub_d : (j + 1) * sub_d]
        lut.append(
            [
                round(sum((a - b) * (a - b) for a, b in zip(q_sub, c)), 9)
                for c in codebooks[j]
            ]
        )
    return lut


def pq_adc_top_k(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: precompute the query→codebook
    lookup table driver-side, then score every vector as the SUM OF m TABLE
    LOOKUPS over its codes — the scan never touches the float vectors, only
    m ints per row, which is why PQ search streams a compressed corpus at
    memory bandwidth. Approx distance = Σ_j lut[j][code_j] (each term and
    the sum 9 dp rounded); ranking tie-breaks on id. Top-k via the same
    TakeOrderedAndProject shape as brute_force_top_k — no global sort.

    In production the codes are precomputed at ingest (pq_encode written to
    the table); encoding here keeps the operator self-contained.
    """
    codes = pq_encode(df, codebooks, id_col, vec_col)
    lut = _pq_lut(codebooks, query_vec)
    terms = [
        F.element_at(
            F.array(*[F.lit(v) for v in lut[j]]), F.col(f"code_{j}") + 1
        )
        for j in range(len(codebooks))
    ]
    adc = F.round(sum(terms[1:], terms[0]), 9)
    return (
        codes.withColumn("adc_dist", adc)
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
        .select(id_col, *[f"code_{j}" for j in range(len(codebooks))], "adc_dist")
    )


def pq_recall(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of PQ-ADC search against exact squared-L2 search, per
    query — the accept/reject harness for a codebook before committing the
    corpus to codes (companion to quantization_recall for int8 and
    ann_recall for LSH/IVF).

    The ADC side joins the code table against a broadcast
    (qid, j, c) → lut-value table built driver-side from the query vectors
    (control-plane: |queries|·m·ks rows), so the Spark plan and the SQL
    oracle share the exact same arithmetic: per-subspace 9 dp rounded
    distances, summed per (query, vector), rounded again. Both rankings
    window-partition by query id and tie-break on id.
    """
    from pyspark.sql import Window

    m = len(codebooks)
    x = df.select(
        id_col, F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("x")
    )
    qvecs = {
        r[0]: [float(v) for v in r[1]]
        for r in x.filter(F.col(id_col).isin(query_ids)).collect()
    }
    spark = df.sparkSession
    lut_rows = []
    for qid, qv in sorted(qvecs.items()):
        lut = _pq_lut(codebooks, qv)
        for j in range(m):
            for c, val in enumerate(lut[j]):
                lut_rows.append((int(qid), j, c, float(val)))
    lut_df = local_frame(spark, lut_rows, "qid long, j int, c int, lv double")

    queries = x.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"), F.col("x").alias("qv")
    )
    exact_w = Window.partitionBy("qid").orderBy(
        F.asc("exact_dist"), F.asc(id_col)
    )
    exact = (
        x.join(F.broadcast(queries))
        .withColumn("exact_dist", F.round(_l2_sq_fold(F.col("x"), F.col("qv")), 9))
        .withColumn("rn", F.row_number().over(exact_w))
        .filter(F.col("rn") <= k)
        .select("qid", id_col)
    )

    codes = pq_encode(df, codebooks, id_col, vec_col)
    code_long = None
    for j in range(m):
        part = codes.select(
            id_col, F.lit(j).alias("j"), F.col(f"code_{j}").alias("c")
        )
        code_long = part if code_long is None else code_long.unionByName(part)
    adc = (
        code_long.join(F.broadcast(lut_df), ["j", "c"])
        .groupBy("qid", id_col)
        .agg(F.round(F.sum("lv"), 9).alias("adc_dist"))
    )
    adc_w = Window.partitionBy("qid").orderBy(F.asc("adc_dist"), F.asc(id_col))
    approx = (
        adc.withColumn("rn", F.row_number().over(adc_w))
        .filter(F.col("rn") <= k)
        .select("qid", id_col)
    )
    hits = exact.join(approx, ["qid", id_col])
    counts = hits.groupBy("qid").agg(F.count("*").alias("n_hits"))
    # LEFT join from the query set: a codebook so bad that exact and ADC
    # top-k share nothing must report recall 0, not silently drop the
    # query (same contract as quantization_recall)
    all_q = local_frame(spark, [(int(q),) for q in sorted(qvecs)], "qid long")
    return (
        all_q.join(counts, "qid", "left")
        .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)))
        .withColumn("recall_at_k", F.col("n_hits") / F.lit(k))
        .select("qid", "n_hits", "recall_at_k")
    )


def hard_negatives(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for each
    query vector, the k nearest corpus vectors with a DIFFERENT label —
    the near-misses a triplet/InfoNCE loss learns most from (easy random
    negatives carry no gradient signal).

    One pass: broadcast the (tiny) query set, score every corpus row
    against each query (map-side cosine, label filter applied before the
    rank so pruned rows never enter the window), rank per query with an id
    tie-break. Same shuffle shape as quantization_recall's ranking pass:
    only (query, candidate) pairs move.
    """
    from pyspark.sql import Window

    from starlight_for_kafka_spark.functions.vectors import cosine_similarity

    x = df.select(
        id_col,
        F.col(label_col).alias("__lbl"),
        F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("__x"),
    )
    queries = x.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"),
        F.col("__lbl").alias("__qlbl"),
        F.col("__x").alias("__qv"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        x.join(F.broadcast(queries))
        # null-SAFE inequality: an unlabeled corpus row is "a different
        # label" for any labeled query, not a silently dropped candidate
        .filter(~F.col("__lbl").eqNullSafe(F.col("__qlbl")))
        .withColumn(
            "sim", F.round(cosine_similarity(F.col("__x"), F.col("__qv")), 9)
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", id_col, F.col("__lbl").alias("neg_label"), "sim", "rank")
    )


def binarize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Binary (sign) quantization: bit i = (x_i > 0), a 64-dim float32
    vector becomes 8 bytes — the most aggressive rung of the quantization
    ladder (float32 → int8 → PQ codes → 1 bit/dim), 32x smaller than the
    floats, searched with XOR+popcount at register speed. Map-only, one
    in-row fold; packed as two unsigned 32-bit halves (same engine-portable
    layout as simhash64).
    """
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))

    def pack(offset):
        pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(32)])
        return F.aggregate(
            F.zip_with(
                F.slice(x, offset + 1, 32), pow2,
                lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        )

    # the two-word layout encodes EXACTLY 64 dims; silently truncating a
    # wider embedding would make binary_recall measure a code built from
    # 1/6th of the vector with plausible-looking numbers
    return df.filter(
        F.assert_true(
            F.size(vec_col) == 64,
            "binarize_embeddings packs a fixed 64-dim layout; "
            "got a different dimension — slice or project the vectors first",
        ).isNull()
    ).select(id_col, pack(32).alias("bq_hi"), pack(0).alias("bq_lo"))


def binary_recall(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of symmetric binary-hamming search against exact cosine
    search — the accept/reject harness for sign quantization (companion to
    quantization_recall / pq_recall / ann_recall). Corpus and queries are
    both binarized; candidates rank by XOR-popcount ascending with an id
    tie-break. The hamming scan reads 8 bytes/vector.
    """
    from pyspark.sql import Window

    from starlight_for_kafka_spark.functions.vectors import cosine_similarity

    x = df.select(
        id_col, F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("x")
    )
    queries = x.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"), F.col("x").alias("qv")
    )
    exact_w = Window.partitionBy("qid").orderBy(
        F.desc("sim"), F.asc(id_col)
    )
    exact = (
        x.join(F.broadcast(queries))
        .withColumn("sim", F.round(cosine_similarity(F.col("x"), F.col("qv")), 9))
        .withColumn("rn", F.row_number().over(exact_w))
        .filter(F.col("rn") <= k)
        .select("qid", id_col)
    )
    codes = binarize_embeddings(df, vec_col, id_col)
    qcodes = codes.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"),
        F.col("bq_hi").alias("q_hi"),
        F.col("bq_lo").alias("q_lo"),
    )
    hamming = F.bit_count(F.col("bq_hi").bitwiseXOR(F.col("q_hi"))) + F.bit_count(
        F.col("bq_lo").bitwiseXOR(F.col("q_lo"))
    )
    ham_w = Window.partitionBy("qid").orderBy(F.asc("hd"), F.asc(id_col))
    approx = (
        codes.join(F.broadcast(qcodes))
        .withColumn("hd", hamming)
        .withColumn("rn", F.row_number().over(ham_w))
        .filter(F.col("rn") <= k)
        .select("qid", id_col)
    )
    counts = exact.join(approx, ["qid", id_col]).groupBy("qid").agg(
        F.count("*").alias("n_hits")
    )
    # query universe = ids actually PRESENT in the corpus (deduped) — a
    # requested id with no vector has no defined recall and must not emit
    # a phantom zero row (same convention as pq_recall and the oracle)
    all_q = queries.select("qid").distinct()
    return (
        all_q.join(counts, "qid", "left")
        .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)))
        .withColumn("recall_at_k", F.col("n_hits") / F.lit(k))
        .select("qid", "n_hits", "recall_at_k")
    )


def embedding_covariance(
    embeddings: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed covariance matrix of an embedding column, upper
    triangle as (i, j, cov) rows — the d^2-summary step that makes
    driver-side spectral work (PCA whitening, anisotropy diagnostics)
    feasible at 100 TB: the corpus collapses to d(d+1)/2 partial-
    combining sums in ONE pass, and only that tiny summary ever reaches
    the driver. Uses the computational formula cov = E[xy] - E[x]E[y]
    (numerically fine for O(1) normalized embeddings; values are rounded
    to 6 dp — float sums are partial-combining, so the last ulps are
    summation-order-dependent by design).

    Scale: per-row pair construction is a JVM HOF (no Python), the pair
    explode emits d(d+1)/2 small structs per row, and both aggregations
    partial-combine map-side; no shuffle ever carries the vectors.
    """
    moments = _second_moments(embeddings, vec_col)
    mu = moments.filter(F.col("j") == -1).select(
        "i", (F.col("__s") / F.col("__n")).alias("__mu")
    )
    mi = mu.select(F.col("i").alias("i"), F.col("__mu").alias("__mi"))
    mj = mu.select(F.col("i").alias("j"), F.col("__mu").alias("__mj"))
    return (
        moments.filter(F.col("j") >= 0)
        .join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            # + 0.0 canonicalizes the ZERO SIGN: a cell whose true
            # covariance rounds to zero can land on -0.0 or +0.0
            # depending on engine summation order (IEEE -0.0 + 0.0 =
            # +0.0, every other value unchanged) — byte-level hash
            # consumers would otherwise see the two as different
            (
                F.round(
                    F.col("__s") / F.col("__n")
                    - F.col("__mi") * F.col("__mj"),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def _second_moments(embeddings: DataFrame, vec_col: str) -> DataFrame:
    """One-pass first+second moment sums of an embedding column:
    (i, j>=0) rows carry Σx_i·x_j over the upper triangle, (i, -1) rows
    carry Σx_i — the single corpus scan both embedding_covariance and
    pca_fit read (a fit must never cost a second pass at 100 TB)."""
    v = F.col(vec_col).cast("array<double>")
    d = F.size(v)
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), d - 1),
            lambda i: F.transform(
                F.sequence(i, d - 1),
                lambda j: F.struct(
                    i.alias("i"),
                    j.alias("j"),
                    (F.element_at(v, i + 1) * F.element_at(v, j + 1)).alias("p"),
                ),
            ),
        )
    )
    firsts = F.transform(
        F.sequence(F.lit(0), d - 1),
        lambda i: F.struct(
            i.alias("i"),
            F.lit(-1).alias("j"),
            F.element_at(v, i + 1).alias("p"),
        ),
    )
    return (
        embeddings.select(F.explode(F.concat(pairs, firsts)).alias("e"))
        .groupBy(F.col("e.i").alias("i"), F.col("e.j").alias("j"))
        .agg(F.sum("e.p").alias("__s"), F.count("*").alias("__n"))
    )


def pca_fit(
    embeddings: DataFrame,
    k: int,
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[float]]:
    """Fit a k-component PCA from the distributed covariance summary:
    the d x d matrix (control-plane collect of d(d+1)/2 rows) is
    eigendecomposed ON THE DRIVER with numpy — the standard big-data
    PCA split (cluster computes the second-moment summary, driver does
    the O(d^3) spectral step). ONE corpus scan: the shared
    _second_moments table carries both Σx_i·x_j and Σx_i. Returns
    (components [k][d] — rows are unit eigenvectors, largest eigenvalue
    first with a deterministic sign convention — and the per-dimension
    mean vector)."""
    import numpy as np

    rows = _second_moments(embeddings, vec_col).collect()
    if not rows:
        raise ValueError("pca_fit: input has no embedding rows")
    counts = {r["__n"] for r in rows}
    if len(counts) != 1:
        raise ValueError(
            "pca_fit: ragged embeddings — per-cell counts differ "
            f"({sorted(counts)[:4]}...); every vector must have the same dimension"
        )
    d = max(r.j for r in rows) + 1
    n = rows[0]["__n"]
    mean = [0.0] * d
    sxy = np.zeros((d, d))
    for r in rows:
        if r.j == -1:
            mean[r.i] = float(r["__s"]) / n
        else:
            sxy[r.i][r.j] = sxy[r.j][r.i] = float(r["__s"]) / n
    mu = np.array(mean)
    cov = sxy - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        c = vecs[:, idx]
        # deterministic sign: largest-|coord| component is positive
        if c[int(np.argmax(np.abs(c)))] < 0:
            c = -c
        comps.append([float(x) for x in c])
    return comps, mean


def pca_project(
    embeddings: DataFrame,
    components: list[list[float]],
    mean: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project embeddings onto fitted PCA components (map-only: the
    k x d component matrix rides along as literals, each coordinate is
    one JVM zip_with dot product of the centered vector). Emits
    (id, pc array<double>)."""
    v = F.col(vec_col).cast("array<double>")
    centered = F.zip_with(
        v, F.array(*[F.lit(float(x)) for x in mean]), lambda x, m: x - m
    )
    coords = [
        F.aggregate(
            F.zip_with(
                centered,
                F.array(*[F.lit(float(x)) for x in comp]),
                lambda x, c: x * c,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for comp in components
    ]
    return embeddings.select(id_col, F.array(*coords).alias("pc"))


def random_projection(
    embeddings: DataFrame,
    out_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a DETERMINISTIC
    ±1 projection matrix (Achlioptas 2003: Rademacher entries preserve
    pairwise distances within 1±eps like Gaussian ones): output coordinate
    k is (1/sqrt(out_dim)) * Σ_d s(k,d)·x_d where the sign s(k,d) derives
    from md5, so no projection matrix is stored or shipped — every
    executor (and the DuckDB oracle) regenerates it from the (k, d)
    index. The data-INDEPENDENT complement to pca_fit: no training pass,
    apply-anywhere, the right tool when the corpus is too big to want a
    second scan before reducing.

    Map-only; emits (id, jl array<double>), coordinates rounded 6 dp.
    The out_dim output folds are ONE nested transform lambda over the
    output-index sequence, not out_dim unrolled expression trees — a JL
    cut to 64-256 dims would otherwise hit the plan-compile pathology
    recorded at _centroid_sims (the sign string "jl{k}:{d}" is built from
    the lambda variable, byte-identical to the old per-k literal, so
    outputs are unchanged bit-for-bit).
    """
    import math

    v = F.col(vec_col).cast("array<double>")
    idx = F.sequence(F.lit(0), F.size(v) - 1)
    inv = 1.0 / math.sqrt(out_dim)

    from starlight_for_kafka_spark.functions.hashing import md5_hash64

    def proj(k):
        def signer(x, d):
            h = md5_hash64(
                F.concat(F.lit("jl"), k.cast("string"), F.lit(":"), d.cast("string"))
            )
            return F.when(h % 2 == 0, x).otherwise(-x)

        signed = F.zip_with(v, idx, signer)
        return F.round(
            F.aggregate(signed, F.lit(0.0), lambda a, x: a + x) * F.lit(inv), 6
        )

    ks = F.sequence(F.lit(0), F.lit(out_dim - 1))
    return embeddings.select(id_col, F.transform(ks, proj).alias("jl"))


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id_col: str = "query_id",
    corpus_id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    n_planes: int | None = None,
    probe_hamming1: bool = True,
    target_bucket: int = 64,
    cell_centroids: list[list[float]] | None = None,
    nprobe: int = 2,
    corpus_bucket_col: str | None = None,
    corpus_cell_col: str | None = None,
    metric: str = "cosine",
) -> DataFrame:
    """Distributed kNN JOIN: for EVERY row of ``queries``, the top-``k``
    nearest neighbors from ``corpus`` — both sides DataFrames, both
    arbitrarily large. ``metric="cosine"`` (default: 6-dp similarity,
    descending, column ``cos_sim``) or ``"l2"`` (9-dp squared L2,
    ascending, column ``l2_sq`` — the exact baseline :func:`pq_knn_join`'s
    ADC distances approximate; note the lsh/ivf candidate partitioners
    are ANGLE-based, so for unnormalized vectors l2 recall through them
    carries the angular-bucket bias — brute+l2 is the fair oracle). The batch-retrieval primitive (RAG candidate
    generation, corpus-scale hard-negative mining, cross-corpus SemDeDup
    matching) that the single-vector entry points (brute_force_top_k /
    lsh_top_k / ivf_top_k — literal query, driver-side probe choice)
    cannot express: with millions of queries there is no driver-side
    anything.

    Emits (query_id, neighbor_id, cos_sim, rank) with rank 1..k; cosine
    rounded 6 dp, ties broken on neighbor id — the package's top-k
    determinism convention.

    Methods:

    - ``"brute"`` — exact: the full queries x corpus product. O(Q*C)
      comparisons BY CONSTRUCTION (a deliberate CartesianProduct plan);
      the recall baseline for evaluating the other two at sample scale,
      never the 100 TB path.
    - ``"lsh"`` — md5-hyperplane sign buckets (:func:`hyperplane_bucket`,
      the same family the single-query path and the DuckDB oracles
      replay). The corpus is bucketed once; each query probes its own
      bucket plus (``probe_hamming1``) the ``n_planes`` buckets one sign
      flip away — multi-probe recall without re-hashing the corpus. The
      probe explode happens on the QUERY side only, and a corpus vector
      lives in exactly one bucket, so no candidate pair is generated
      twice. ``n_planes=None`` self-sizes from the corpus count
      (:func:`auto_plane_count`) to hold expected bucket occupancy — and
      with it per-query candidate cost — at ``target_bucket`` across
      100x corpus growth.
    - ``"ivf"`` — coarse quantization against ``cell_centroids``: corpus
      rows assign to their nearest cell (:func:`ivf_assign`, 9 dp cosine,
      index tie-break), every query row ranks ALL cells IN-PLAN (an
      array_sort over the per-centroid similarity array — the per-row
      twin of driver-side :func:`_rank_probe_cells`, same (-sim, cell)
      order) and probes its ``nprobe`` nearest. At rest, write the corpus
      partitioned by ``ivf_cell`` and the probe join partition-prunes.

    Scale shape (lsh/ivf): one shuffle of each side keyed by bucket/cell
    — an equi-join Catalyst can hash-partition, never a cross product —
    then per-query top-k through :func:`skew.grouped_top_k` (salted
    two-stage), so a hot bucket feeding many queries cannot serialize the
    ranking into one task. Pair space is sum over buckets of
    (corpus occupancy x queries probing), bounded by the bucket sizing;
    candidate scoring is the fused JVM cosine fold, zero Python.

    At-rest index reuse: ``corpus_bucket_col`` (lsh — requires an explicit
    ``n_planes``, the one the stored buckets were built with) /
    ``corpus_cell_col`` (ivf) name a PRECOMPUTED bucket/cell column on the
    corpus, skipping the per-call assignment pass entirely — the
    production shape (bucket or cell assigned once at ingest, table
    written partitioned by it, probe join partition-prunes) and the
    serving shape (a persisted bucketed corpus reused by every microbatch
    of :func:`streaming.stream_ops.knn_serving_stream`).

    Reference analog: batch lookup joins over interactive queries
    (streams KStream-GlobalKTable enrichment); the ANN formulation is the
    embedding-column extension per SURVEY §M5.
    """
    from starlight_for_kafka_spark.operators.skew import grouped_top_k

    # NULL is not a vector (the hll "NULL is not an element" convention):
    # un-dropped, a NULL corpus row scores null and still OCCUPIES a
    # top-k slot (ranked last under desc), a NULL query emits k
    # arbitrary null-scored rows, and in lsh mode hyperplane_bucket's
    # `otherwise(0)` arm would silently file every NULL vector in
    # bucket 0 where real queries probe.
    from starlight_for_kafka_spark.plans.spread import spread_if_narrow

    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    keep_cols = [corpus_bucket_col] if corpus_bucket_col else (
        [corpus_cell_col] if corpus_cell_col else []
    )
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(corpus_id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
        *keep_cols,
    )
    # both sides pay per-row hyperplane/centroid projections (lsh/ivf)
    # or the fused cosine fold (brute) before any exchange; spread them
    # across cores when they arrive as 1-2 input splits (single-row-group
    # parquet — see plans/spread.py; a wide 100 TB scan skips the guard).
    # The corpus side spreads ONLY when its bucket/cell is assigned
    # inline: with an at-rest corpus_bucket_col/corpus_cell_col the only
    # corpus-side map work is a cast, and the spread would break the
    # "corpus never re-shuffles per probe" contract of the at-rest and
    # serving paths (knn_serving_stream probes a persisted bucketed
    # corpus every microbatch).
    q = spread_if_narrow(q, "query_id")
    if corpus_bucket_col is None and corpus_cell_col is None:
        c = spread_if_narrow(c, "neighbor_id")

    if method == "brute":
        cand = q.crossJoin(c)
    elif method == "lsh":
        if corpus_bucket_col is not None:
            if n_planes is None:
                raise ValueError(
                    "corpus_bucket_col requires the n_planes the stored "
                    "buckets were built with"
                )
            cb = c.withColumnRenamed(corpus_bucket_col, "__bkt")
        else:
            if n_planes is None:
                n_planes = auto_plane_count(corpus.count(), target_bucket)
            cb = c.withColumn(
                "__bkt", hyperplane_bucket(F.col("__cv"), n_planes)
            )
        # compute the query's own bucket ONCE in its own projection: the
        # probe array references it p+1 times, and inlining the p-fold
        # bucket expression into every element would cost O(p²·d) per row
        # (CollapseProject keeps the projection boundary for non-cheap
        # expressions referenced more than once, so this is load-bearing)
        qb_df = q.withColumn("__qb", hyperplane_bucket(F.col("__qv"), n_planes))
        qb = F.col("__qb")
        probes = [qb] + (
            [qb.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
            if probe_hamming1
            else []
        )
        qp = qb_df.withColumn("__bkt", F.explode(F.array(*probes))).drop("__qb")
        cand = qp.join(cb, "__bkt").drop("__bkt")
    elif method == "ivf":
        if not cell_centroids:
            raise ValueError(
                "ivf method requires cell_centroids (for the query-side "
                "probe ranking even when corpus_cell_col is precomputed)"
            )
        if corpus_cell_col is not None:
            assigned = c.withColumnRenamed(corpus_cell_col, "__cell")
        else:
            assigned = ivf_assign(
                c, cell_centroids, "neighbor_id", "__cv"
            ).withColumnRenamed("ivf_cell", "__cell")
        sims = _centroid_sims("__qv", cell_centroids)
        idx = F.sequence(F.lit(0), F.size(sims) - 1)
        ranked = F.array_sort(
            F.zip_with(sims, idx, lambda s, i: F.struct((-s).alias("ns"), i.alias("cell")))
        )
        probe = F.transform(F.slice(ranked, 1, nprobe), lambda st: st.getField("cell"))
        qp = q.withColumn("__cell", F.explode(probe)).withColumn(
            "__cell", F.col("__cell").cast("int")
        )
        cand = qp.join(assigned, "__cell").drop("__cell")
    else:
        raise ValueError(f"unknown knn_join method: {method}")

    if metric == "cosine":
        scored = cand.select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_similarity(F.col("__qv"), F.col("__cv")), 6
            ).alias("cos_sim"),
        )
        order = [F.col("cos_sim").desc(), F.col("neighbor_id").asc()]
        out_cols = ["query_id", "neighbor_id", "cos_sim", "rank"]
    elif metric == "l2":
        scored = cand.select(
            "query_id",
            "neighbor_id",
            F.round(_l2_sq_fold(F.col("__qv"), F.col("__cv")), 9).alias("l2_sq"),
        )
        order = [F.col("l2_sq").asc(), F.col("neighbor_id").asc()]
        out_cols = ["query_id", "neighbor_id", "l2_sq", "rank"]
    else:
        raise ValueError(f"unknown knn_join metric: {metric}")
    return grouped_top_k(scored, ["query_id"], order, k=k).select(*out_cols)


def pq_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    cell_centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    corpus_id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_codes: DataFrame | None = None,
) -> DataFrame:
    """IVFADC batch retrieval (Jégou et al. 2011, the FAISS IVF+PQ shape)
    as a JOIN: for every row of ``queries``, the ``k`` nearest corpus
    vectors by PQ asymmetric distance, probing only each query's
    ``nprobe`` nearest IVF cells — the composition of :func:`knn_join`'s
    ivf candidate restriction with :func:`pq_adc_top_k`'s codes-only
    scoring, with NOTHING driver-side per query: the ADC lookup table is
    built IN-PLAN from the query row's own vector (m arrays of ks
    9-dp-rounded ``_l2_sq_fold`` entries — the exact arithmetic
    pq_encode/_pq_lut pin), and probe-cell choice is the same in-plan
    array_sort ranking knn_join uses.

    Why this is THE 100 TB retrieval shape: the corpus side of the join
    carries m int codes + a cell id per vector — with m=4/ks=8 that is
    ~5 B/vector against 256 B of floats — so the shuffle and the scan
    both move codes, never embeddings; at rest the code table is written
    partitioned by ``ivf_cell`` and the probe join partition-prunes.
    Candidate volume per query ≈ nprobe × cell occupancy; per-query
    ranking goes through skew.grouped_top_k.

    ``corpus_codes`` is the AT-REST index seam the production shape
    needs: a (corpus_id, code_0..code_{m-1}, ivf_cell) frame written at
    ingest (``pq_encode`` + ``ivf_assign`` with the SAME codebooks and
    centroids). Left None, codes and cells are derived inline for
    self-containment — but inline assignment costs corpus × cells × dim
    per probe, which DOMINATES at production cell counts (measured at
    300x/775 cells: 705 s inline vs the corpus-encode cost paid once at
    ingest), so recurring retrieval against a stored corpus should
    always pass the at-rest table.

    Emits (query_id, neighbor_id, adc_dist, rank), rank 1..k, ADC
    ascending, neighbor-id tie-break.
    """
    from starlight_for_kafka_spark.operators.skew import grouped_top_k

    m = len(codebooks)
    sub_d = len(codebooks[0][0])

    if corpus_codes is not None:
        need = [corpus_id_col, "ivf_cell"] + [f"code_{j}" for j in range(m)]
        missing = [col for col in need if col not in corpus_codes.columns]
        if missing:
            raise ValueError(
                f"corpus_codes is missing columns {missing} — it must be "
                f"the pq_encode+ivf_assign output for m={m} codebooks"
            )
        corp = corpus_codes.select(
            F.col(corpus_id_col).alias("neighbor_id"),
            *[F.col(f"code_{j}").cast("int").alias(f"code_{j}") for j in range(m)],
            F.col("ivf_cell").cast("int").alias("__cell"),
        )
    else:
        # NULL is not a vector — same drop rule (and reasons) as knn_join
        c = corpus.filter(F.col(vec_col).isNotNull()).select(
            F.col(corpus_id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("__cv"),
        )
        # ONE map-only chain (round 10): the previous shape computed
        # ivf_assign and pq_encode as two separate derivations of the
        # corpus and re-joined them on the id — a full corpus shuffle
        # (SMJ) to zip two projections of the same rows. Both are
        # per-row expressions, so the cell rides through pq_encode as a
        # passthrough column: zero corpus exchange before the probe join.
        assigned = ivf_assign(c, cell_centroids, "neighbor_id", "__cv").select(
            "neighbor_id", "__cv", F.col("ivf_cell").alias("__cell")
        )
        corp = pq_encode(
            assigned, codebooks, "neighbor_id", "__cv", extra_cols=["__cell"]
        ).drop("recon_sq_err")

    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    sims = _centroid_sims("__qv", cell_centroids)
    idx = F.sequence(F.lit(0), F.size(sims) - 1)
    ranked = F.array_sort(
        F.zip_with(sims, idx, lambda s, i: F.struct((-s).alias("ns"), i.alias("cell")))
    )
    probe = F.transform(F.slice(ranked, 1, nprobe), lambda st: st.getField("cell"))
    lut_cols = []
    for j, book in enumerate(codebooks):
        sub = F.slice(F.col("__qv"), j * sub_d + 1, sub_d)
        book_col = F.array(
            *[F.array(*[F.lit(float(v)) for v in cent]) for cent in book]
        )
        lut_cols.append(
            F.transform(
                book_col, lambda cent: F.round(_l2_sq_fold(sub, cent), 9)
            ).alias(f"__lut{j}")
        )
    qp = (
        q.select("query_id", *lut_cols, probe.alias("__probe"))
        .withColumn("__cell", F.explode("__probe"))
        .withColumn("__cell", F.col("__cell").cast("int"))
        .drop("__probe")
    )

    joined = qp.join(corp, "__cell")
    terms = [
        F.element_at(F.col(f"__lut{j}"), F.col(f"code_{j}") + 1) for j in range(m)
    ]
    adc = F.round(sum(terms[1:], terms[0]), 9)
    scored = joined.select("query_id", "neighbor_id", adc.alias("adc_dist"))
    return grouped_top_k(
        scored,
        ["query_id"],
        [F.col("adc_dist").asc(), F.col("neighbor_id").asc()],
        k=k,
    ).select("query_id", "neighbor_id", "adc_dist", "rank")
