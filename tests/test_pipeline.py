"""Tests for the training-data pipeline operators (dedup, similarity,
text analysis, multimodal plumbing) on the documents/embeddings tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from starlight_for_kafka_spark.operators import (
    dedup,
    multimodal,
    sampling,
    similarity,
    text,
)


def test_exact_dedup_removes_injected_dup(spark, documents):
    dup = documents.limit(1).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    with_dup = documents.unionByName(dup)
    out = dedup.exact_dedup(with_dup)
    assert out.count() == documents.count()
    assert out.filter(F.col("doc_id") >= 1_000_000).count() == 0  # kept lowest id


def test_minhash_dedup_catches_near_dup(spark, documents):
    # near-dup: append a token to an existing doc
    near = (
        documents.limit(1)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail")))
    )
    with_near = documents.unionByName(near)
    out = dedup.minhash_dedup(with_near, num_hashes=16, bands=8, threshold=0.7)
    assert out.filter(F.col("doc_id") >= 2_000_000).count() == 0
    # and it doesn't nuke everything
    assert out.count() >= documents.count() * 0.5


def test_minhash_star_cap_bounds_cluster_pair_emission(spark, documents):
    """star_above: a duplicate mega-cluster of size s emits s-1 anchor
    pairs instead of the s(s-1)/2 clique — the Σ cluster² guard rail —
    while keep-min-id dedup returns the SAME survivor set (the star
    anchor IS the keeper)."""
    base = documents.limit(1)
    # 9 identical clones with ids -1..-9: strictly below every corpus id,
    # so the star anchor is deterministically the cluster min (-9) even
    # if a foreign doc shares an LSH bucket with the clones
    cluster = base.withColumn("doc_id", F.lit(-1).cast("long"))
    for i in range(2, 10):
        cluster = cluster.unionByName(
            base.withColumn("doc_id", F.lit(-i).cast("long"))
        )
    corpus = documents.unionByName(cluster)
    sigs = dedup.minhash_signatures(corpus, num_hashes=16)
    exact = dedup.minhash_lsh_candidates(sigs, bands=4, num_hashes=16)
    capped = dedup.minhash_lsh_candidates(
        sigs, bands=4, num_hashes=16, star_above=4
    )
    within = (F.col("a") < 0) & (F.col("b") < 0)
    assert exact.filter(within).count() == 9 * 8 // 2  # full clique
    cp_rows = capped.filter(within).collect()
    assert len(cp_rows) == 8  # star: s-1 edges
    assert all(r.a == -9 for r in cp_rows)  # all anchored at the min id
    # capped candidates are a subset of the exact emission
    assert capped.join(exact, ["a", "b"], "left_anti").count() == 0
    # end-to-end: keep-min-id dedup drops the same copies either way
    d_exact = dedup.minhash_dedup(corpus, threshold=0.9)
    d_capped = dedup.minhash_dedup(corpus, threshold=0.9, star_above=4)
    assert sorted(r.doc_id for r in d_exact.select("doc_id").collect()) == sorted(
        r.doc_id for r in d_capped.select("doc_id").collect()
    )


def test_ngram_star_cap_bounds_posting_group_emission(spark, documents):
    """star_above on the prefix-filtered set-similarity join: oversized
    posting groups emit anchor stars, so a fully-duplicated cluster's
    candidate (and output-pair) volume is linear in cluster size; capped
    output pairs are a subset of the exact recall-1 output."""
    base = documents.limit(1)
    cluster = base.withColumn("doc_id", F.lit(-1).cast("long"))
    for i in range(2, 8):  # 7 identical clones, ids -1..-7
        cluster = cluster.unionByName(
            base.withColumn("doc_id", F.lit(-i).cast("long"))
        )
    corpus = documents.unionByName(cluster)
    exact = dedup.ngram_jaccard_pairs(corpus, threshold=0.95)
    capped = dedup.ngram_jaccard_pairs(corpus, threshold=0.95, star_above=3)
    within = (F.col("a") < 0) & (F.col("b") < 0)
    cp_rows = capped.filter(within).collect()
    assert exact.filter(within).count() == 7 * 6 // 2
    assert len(cp_rows) == 6 and all(r.a == -7 for r in cp_rows)
    assert all(abs(r.jaccard - 1.0) < 1e-9 for r in cp_rows)
    assert capped.join(exact, ["a", "b"], "left_anti").count() == 0


def test_ngram_jaccard_pairs_finds_identical(spark, documents):
    clone = documents.limit(1).withColumn("doc_id", F.col("doc_id") + 3_000_000)
    pairs = dedup.ngram_jaccard_pairs(documents.unionByName(clone), threshold=0.99)
    hits = pairs.filter(F.col("b") >= 3_000_000).collect()
    assert len(hits) == 1 and abs(hits[0].jaccard - 1.0) < 1e-9


def test_simhash_identical_docs_same_fp(spark, documents):
    clone = documents.limit(5).withColumn("doc_id", F.col("doc_id") + 4_000_000)
    fps = dedup.simhash64(documents.limit(5).unionByName(clone))
    joined = (
        fps.filter(F.col("doc_id") < 4_000_000)
        .alias("o")
        .join(
            fps.filter(F.col("doc_id") >= 4_000_000).alias("c"),
            F.col("o.doc_id") + 4_000_000 == F.col("c.doc_id"),
        )
    )
    assert joined.filter((F.col("o.simhash_hi") != F.col("c.simhash_hi")) | (F.col("o.simhash_lo") != F.col("c.simhash_lo"))).count() == 0


def test_simhash_xxhash64_production_path(spark, documents):
    """The hash_fn="xxhash64" production fingerprint (21x faster than
    the md5 oracle seam) preserves every behavioral contract: identical
    texts fingerprint identically, exact clones pair at hamming 0
    through the full pigeonhole search, both halves stay uint32-ranged,
    and distinct documents do NOT collapse to one fingerprint."""
    docs = documents.select("doc_id", "text").limit(40)
    fps = dedup.simhash64(docs, hash_fn="xxhash64").collect()
    assert all(0 <= r.simhash_hi < (1 << 32) and 0 <= r.simhash_lo < (1 << 32) for r in fps)
    assert len({(r.simhash_hi, r.simhash_lo) for r in fps}) > 1
    clones = docs.limit(5).select((F.col("doc_id") + 5000).alias("doc_id"), "text")
    out = dedup.simhash_near_dups(
        docs.unionByName(clones), hash_fn="xxhash64"
    )
    pairs = {(r.a, r.b): r.hamming for r in out.collect()}
    for r in docs.limit(5).collect():
        assert pairs.get((r.doc_id, r.doc_id + 5000)) == 0
    assert all(h <= 3 for h in pairs.values())


def test_brute_force_top_k(spark, embeddings):
    qvec = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).first().embedding]
    top = similarity.brute_force_top_k(embeddings, qvec, k=5).collect()
    assert len(top) == 5
    assert top[0].vec_id == 0 and abs(top[0].cos_sim - 1.0) < 1e-5
    sims = [r.cos_sim for r in top]
    assert sims == sorted(sims, reverse=True)


def test_lsh_top_k_contains_self(spark, embeddings):
    qvec = [float(x) for x in embeddings.filter(F.col("vec_id") == 7).first().embedding]
    top = similarity.lsh_top_k(embeddings, qvec, k=5, n_planes=4).collect()
    assert top and top[0].vec_id == 7  # self is always in its own bucket


def test_ivf_assign_cells_valid(spark, embeddings):
    cents = [r.embedding for r in embeddings.orderBy("vec_id").limit(4).collect()]
    out = similarity.ivf_assign(embeddings, [[float(x) for x in c] for c in cents])
    cells = {r.ivf_cell for r in out.select("ivf_cell").distinct().collect()}
    assert cells.issubset({0, 1, 2, 3})
    # centroid vectors map to their own cell
    own = out.filter(F.col("vec_id") < 4).collect()
    assert all(r.ivf_cell == r.vec_id for r in own)


def test_ivf_top_k_probes_query_cell(spark, embeddings):
    cents = [
        [float(x) for x in r.embedding]
        for r in embeddings.orderBy("vec_id").limit(4).collect()
    ]
    qvec = cents[2]  # query IS centroid 2, so its cell is always probed
    top = similarity.ivf_top_k(embeddings, cents, qvec, k=5, nprobe=2).collect()
    assert len(top) == 5
    assert top[0].vec_id == 2 and abs(top[0].cos_sim - 1.0) < 1e-5
    sims = [r.cos_sim for r in top]
    assert sims == sorted(sims, reverse=True)
    # nprobe=2 of 4 cells: candidates are a strict subset of the corpus
    assigned = similarity.ivf_assign(embeddings, cents)
    probed = assigned.filter(F.col("ivf_cell").isin([r.vec_id for r in top])).count()
    assert probed < embeddings.count()


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "el gato la casa de madrid"),
            (3, "xyz qqq zzz"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.pred_lang for r in text.language_id(df).collect()}
    assert out == {1: "en", 2: "es", 3: "und"}


def test_token_count_and_quality(spark, documents):
    out = text.token_count(documents)
    row = out.first()
    assert row.n_tokens == len(row.text.split())
    q = text.quality_score(documents)
    assert q.filter((F.col("quality") < 0) | (F.col("quality") > 1)).count() == 0


def test_scrub_pii_redacts_and_flags(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at alice.smith+x@sub.example.org please"),
            (2, "call +1 (555) 123-4567 now"),
            (3, "clean text with no contact info"),
            (4, "both bob@x.io and 555-867-5309 here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.scrub_pii(df).collect()}
    assert (out[1].had_email, out[1].had_phone) == (True, False)
    assert "<EMAIL>" in out[1].scrubbed_text and "@" not in out[1].scrubbed_text
    assert (out[2].had_email, out[2].had_phone) == (False, True)
    assert "<PHONE>" in out[2].scrubbed_text
    assert not any(c.isdigit() for c in out[2].scrubbed_text)
    assert (out[3].had_email, out[3].had_phone) == (False, False)
    assert out[3].scrubbed_text == out[3].text
    assert (out[4].had_email, out[4].had_phone) == (True, True)
    assert "<EMAIL>" in out[4].scrubbed_text and "<PHONE>" in out[4].scrubbed_text


def test_fingerprint_stable_under_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "hello  world"), (2, "hello world")], "doc_id long, text string"
    )
    fps = text.fingerprint(df).collect()
    assert fps[0].fp_full == fps[1].fp_full


def test_multimodal_features_shape(spark, documents):
    media = multimodal.synthesize_media(documents.limit(20))
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 20
    assert all(len(r.features) == 8 for r in rows)
    assert all(r.n_bytes > 0 for r in rows)


def test_frame_sampling_counts(spark, documents):
    media = multimodal.synthesize_media(documents.limit(30))
    videos = media.filter(F.col("kind") == "video")
    frames = multimodal.sample_frames(media, every_ms=1000)
    expected = videos.select(
        F.sum(F.floor((F.col("meta.duration_ms") - 1) / 1000) + 1).alias("n")
    ).first().n
    assert frames.count() == expected


def test_lsh_multiprobe_recall_superset(spark, embeddings):
    """probe_hamming1 scans the query bucket plus its n_planes hamming-1
    neighbors: its top-k must be at least as similar, element-wise, as the
    single-bucket top-k (superset candidate pool), and must contain it when
    both return k rows from overlapping pools."""
    from starlight_for_kafka_spark.operators import similarity as sim

    q = [float(x) for x in embeddings.filter("vec_id = 7").first().embedding]
    single = sim.lsh_top_k(embeddings, q, k=5, n_planes=4)
    multi = sim.lsh_top_k(embeddings, q, k=5, n_planes=4, probe_hamming1=True)
    s = [(r.vec_id, r.cos_sim) for r in single.collect()]
    m = [(r.vec_id, r.cos_sim) for r in multi.collect()]
    assert len(m) >= len(s)
    for (_, ms), (_, ss) in zip(m, s):
        assert ms >= ss  # multi-probe can only improve each rank position


def test_stratified_sample_deterministic_and_rated(spark, documents):
    fractions = {"en": 0.5, "de": 0.2}
    a = sampling.stratified_sample(documents, "lang", fractions, "doc_id")
    b = sampling.stratified_sample(documents, "lang", fractions, "doc_id")
    ids = sorted(r.doc_id for r in a.select("doc_id").collect())
    assert ids == sorted(r.doc_id for r in b.select("doc_id").collect())  # deterministic
    kept = {r.lang: r.cnt for r in a.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    totals = {r.lang: r.cnt for r in documents.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert set(kept) <= {"en", "de"}  # default fraction drops other strata
    for lang, frac in fractions.items():
        rate = kept.get(lang, 0) / totals[lang]
        assert abs(rate - frac) < 0.25  # small-sample tolerance
    # sampling is per-key stable: the kept set is a subset of the corpus keys
    assert set(ids) <= {r.doc_id for r in documents.select("doc_id").collect()}


def test_pack_sequences_matches_serial_concat(spark):
    rows = [(i, 700 + (i * 37) % 900) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = sampling.pack_sequences(df, "n_tokens", capacity=1000, n_shards=4).collect()
    # serial oracle: same total order (doc_id % 4, doc_id), running offsets
    order = sorted(rows, key=lambda r: (r[0] % 4, r[0]))
    expect, acc = {}, 0
    for doc_id, n in order:
        start = acc
        expect[doc_id] = (start, start // 1000, (start + n - 1) // 1000 - start // 1000 + 1)
        acc += n
    assert len(out) == 50
    for r in out:
        assert (r.start_tok, r.pack_id, r.n_packs_spanned) == expect[r.doc_id], r.doc_id
    # the stream is gapless: offsets tile the total token count exactly
    assert sorted(r.start_tok for r in out)[0] == 0
    assert max(r.start_tok + r.n_tokens for r in out) == sum(n for _, n in rows)


def test_benchmark_contamination_flags_clones(spark, documents):
    docs = documents.select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    clones = bench.withColumn("doc_id", F.col("doc_id") + 5_000_000)
    corpus = docs.filter(F.col("doc_id") % 7 != 0).unionByName(clones)
    out = dedup.benchmark_contamination(corpus, bench, ngram_k=8, threshold=0.5)
    assert out.count() == corpus.count()  # every corpus doc scored
    clones_out = out.filter(F.col("doc_id") >= 5_000_000)
    # exact clones of benchmark docs are fully contaminated
    assert clones_out.filter(~F.col("contaminated")).count() == 0
    assert clones_out.filter(F.col("contamination") < 0.999).count() == 0
    # ratio is a proper fraction everywhere
    assert out.filter((F.col("contamination") < 0) | (F.col("contamination") > 1)).count() == 0


def test_centroids_mean_per_group(spark):
    df = spark.createDataFrame(
        [(0, "a", [1.0, 3.0]), (1, "a", [3.0, 5.0]), (2, "b", [10.0, 0.0])],
        "vec_id long, label string, embedding array<float>",
    )
    out = {r.label: r.centroid for r in similarity.centroids(df, "label").collect()}
    assert out["a"] == [2.0, 4.0]
    assert out["b"] == [10.0, 0.0]


def test_lloyd_step_recenters_cells(spark, embeddings):
    cents = [
        [float(x) for x in r.embedding]
        for r in embeddings.orderBy("vec_id").limit(4).collect()
    ]
    out = similarity.lloyd_step(embeddings, cents).collect()
    assert {r.ivf_cell for r in out} <= {0, 1, 2, 3}
    assert all(r.n_dims == 64 and len(r.centroid) == 64 for r in out)
    # members per cell sum to the corpus: re-derive from the assignment
    assigned = similarity.ivf_assign(embeddings, cents)
    assert assigned.count() == embeddings.count()
    # recomputing the mean of one cell by hand matches the operator
    cell0 = assigned.filter(F.col("ivf_cell") == 0)
    if cell0.count() > 0:
        hand = cell0.select(
            F.posexplode("embedding").alias("dim", "x")
        ).groupBy("dim").agg(F.avg(F.col("x").cast("double")).alias("c")).collect()
        hand_map = {r.dim: r.c for r in hand}
        op0 = next(r for r in out if r.ivf_cell == 0)
        assert all(abs(op0.centroid[d] - hand_map[d]) < 1e-12 for d in range(64))


def test_kmeans_fit_one_iter_matches_lloyd_step(spark, embeddings):
    """kmeans_fit(n_iter=1) is exactly one lloyd_step from the lowest-id
    seeds, 6 dp-quantized — the fit loop adds nothing but iteration."""
    seeds = [
        [float(x) for x in r.embedding]
        for r in embeddings.orderBy("vec_id").limit(4).collect()
    ]
    step = {
        int(r.ivf_cell): [round(float(c), 6) for c in r.centroid]
        for r in similarity.lloyd_step(embeddings, seeds).collect()
    }
    fit = similarity.kmeans_fit(embeddings, k=4, n_iter=1)
    for i in range(4):
        expect = step.get(i, [round(v, 6) for v in seeds[i]])
        assert all(
            abs(a - b) < 5e-7 for a, b in zip(fit[i], expect)
        ), (i, fit[i][:4], expect[:4])


def test_kmeans_fit_improves_cosine_objective(spark, embeddings):
    """Two Lloyd rounds must not decrease the mean best-centroid cosine
    vs the raw seeds (monotone improvement of the k-means objective)."""
    seeds = [
        [float(x) for x in r.embedding]
        for r in embeddings.orderBy("vec_id").limit(4).collect()
    ]
    fit = similarity.kmeans_fit(embeddings, k=4, n_iter=2)

    def mean_best(cents):
        sims = similarity._centroid_sims("embedding", cents)
        return embeddings.select(F.avg(F.array_max(sims))).first()[0]

    assert mean_best(fit) >= mean_best(seeds) - 1e-6


def test_pq_train_books_feed_encode(spark, embeddings):
    """pq_train produces m x ks x sub_d codebooks whose codes are valid
    and whose reconstruction error is no worse than the seed codebooks'
    (one L2 Lloyd round must not hurt the quantization objective)."""
    books = similarity.pq_train(embeddings, m=4, ks=4, n_iter=1)
    assert len(books) == 4
    assert all(len(b) == 4 and all(len(c) == 16 for c in b) for b in books)
    seed_rows = embeddings.orderBy("vec_id").limit(4).collect()
    seed_books = [
        [
            [float(x) for x in r.embedding[j * 16:(j + 1) * 16]]
            for r in seed_rows
        ]
        for j in range(4)
    ]

    def total_err(bks):
        return (
            similarity.pq_encode(embeddings, bks)
            .select(F.sum("recon_sq_err"))
            .first()[0]
        )

    enc = similarity.pq_encode(embeddings, books)
    codes = enc.select(*[f"code_{j}" for j in range(4)]).collect()
    assert all(0 <= r[f"code_{j}"] < 4 for r in codes for j in range(4))
    assert total_err(books) <= total_err(seed_books) + 1e-6


def test_quantile_filter_exact_and_approx_agree(spark, documents):
    exact = sampling.quantile_filter(
        documents, ["lang"], "n_chars", 0.25, "doc_id", mode="exact"
    )
    approx = sampling.quantile_filter(
        documents, ["lang"], "n_chars", 0.25, "doc_id", mode="approx"
    )
    n_exact, n_approx, total = exact.count(), approx.count(), documents.count()
    # keeps roughly the requested fraction
    assert 0.15 * total <= n_exact <= 0.40 * total
    # the sketch threshold lands within a few rows of the exact boundary
    assert abs(n_exact - n_approx) <= 0.05 * total
    # every kept doc is at least as long as its language's dropped docs' max... 
    # (exact mode): the minimum kept length per lang >= max dropped length - ties
    kept_min = {r.lang: r.m for r in exact.groupBy("lang").agg(F.min("n_chars").alias("m")).collect()}
    dropped = documents.join(exact.select("doc_id"), "doc_id", "left_anti")
    drop_max = {r.lang: r.m for r in dropped.groupBy("lang").agg(F.max("n_chars").alias("m")).collect()}
    for lang, m in drop_max.items():
        assert kept_min[lang] >= m  # descending order: kept floor >= dropped ceiling


def test_cap_per_group_limits_and_is_deterministic(spark, documents):
    capped = sampling.cap_per_group(documents, ["source"], "doc_id", 3)
    counts = capped.groupBy("source").agg(F.count("*").alias("n")).collect()
    assert all(r.n <= 3 for r in counts)
    # groups smaller than the cap are untouched
    small = documents.groupBy("source").agg(F.count("*").alias("n")).filter("n <= 3")
    assert capped.join(small, "source").count() == documents.join(small, "source").count()
    again = sampling.cap_per_group(documents, ["source"], "doc_id", 3)
    assert sorted(r.doc_id for r in capped.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_connected_components_exact_grouping(spark):
    # component {1,3,5} via (1,5),(3,5): node 3's only neighbor is larger,
    # so the one-pass "drop if smaller near-dup exists" would keep 3 —
    # CC must label it into component 1
    pairs = spark.createDataFrame(
        [(1, 5), (3, 5), (10, 11)], "a long, b long"
    )
    out = {r.node: r.component for r in dedup.connected_components(pairs).collect()}
    assert out == {1: 1, 3: 1, 5: 1, 10: 10, 11: 10}


def test_connected_components_matches_union_find(spark):
    import random

    rng = random.Random(11)
    nodes = list(range(40))
    edges = [(min(a, b), max(a, b)) for a, b in
             (rng.sample(nodes, 2) for _ in range(35))]
    pairs = spark.createDataFrame(edges, "a long, b long")
    got = {r.node: r.component for r in dedup.connected_components(pairs).collect()}

    parent = {n: n for n in nodes}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {n for e in edges for n in e}
    expect = {n: find(n) for n in touched}
    assert got == expect


def test_minhash_exact_groups_keeps_component_minima(spark, documents):
    clones = documents.limit(3).withColumn("doc_id", F.col("doc_id") + 6_000_000)
    with_dups = documents.unionByName(clones)
    out = dedup.minhash_dedup_exact_groups(with_dups, num_hashes=16, bands=8)
    assert out.filter(F.col("doc_id") >= 6_000_000).count() == 0
    assert out.count() >= documents.count() * 0.5


def test_repetition_score_flags_repeats(spark):
    df = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham spam ham spam ham"),
            (2, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.repetition_score(df).collect()}
    # doc 1: 10 words, 2 types -> ttr 0.2; "spam ham" bigram appears 5/9
    assert out[1].n_words == 10 and abs(out[1].ttr - 0.2) < 1e-12
    assert abs(out[1].top_bigram_frac - 5 / 9) < 1e-12
    assert out[1].repetitive
    # doc 2: all distinct words, every bigram unique
    assert out[2].ttr == 1.0
    assert abs(out[2].top_bigram_frac - 1 / 9) < 1e-12
    assert not out[2].repetitive


def test_mixture_weights_sum_and_order(spark, documents):
    out = sampling.mixture_weights(documents, "source", alpha=0.5).collect()
    assert abs(sum(r.weight for r in out) - 1.0) < 1e-6
    # alpha<1 compresses: every group's weight is closer to uniform than
    # its natural share, so small groups gain and large groups lose
    total = sum(r.n_docs for r in out)
    for r in out:
        share = r.n_docs / total
        uniform = 1 / len(out)
        lo, hi = min(share, uniform), max(share, uniform)
        assert lo - 1e-9 <= r.weight <= hi + 1e-9
        assert abs(r.epochs - r.weight * total / r.n_docs) < 1e-6


def test_incremental_minhash_star_keeps_megacluster_recall(spark):
    """A recurring crawl's MOST duplicated doc makes every probe bucket
    hot, so max_bucket's pure drop ADMITS it (the documented recall
    trade); star_above pairs each batch row with the bucket's anchor
    instead, so the near-dup is still caught — at |bucket| cost, not
    |bucket|^2."""
    from starlight_for_kafka_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again today"
    # 30 corpus near-replicas of one doc -> every one of its buckets is
    # hot above max_bucket=10
    corpus = spark.createDataFrame(
        [(i, base) for i in range(30)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1000, base + " tail"), (1001, "a completely unrelated document here")],
        "doc_id long, text string",
    )
    kw = dict(shingle_k=3, shingle_mode="word", threshold=0.6)
    # drop-only cap: the hot buckets are dropped, the near-dup slips in
    dropped_cap = incremental_minhash_dedup(
        batch, corpus, max_bucket=10, **kw
    )
    assert {r.doc_id for r in dropped_cap.collect()} == {1000, 1001}
    # star cap: anchor pairing catches it at linear cost
    starred = incremental_minhash_dedup(
        batch, corpus, max_bucket=None, star_above=10, **kw
    )
    assert {r.doc_id for r in starred.collect()} == {1001}


def test_corpus_card_counts_and_dup_rate(spark):
    """The datasheet's redundancy math: exact clones (same normalized
    content, different ids) collapse in n_unique, dup_rate follows, and
    the volume columns sum the slice exactly."""
    docs = spark.createDataFrame(
        [
            (1, "s1", "en", "the cat sat on the mat"),
            (2, "s1", "en", "the cat  sat on the MAT"),  # normalized clone
            (3, "s1", "en", "a completely different doc"),
            (4, "s2", "en", "short one"),
        ],
        "doc_id long, source string, lang string, text string",
    )
    from starlight_for_kafka_spark.operators.text import corpus_card

    out = {(r.source, r.lang): r for r in corpus_card(docs).collect()}
    s1 = out[("s1", "en")]
    assert s1.n_docs == 3
    # clone normalizes to lowercase single-space -> 2 unique digests
    assert s1.n_unique == 2
    assert abs(s1.dup_rate - (1 - 2 / 3)) < 1e-9
    assert s1.total_tokens == 6 + 6 + 4
    assert out[("s2", "en")].n_docs == 1
    assert out[("s2", "en")].dup_rate == 0.0


def test_quantize_embeddings_roundtrip(spark):
    df = spark.createDataFrame(
        [(0, [1.0, -2.0, 0.5, 2.0]), (1, [0.0, 0.0, 0.1, -0.1])],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in similarity.quantize_embeddings(df).collect()}
    r0 = out[0]
    assert abs(r0.scale - 2.0 / 127) < 1e-9
    assert r0.q == [64, -127, 32, 127]  # round(x/scale) with scale=2/127
    assert all(-127 <= v <= 127 for r in out.values() for v in r.q)
    # reconstruction error bounded by scale/2 per element
    assert r0.max_err <= r0.scale / 2 + 1e-9


def test_source_overlap_exact_matrix(spark):
    eight = "w1 w2 w3 w4 w5 w6 w7 w8"
    df = spark.createDataFrame(
        [
            (1, "a", eight + " tail1"),    # grams: {w1..w8, w2..tail1}
            (2, "b", eight),               # grams: {w1..w8}
            (3, "c", "x1 x2 x3 x4 x5 x6 x7 x8"),
        ],
        "doc_id long, source string, text string",
    )
    out = {(r.src_a, r.src_b): r for r in dedup.source_overlap(df).collect()}
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = out[("a", "b")]
    assert (ab.n_a, ab.n_b, ab.n_common) == (2, 1, 1)
    assert abs(ab.jaccard - 0.5) < 1e-12
    assert out[("a", "c")].n_common == 0 and out[("a", "c")].jaccard == 0.0


def test_chunk_documents_tiling(spark):
    words = " ".join(f"w{i}" for i in range(70))
    df = spark.createDataFrame([(1, words), (2, "a b c")], "doc_id long, text string")
    out = text.chunk_documents(df, chunk_tokens=32, overlap=8)
    rows = sorted(out.collect(), key=lambda r: (r.doc_id, r.chunk_id))
    d1 = [r for r in rows if r.doc_id == 1]
    # 70 words, stride 24: chunks start at 0, 24, 48 -> 3 chunks
    assert [r.chunk_id for r in d1] == [0, 1, 2]
    assert d1[0].chunk_text.split()[:2] == ["w0", "w1"]
    assert d1[1].chunk_text.split()[0] == "w24"  # overlap: w24..w31 repeat
    assert d1[0].chunk_text.split()[-8:] == d1[1].chunk_text.split()[:8]
    assert d1[2].n_chunk_tokens == 70 - 48  # short last chunk, no padding
    # every word position is covered exactly once by non-overlap regions
    d2 = [r for r in rows if r.doc_id == 2]
    assert len(d2) == 1 and d2[0].chunk_text == "a b c" and d2[0].n_chunk_tokens == 3


def test_tfidf_top_terms_ranks_rare_words(spark):
    df = spark.createDataFrame(
        [
            (1, "common common rare1 rare1 rare1"),
            (2, "common common other"),
            (3, "common unique"),
        ],
        "doc_id long, text string",
    )
    out = text.tfidf_top_terms(df, top_k=2)
    top1 = {r.doc_id: r.term for r in out.filter(F.col("rank") == 1).collect()}
    # "common" is in every doc -> idf 0; rare terms win
    assert top1 == {1: "rare1", 2: "other", 3: "unique"}
    assert out.filter((F.col("term") == "common") & (F.col("tfidf") != 0)).count() == 0


def test_quantization_recall_perfect_on_coarse_vectors(spark):
    # vectors whose ranking survives int8 quantization exactly
    import math

    rows = [
        (i, [math.cos(i * 0.7), math.sin(i * 0.7), float(i % 3), 1.0])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.quantization_recall(df, [0, 5], k=5)
    got = {r.qid: r for r in out.collect()}
    assert set(got) == {0, 5}
    for r in got.values():
        assert 0.0 <= r.recall <= 1.0 and r.n_hit == int(r.recall * 5)
    # self is always its own nearest neighbor in both rankings -> recall > 0
    assert all(r.recall >= 0.2 for r in got.values())


def test_unigram_logprob_rare_words_score_worse(spark):
    df = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "common common rareword xyzzy"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.unigram_logprob(df).collect()}
    # doc 2 mixes in singleton words -> lower avg logprob, higher perplexity
    assert out[2].avg_logprob < out[1].avg_logprob
    assert out[2].ppl > out[1].ppl
    assert out[1].n_tokens == 4 and out[2].n_tokens == 4
    # smoothed probs are proper: logprob strictly negative, ppl > 1
    assert all(r.avg_logprob < 0 and r.ppl > 1 for r in out.values())


def test_winnow_fingerprints_guarantee_and_edges(spark):
    # Two docs sharing a long passage must share a fingerprint (the
    # winnowing guarantee for matches >= w+k-1 chars); unrelated text
    # should not collide.
    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            (1, "intro " + shared + " outro"),
            (2, "totally different lead-in " + shared),
            (3, "no overlap here at all zzz"),
            (4, "tiny"),  # shorter than k=5 -> empty set
            (5, "exact"),  # exactly k chars -> 1 gram -> 1 global-min fp
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.winnow_fingerprints(df, k=5, w=4).collect()}
    assert set(out[1].fps) & set(out[2].fps), "shared passage must share a fp"
    assert not (set(out[3].fps) & set(out[1].fps))
    assert out[4].fps == [] and out[4].n_fps == 0
    assert out[5].n_fps == 1
    # fps are sorted and distinct
    for r in out.values():
        assert list(r.fps) == sorted(set(r.fps))
        assert r.n_fps == len(r.fps)


def test_semantic_dedup_marks_within_cell_neighbors(spark):
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [2.0, 0.0, 0.0]),    # same direction as 1 -> dup_of 1
        (3, [0.9, 0.5, 0.0]),    # cell 0 but only ~0.87 similar -> kept
        (4, [0.0, 1.0, 0.0]),
        (5, [0.0, 3.0, 0.001]),  # ~0.9999999 of 4 -> dup_of 4
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in dedup.semantic_dedup(df, cents, 0.99).collect()}
    assert len(out) == 5
    assert not out[1].is_dup and out[2].dup_of == 1
    assert not out[3].is_dup and out[3].dup_of is None
    assert not out[4].is_dup and out[5].dup_of == 4
    assert out[2].ivf_cell == 0 and out[5].ivf_cell == 1


def test_incremental_minhash_dedup_corpus_and_batch_rules(spark):
    """incremental_minhash_dedup: an incoming doc drops when it near-dups
    ANY corpus doc (corpus is senior regardless of id), within-batch
    near-dup groups keep their smallest id, genuinely new docs survive,
    and an empty corpus degrades to plain within-batch dedup."""
    base = "the quick brown fox jumps over the lazy dog again and again "
    corpus = spark.createDataFrame(
        [(100, base * 4), (101, "completely different corpus text " * 6)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, base * 4 + "extra token"),       # near-dup of corpus 100 -> drop
            (2, "a brand new document about spark shuffles " * 5),   # survives
            (3, "a brand new document about spark shuffles " * 5),   # batch dup of 2 -> drop
            (4, "yet another unrelated piece of writing entirely " * 5),  # survives
        ],
        "doc_id long, text string",
    )
    out = sorted(
        r.doc_id
        for r in dedup.incremental_minhash_dedup(
            new, corpus, num_hashes=16, bands=4, shingle_k=3,
            threshold=0.7, shingle_mode="word",
        ).collect()
    )
    assert out == [2, 4]
    # empty corpus: pure within-batch near-dedup, corpus never required
    empty = corpus.limit(0)
    out2 = sorted(
        r.doc_id
        for r in dedup.incremental_minhash_dedup(
            new, empty, num_hashes=16, bands=4, shingle_k=3,
            threshold=0.7, shingle_mode="word",
        ).collect()
    )
    assert out2 == [1, 2, 4]  # doc 1 survives without the corpus
    # precomputed corpus signatures (the stored-with-the-corpus path)
    # give the identical result
    sigs = dedup.minhash_signatures(
        corpus, num_hashes=16, shingle_k=3, shingle_mode="word"
    )
    out3 = sorted(
        r.doc_id
        for r in dedup.incremental_minhash_dedup(
            new, corpus, num_hashes=16, bands=4, shingle_k=3,
            threshold=0.7, shingle_mode="word", corpus_signatures=sigs,
        ).collect()
    )
    assert out3 == out


def test_semantic_dedup_star_cap_linear_path(spark):
    """star_above: cells over the cap compare members against the cell
    ANCHOR only (dup_of == anchor, not the nearest smaller neighbor);
    sub-cap cells keep exact smallest-qualifying-id semantics."""
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    rows = [
        # cell 0: 4 colinear vectors (size 4 > cap 3 -> star at anchor 1)
        (1, [1.0, 0.0, 0.0]),
        (2, [2.0, 0.0, 0.0]),
        (6, [3.0, 0.0, 0.0]),
        (7, [4.0, 0.0, 0.0]),
        # cell 1: size 2 <= cap -> exact semantics
        (4, [0.0, 1.0, 0.0]),
        (5, [0.0, 3.0, 0.001]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: r
        for r in dedup.semantic_dedup(df, cents, 0.99, star_above=3).collect()
    }
    assert len(out) == 6
    assert not out[1].is_dup
    # starred cell: every member anchors to 1 (uncapped would give
    # dup_of == nearest smaller id, e.g. 7 -> 6)
    assert out[2].dup_of == 1 and out[6].dup_of == 1 and out[7].dup_of == 1
    # sub-cap cell keeps exact semantics
    assert not out[4].is_dup and out[5].dup_of == 4
    # uncapped twin still gives smallest-qualifying-id everywhere
    full = {
        r.vec_id: r for r in dedup.semantic_dedup(df, cents, 0.99).collect()
    }
    assert full[7].dup_of == 1 and full[2].dup_of == 1  # min id qualifies here


def test_assign_split_deterministic_and_corpus_independent(spark):
    import pytest

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    full = {r.doc_id: r.split for r in sampling.assign_split(df).collect()}
    counts = {s: list(full.values()).count(s) for s in set(full.values())}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > 900
    # a doc's split depends only on (seed, id) -- never on the rest of
    # the corpus (held-out stability across corpus refreshes)
    sub = sampling.assign_split(spark.range(100).withColumnRenamed("id", "doc_id"))
    for r in sub.collect():
        assert full[r.doc_id] == r.split
    # different seed reshuffles membership
    reseeded = {
        r.doc_id: r.split for r in sampling.assign_split(df, seed=7).collect()
    }
    assert reseeded != full
    with pytest.raises(ValueError):
        sampling.assign_split(df, {"a": 0.5, "b": 0.6})


def test_shuffle_rank_is_dense_permutation_of_hash_order(spark):
    import hashlib

    ids = list(range(57))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = {r.doc_id: r.shuffle_pos for r in sampling.shuffle_rank(df, seed=7).collect()}

    def h(i):
        return int(hashlib.md5(f"shuf7:{i}".encode()).hexdigest()[:15], 16)

    expected = sorted(ids, key=lambda i: (h(i) % 32, h(i), i))
    assert out == {i: p for p, i in enumerate(expected)}
    # the rank is a property of the corpus content, not its partitioning
    out2 = {
        r.doc_id: r.shuffle_pos
        for r in sampling.shuffle_rank(df.repartition(7), seed=7).collect()
    }
    assert out2 == out


def test_bpe_token_count_pretokenizer_semantics(spark):
    from starlight_for_kafka_spark.operators.text import bpe_token_count

    df = spark.createDataFrame(
        [(1, "don't stop"), (2, "hello world 42!"), (3, "a")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.n_bpe_tokens for r in bpe_token_count(df).collect()}
    # "don't stop" -> [don]["'t"][ stop] = 3; "hello world 42!" ->
    # [hello][ world][ 42][!] = 4; "a" -> 1
    assert out == {1: 3, 2: 4, 3: 1}


def test_epoch_resample_converges_to_epochs(spark, documents):
    from pyspark.sql import functions as F

    from starlight_for_kafka_spark.operators.sampling import (
        epoch_resample,
        mixture_weights,
    )

    docs = documents.select("doc_id").withColumn(
        "grp",
        F.when(F.col("doc_id") % 7 < 4, F.lit("web"))
        .when(F.col("doc_id") % 7 < 6, F.lit("books"))
        .otherwise(F.lit("code")),
    )
    w = mixture_weights(docs, "grp", alpha=0.5)
    out = epoch_resample(docs, w, "grp", "doc_id")
    got = {r.grp: r.n for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    exp = {
        r.grp: r.n_docs * r.epochs for r in w.collect()
    }
    for g, n in got.items():
        # hash gate approximates frac(epochs); small corpus -> loose bound
        assert abs(n - exp[g]) / exp[g] < 0.25, (g, n, exp[g])
    # duplicates carry distinct copy indices
    dup = out.groupBy("doc_id", "copy").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_hybrid_search_rrf_fusion(spark):
    from starlight_for_kafka_spark.operators.similarity import hybrid_search

    docs = spark.createDataFrame(
        [(0, "data data data"), (1, "data vector"), (2, "nothing here")],
        ["doc_id", "text"],
    )
    # vectors: id 2 is identical to the query, id 1 close, id 0 orthogonal
    emb = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [0.9, 0.1]), (2, [1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    out = hybrid_search(docs, emb, ["data", "vector"], [1.0, 0.0], k=3).collect()
    ranks = {r.id: (r.r_text, r.r_vec) for r in out}
    # doc 0 wins keywords but loses vectors; doc 2 wins vectors with no text
    assert ranks[0] == (1, 3)
    assert ranks[2] == (None, 1)
    assert ranks[1] == (2, 2)
    # RRF convexity: a #1 on one side (plus #3) edges out double #2 —
    # 1/61 + 1/63 > 2/62
    assert out[0].id == 0 and out[1].id == 1
    # doc 2 never scored on text, still fused in via vectors
    assert out[2].id == 2


def test_leakage_safe_split_is_group_atomic(spark, documents):
    """Every near-dup component lands in exactly one split, and docs with
    no near-dups match plain assign_split on their own id."""
    from starlight_for_kafka_spark.operators import sampling

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    out = sampling.leakage_safe_split(documents, pairs).collect()
    by_doc = {r.doc_id: r for r in out}
    # chains collapse to min-id components and share one split
    assert {by_doc[i].component for i in (1, 2, 3)} == {1}
    assert len({by_doc[i].split for i in (1, 2, 3)}) == 1
    assert {by_doc[i].component for i in (10, 11)} == {10}
    assert by_doc[10].split == by_doc[11].split
    # a doc outside any pair keeps its own id as component and the plain
    # assign_split verdict
    plain = {r.doc_id: r.split
             for r in sampling.assign_split(documents).collect()}
    for doc_id, r in by_doc.items():
        if doc_id not in (1, 2, 3, 10, 11):
            assert r.component == doc_id and r.split == plain[doc_id]


def test_line_dedup_removes_repeated_tile_keeps_first(spark):
    from starlight_for_kafka_spark.operators import text as text_ops

    tile_a = "a b c d e f g h"
    tile_b = "p q r s t u v w"
    docs = spark.createDataFrame(
        [(1, tile_a), (2, f"{tile_a} {tile_b}"), (3, tile_b)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text_ops.line_dedup(docs, line_words=8).collect()}
    # doc 1 owns tile_a (first occurrence by doc_id)
    assert (out[1].n_lines, out[1].n_kept, out[1].cleaned_text) == (1, 1, tile_a)
    # doc 2's tile_a is a corpus duplicate -> removed; tile_b is first here
    assert (out[2].n_lines, out[2].n_kept, out[2].cleaned_text) == (2, 1, tile_b)
    # doc 3's only tile was claimed by doc 2 -> empty cleaned text
    assert (out[3].n_lines, out[3].n_kept, out[3].cleaned_text) == (1, 0, "")


def test_dedup_lines_in_doc_keeps_first_and_is_map_only(spark):
    """Within-doc variant: repeated tiles inside ONE doc collapse to
    their first occurrence; other docs' identical tiles are untouched
    (that's line_dedup's job); and the plan carries ZERO exchanges —
    the operator must stay a pure map at any scale."""
    from starlight_for_kafka_spark.operators import text as text_ops

    tile_a = "a b c d e f g h"
    tile_b = "p q r s t u v w"
    docs = spark.createDataFrame(
        [
            (1, f"{tile_a} {tile_b} {tile_a}"),  # internal repeat of tile_a
            (2, tile_a),                          # same tile, other doc: kept
            (3, "short text"),                    # sub-tile doc
        ],
        "doc_id long, text string",
    )
    res = text_ops.dedup_lines_in_doc(docs, line_words=8)
    out = {r.doc_id: r for r in res.collect()}
    assert (out[1].n_lines, out[1].n_kept) == (3, 2)
    assert out[1].cleaned_text == f"{tile_a} {tile_b}"  # first-occurrence order
    assert (out[2].n_lines, out[2].n_kept, out[2].cleaned_text) == (1, 1, tile_a)
    assert (out[3].n_lines, out[3].n_kept, out[3].cleaned_text) == (
        1, 1, "short text",
    )
    assert "Exchange" not in res._jdf.queryExecution().executedPlan().toString()


def test_ccnet_bucket_terciles_per_language(spark, documents):
    from starlight_for_kafka_spark.operators import text as text_ops

    out = text_ops.ccnet_bucket(documents).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rows in by_lang.items():
        if len(rows) < 6:
            continue
        # ordering invariant: every head score > every tail score
        heads = [r.avg_logprob for r in rows if r.bucket == "head"]
        tails = [r.avg_logprob for r in rows if r.bucket == "tail"]
        assert heads and tails and min(heads) > max(tails)
        # terciles are roughly balanced
        for b in ("head", "middle", "tail"):
            n = sum(1 for r in rows if r.bucket == b)
            assert n >= len(rows) // 6


def test_dsir_weights_favor_target_lookalikes(spark):
    from starlight_for_kafka_spark.operators import text as text_ops

    target = "spark shuffle join agg " * 10
    lookalike = "spark shuffle join agg " * 8 + "extra words here "
    offdomain = "apples oranges bananas pears " * 10
    docs = spark.createDataFrame(
        [(1, target, "t"), (2, lookalike, "r"), (3, offdomain, "r")],
        "doc_id long, text string, tag string",
    )
    out = {
        r.doc_id: r.log_weight
        for r in text_ops.dsir_weights(docs, F.col("tag") == "t").collect()
    }
    assert out[2] > out[3]  # target-lookalike outweighs off-domain


def test_pq_encode_codes_in_range_and_adc_orders_near_first(spark, embeddings):
    from starlight_for_kafka_spark.operators import similarity as sim

    rows = {
        int(r.vec_id): [float(v) for v in r.embedding]
        for r in embeddings.filter(F.col("vec_id") < 8).collect()
    }
    books = [[rows[c][j * 16 : (j + 1) * 16] for c in range(8)] for j in range(4)]
    codes = sim.pq_encode(embeddings, books).collect()
    assert all(0 <= r[f"code_{j}"] < 8 for r in codes for j in range(4))
    # a codebook vector reconstructs itself exactly: zero error, own codes
    own = {r.vec_id: r for r in codes if r.vec_id < 8}
    for c in range(8):
        assert own[c].recon_sq_err == 0.0
        assert all(own[c][f"code_{j}"] == c for j in range(4))
    # ADC with a codebook vector as query puts that vector first
    q = rows[3]
    top = sim.pq_adc_top_k(embeddings, books, q, k=5).collect()
    assert top[0].vec_id == 3 and top[0].adc_dist == 0.0

    rec = sim.pq_recall(embeddings, books, [3, 100], k=10).collect()
    by_q = {r.qid: r.recall_at_k for r in rec}
    assert set(by_q) == {3, 100}
    assert all(0.0 <= v <= 1.0 for v in by_q.values())


def test_audio_chunks_tile_and_clip(spark):
    from starlight_for_kafka_spark.operators import multimodal as mm

    media = spark.createDataFrame(
        [(1, "audio", b"x", (0, 0, 4600, "stub")), (2, "image", b"y", (0, 0, 99999, "stub"))],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,duration_ms:int,codec:string>",
    )
    out = mm.audio_chunks(media, chunk_ms=2000, overlap_ms=500).collect()
    assert all(r.media_id == 1 for r in out)  # images excluded
    spans = sorted((r.chunk_start_ms, r.chunk_end_ms) for r in out)
    # stride 1500: [0,2000) [1500,3500) [3000,4600-clipped)
    assert spans == [(0, 2000), (1500, 3500), (3000, 4600)]


def test_caption_pairs_truncates_and_gates(spark):
    from starlight_for_kafka_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(40))), (3, "too short"), (6, "a b c")],
        "doc_id long, text string",
    )
    media = mm.synthesize_media(docs)  # doc_id%3==0 -> all images here
    out = {r.media_id: r for r in mm.caption_pairs(media, docs).collect()}
    assert out[0].n_caption_tokens == 32 and out[0].caption.split()[-1] == "w31"
    assert 3 not in out  # 2 tokens < min 3
    assert out[6].n_caption_tokens == 3


def test_pack_multimodal_stream_is_gapless(spark, documents):
    from starlight_for_kafka_spark.operators import multimodal as mm

    media = mm.synthesize_media(documents)
    out = mm.pack_multimodal(media, documents, capacity=1024).collect()
    # the packed stream is a permutation-free gapless concatenation:
    rows = sorted(out, key=lambda r: r.start_tok)
    pos = 0
    for r in rows:
        assert r.start_tok == pos
        pos += r.cost
    assert {r.modality for r in rows} == {"text", "image", "audio", "video"}


def test_repeated_spans_detects_copied_passage(spark):
    shared = " ".join(f"s{i}" for i in range(12))  # 12-word copied passage
    docs = spark.createDataFrame(
        [
            (1, shared + " unique tail one two three"),
            (2, "other prefix words here " + shared),
            (3, "totally different text with many distinct words in it ok"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.repeated_spans(docs).collect()}
    # 12 shared words -> 5 consecutive dup 8-grams -> span 5 + 7 = 12
    assert out[1].longest_dup_span_words == 12
    assert out[2].longest_dup_span_words == 12
    assert out[3].longest_dup_span_words == 0


def test_hard_negatives_excludes_same_label(spark, embeddings):
    from starlight_for_kafka_spark.operators import similarity as sim

    qlabel = {r.vec_id: r.label for r in embeddings.filter(F.col("vec_id").isin([5, 17])).collect()}
    out = sim.hard_negatives(embeddings, [5, 17], k=5).collect()
    assert {r.qid for r in out} == {5, 17}
    for r in out:
        assert r.neg_label != qlabel[r.qid]
        assert 1 <= r.rank <= 5


def test_quality_classifier_monotone_in_stopwords(spark):
    from starlight_for_kafka_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house went to a market"),
            (2, "zxq wvu tsr qpo nml kji hgf edc"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text_ops.quality_classifier(docs).collect()}
    assert out[1].clf_score > out[2].clf_score
    assert 0.0 <= out[2].clf_score <= out[1].clf_score <= 1.0


def test_corpus_drift_zero_for_identical_slices(spark, documents):
    from starlight_for_kafka_spark.operators import text as text_ops

    same = text_ops.corpus_drift(documents, documents).collect()[0]
    assert same.jeffreys == 0.0 and same.kl_ab == 0.0
    a = documents.filter(F.col("lang") == "en")
    b = documents.filter(F.col("lang") == "zh")
    diff = text_ops.corpus_drift(a, b).collect()[0]
    assert diff.jeffreys > 0.0


def test_repeated_spans_emits_short_docs_with_zero(spark):
    docs = spark.createDataFrame(
        [(1, "only four words here"), (2, " ".join(f"w{i}" for i in range(10)))],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.repeated_spans(docs).collect()}
    assert out[1].n_grams == 0 and out[1].longest_dup_span_words == 0
    assert out[2].n_grams == 3  # 10 words -> 3 8-grams, none shared


def test_merge_streams_empty_raises(spark):
    import pytest as _pytest

    from starlight_for_kafka_spark.operators import windows

    with _pytest.raises(ValueError):
        windows.merge_streams()


def test_simhash_near_dups_finds_clones_and_near_edits(spark, documents):
    docs = documents.select("doc_id", "text").limit(40)
    clones = docs.limit(5).select((F.col("doc_id") + 5000).alias("doc_id"), "text")
    out = dedup.simhash_near_dups(docs.unionByName(clones))
    pairs = {(r.a, r.b): r.hamming for r in out.collect()}
    for r in docs.limit(5).collect():
        assert pairs.get((r.doc_id, r.doc_id + 5000)) == 0  # exact clone: hamming 0
    assert all(h <= 3 for h in pairs.values())


def test_simhash_near_dups_star_cap_bounds_bucket_pairs(spark, documents):
    """star_above: a mega-bucket (a doc cloned many times shares every
    block value) emits only anchor-star pairs — linear in cluster size —
    while the hamming verify still holds; pairs between two non-anchor
    clones are the traded recall."""
    base = documents.select("doc_id", "text").limit(1)
    clones = None
    for i in range(1, 8):  # 8 identical docs -> every block bucket size 8
        c = base.select((F.col("doc_id") + 1000 * i).alias("doc_id"), "text")
        clones = c if clones is None else clones.unionByName(c)
    corpus = base.unionByName(clones)
    anchor = base.first().doc_id
    capped = dedup.simhash_near_dups(corpus, star_above=4)
    got = {(r.a, r.b) for r in capped.collect()}
    # exactly the 7 anchor-star pairs, all hamming 0
    assert got == {(anchor, anchor + 1000 * i) for i in range(1, 8)}
    # uncapped twin emits the full 8-choose-2 clique
    full = dedup.simhash_near_dups(corpus)
    assert full.count() == 28


def test_bigram_logprob_ranks_fluent_above_shuffled(spark):
    """A doc with corpus-typical word SEQUENCES must outscore one with the
    same vocabulary in a shuffled (unseen-bigram) order — exactly what the
    unigram model cannot distinguish."""
    from starlight_for_kafka_spark.operators import text as text_ops

    base = "the spark engine reads the parquet table and joins the result "
    fluent = (1, base * 5)
    shuffled = (2, " ".join(reversed((base * 5).split())))
    background = [(i + 10, base * 3) for i in range(5)]
    docs = spark.createDataFrame(
        [fluent, shuffled] + background, "doc_id long, text string"
    )
    out = {r.doc_id: r for r in text_ops.bigram_logprob(docs).collect()}
    assert out[1].avg_logprob > out[2].avg_logprob
    assert out[1].ppl < out[2].ppl


def test_binarize_and_binary_recall(spark, embeddings):
    from starlight_for_kafka_spark.operators import similarity as sim

    codes = {r.vec_id: (r.bq_hi, r.bq_lo) for r in sim.binarize_embeddings(embeddings).collect()}
    # halves stay in unsigned-32 range
    assert all(0 <= hi < 2**32 and 0 <= lo < 2**32 for hi, lo in codes.values())
    # recall is defined for every query; a vector is its own nearest under
    # both metrics so recall@10 > 0 generically
    rec = {r.qid: r.recall_at_k for r in sim.binary_recall(embeddings, [3, 7], k=10).collect()}
    assert set(rec) == {3, 7} and all(0.0 <= v <= 1.0 for v in rec.values())
    assert any(v > 0 for v in rec.values())


def test_packing_stats_consistency(spark):
    from starlight_for_kafka_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, 30) for i in range(10)], "doc_id long, n long"
    )
    r = sampling.packing_stats(df, "n", 100).collect()[0]
    # 300 tokens at capacity 100 -> 3 packs, gapless fill 1.0
    assert (r.n_docs, r.total_tokens, r.n_packs) == (10, 300, 3)
    assert r.fill_frac == 1.0
    # a doc crosses a boundary whenever 30 does not divide the cut
    assert 0 < r.boundary_crossers < 10
    assert abs(r.crosser_frac - r.boundary_crossers / 10) < 1e-12


def test_dedup_cluster_stats_counts_clone_chains(spark, documents):
    base = documents.limit(30).select("doc_id", "text")
    # two exact clones of doc A (3-cluster) and one of doc B (2-cluster)
    rows = base.collect()
    extra = [(9001, rows[0].text), (9002, rows[0].text), (9003, rows[1].text)]
    du = base.unionByName(spark.createDataFrame(extra, "doc_id long, text string"))
    out = {r.cluster_size: r for r in dedup.dedup_cluster_stats(
        du, shingle_k=3, threshold=0.7, shingle_mode="word").collect()}
    assert out[3].n_clusters >= 1 and out[3].docs_dropped == out[3].n_docs - out[3].n_clusters
    assert out[2].n_clusters >= 1


def test_bm25_tf_and_idf_ordering(spark):
    from starlight_for_kafka_spark.operators.text import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "spark spark filler filler filler"),   # tf=2 for spark
            (2, "spark filler filler filler filler"),  # tf=1, same length
            (3, "rare filler filler filler filler"),   # rare term, one doc
            (4, "filler filler filler filler filler"), # no match
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bm25_scores(docs, ["spark", "rare"]).collect()}
    assert 4 not in out                      # non-matching docs are absent
    assert out[1].score > out[2].score       # higher tf, same dl -> higher
    # 'rare' (df=1) carries more idf than 'spark' (df=2) at equal tf/dl
    assert out[3].score > out[2].score
    assert out[1].n_matched == 1 and out[1].dl == 5


def test_bpe_merge_pairs_counts_weighted_by_word_freq(spark):
    from starlight_for_kafka_spark.operators.text import bpe_merge_pairs

    docs = spark.createDataFrame(
        [("aab aab aab",), ("ab x",)], "text string"
    )
    out = {r.pair: r.n for r in bpe_merge_pairs(docs, top_k=10).collect()}
    # 'aab' (freq 3) contributes aa x3 and ab x3; 'ab' (freq 1) adds ab x1;
    # 'x' is single-char -> no pairs
    assert out == {"aa": 3, "ab": 4}


def test_minhash_jaccard_estimate_identical_and_disjoint(spark):
    from starlight_for_kafka_spark.operators.dedup import (
        minhash_jaccard_estimate,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely different words about spark shuffles and parquet files"),
        ],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs, num_hashes=16, shingle_k=3, shingle_mode="word")
    cands = spark.createDataFrame([(1, 2), (1, 3)], "a long, b long")
    out = {(r.a, r.b): r for r in minhash_jaccard_estimate(sigs, cands).collect()}
    # identical docs -> identical signatures -> estimate exactly 1
    assert out[(1, 2)].j_est == 1.0 and out[(1, 2)].near_dup
    # disjoint shingle sets -> estimate ~0 (each component collides w.p. ~1/P)
    assert out[(1, 3)].j_est < 0.5 and not out[(1, 3)].near_dup


def test_gopher_quality_rules_fire_individually(spark):
    from starlight_for_kafka_spark.operators.text import gopher_quality_flags

    fifty = " ".join(f"the quick brown fox and that have with word{i}" for i in range(6))
    docs = spark.createDataFrame(
        [
            (1, fifty),                                    # 54 words, clean
            (2, "short doc with the and that"),            # < 50 words
            (3, " ".join(["#"] * 60) + " the and of to"),  # symbol spam
            (4, " ".join(["12345"] * 60) + " the and"),    # numeric words
            (5, " ".join([f"word{i}" for i in range(60)])),  # no stop words
            (6, " ".join(["word…"] * 60) + " the and"),    # U+2026 ellipsis spam
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_quality_flags(docs).collect()}
    assert out[1].keep
    assert out[2].too_short and not out[2].keep
    assert out[3].high_symbol_ratio and out[3].low_alpha and not out[3].keep
    assert out[4].low_alpha and not out[4].keep
    assert out[5].few_stopwords and not out[5].keep
    assert out[6].high_symbol_ratio and not out[6].keep


def test_weighted_sample_deterministic_and_weight_proportional(spark):
    import hashlib
    import math

    from starlight_for_kafka_spark.operators.sampling import weighted_sample

    rows = [(i, float(1 + (i % 7))) for i in range(200)] + [(900, 0.0), (901, None)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = sorted(r.id for r in weighted_sample(df, "w", 20, "id").collect())
    # replicate the E-S competition in plain Python
    def es_key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        return round(math.log((h + 0.5) / 2**60) / w, 9)

    expect = sorted(
        sorted(
            ((i, w) for i, w in rows if w), key=lambda t: (-es_key(*t), t[0])
        )[:20]
    )
    assert got == sorted(i for i, _ in expect)
    # zero/NULL-weight rows can never be sampled
    assert 900 not in got and 901 not in got
    # determinism across invocations
    again = sorted(r.id for r in weighted_sample(df, "w", 20, "id").collect())
    assert again == got


def test_cluster_balanced_sample_keeps_m_most_central(spark):
    from starlight_for_kafka_spark.operators.similarity import (
        cluster_balanced_sample,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    vecs = [
        (0, [1.0, 0.0]),       # cluster 0, sim 1.0
        (1, [1.0, 0.1]),       # cluster 0
        (2, [1.0, 0.4]),       # cluster 0, least central of the three
        (3, [0.0, 1.0]),       # cluster 1
        (4, [0.2, 1.0]),       # cluster 1
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = cluster_balanced_sample(df, cents, m=2)
    got = {(r.cluster, r.vec_id): r.rank for r in out.collect()}
    assert got == {(0, 0): 1, (0, 1): 2, (1, 3): 1, (1, 4): 2}


def test_cluster_representatives_argmax_with_tiebreak(spark):
    from starlight_for_kafka_spark.operators.dedup import cluster_representatives

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "node long, component long",
    )
    scores = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (10, 1.0), (11, 1.0)],
        "doc_id long, score double",
    )
    out = {r.component: (r.doc_id, r.score) for r in
           cluster_representatives(comps, scores).collect()}
    # component 1: max score 9.0 tie between 2 and 3 -> smallest id 2
    assert out == {1: (2, 9.0), 10: (10, 1.0)}


def test_weighted_sample_per_group_quota_and_determinism(spark):
    from starlight_for_kafka_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    rows = [(f"g{i % 3}", i, float(1 + i % 5)) for i in range(90)]
    df = spark.createDataFrame(rows, "grp string, id long, w double")
    out = weighted_sample_per_group(df, ["grp"], "w", 4, "id").collect()
    per = {}
    for r in out:
        per.setdefault(r.grp, []).append((r.rank, r.id))
    assert set(per) == {"g0", "g1", "g2"}
    for g, picks in per.items():
        assert sorted(r for r, _ in picks) == [1, 2, 3, 4]
    again = weighted_sample_per_group(df, ["grp"], "w", 4, "id").collect()
    assert sorted((r.grp, r.rank, r.id) for r in again) == sorted(
        (r.grp, r.rank, r.id) for r in out
    )


def test_bloom_decontaminate_no_false_negatives(spark, documents):
    from starlight_for_kafka_spark.operators.dedup import (
        benchmark_contamination,
        bloom_decontaminate,
    )

    docs = documents.select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0).unionByName(
        bench.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    bloom = {r.doc_id: r.bloom_hit
             for r in bloom_decontaminate(corpus, bench).collect()}
    exact = {r.doc_id: r.n_overlap > 0
             for r in benchmark_contamination(corpus, bench).collect()}
    # Bloom guarantee: every truly overlapping doc tests positive
    assert all(bloom[d] for d, hit in exact.items() if hit)
    # the clone fixture rows are all true hits
    assert all(hit for d, hit in bloom.items() if d >= 1_000_000)


def test_weighted_sample_excludes_nan_weights(spark):
    from starlight_for_kafka_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, 1.0) for i in range(50)] + [(500, float("nan")), (501, float("nan"))],
        "id long, w double",
    )
    got = {r.id for r in weighted_sample(df, "w", 5, "id").collect()}
    assert not got & {500, 501}


def test_pca_fit_project_variance_descending_orthonormal(spark, embeddings):
    import numpy as np

    from starlight_for_kafka_spark.operators.similarity import (
        embedding_covariance,
        pca_fit,
        pca_project,
    )

    comps, mean = pca_fit(embeddings, 4)
    C = np.array(comps)
    assert np.allclose(C @ C.T, np.eye(4), atol=1e-6)  # orthonormal rows
    P = np.array([r.pc for r in pca_project(embeddings, comps, mean).collect()])
    var = P.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(3))  # sorted spectrum
    # covariance summary is symmetric-complete upper triangle: d(d+1)/2 rows
    d = len(mean)
    assert embedding_covariance(embeddings).count() == d * (d + 1) // 2
    # diagonal of the summary equals the projected total variance budget
    diag = {(r.i, r.j): r.cov for r in embedding_covariance(embeddings).collect()}
    total_var = sum(diag[(i, i)] for i in range(d))
    assert sum(var) <= total_var + 1e-6  # k components never exceed the budget


def test_random_projection_preserves_norms_in_expectation(spark, embeddings):
    import numpy as np

    from starlight_for_kafka_spark.operators.similarity import random_projection

    out = {r.vec_id: np.array(r.jl) for r in
           random_projection(embeddings, 32).collect()}
    orig = {r.vec_id: np.array(r.embedding, dtype=float) for r in
            embeddings.collect()}
    ratios = [np.sum(out[i] ** 2) / np.sum(orig[i] ** 2) for i in orig]
    # E[||y||^2] = ||x||^2; per-vector distortion is bounded w.h.p.
    assert abs(float(np.mean(ratios)) - 1.0) < 0.15
    assert min(ratios) > 0.3 and max(ratios) < 2.5
    # determinism: the md5 matrix regenerates identically
    again = {r.vec_id: np.array(r.jl) for r in
             random_projection(embeddings, 32).collect()}
    assert all(np.array_equal(out[i], again[i]) for i in out)


def test_interleave_sources_rates_and_determinism(spark):
    from starlight_for_kafka_spark.operators.sampling import interleave_sources

    rows = [(f"s{'ab'[i % 2]}", i) for i in range(300)]  # 150 each
    df = spark.createDataFrame(rows, "src string, id long")
    out = interleave_sources(
        df, {"sa": 0.75, "sb": 0.25, "sc": 0.5}, source_col="src", id_col="id"
    ).collect()
    assert len(out) == 300
    # per-source ranks are dense 0..n-1
    for s in ("sa", "sb"):
        ranks = sorted(r.src_rank for r in out if r.src == s)
        assert ranks == list(range(150))
    # stride property: in the first k keys, sources appear ~proportional
    # to weight (3:1) — check the first 100 positions
    first = sorted(out, key=lambda r: (r.interleave_key, r.src))[:100]
    n_a = sum(1 for r in first if r.src == "sa")
    assert 65 <= n_a <= 85  # 3:1 mix -> ~75
    # determinism
    again = interleave_sources(
        df, {"sa": 0.75, "sb": 0.25, "sc": 0.5}, source_col="src", id_col="id"
    ).collect()
    assert sorted((r.id, r.interleave_key) for r in again) == sorted(
        (r.id, r.interleave_key) for r in out
    )
    # zero/missing-weight sources drop
    df2 = df.unionByName(spark.createDataFrame([("sz", 999)], "src string, id long"))
    out2 = interleave_sources(df2, {"sa": 1.0, "sb": 1.0}, "src", "id")
    assert out2.filter("src = 'sz'").count() == 0


def test_frame_and_chunk_features_identical_to_exploded_form(spark, documents):
    """The payload-ships-once rewrites must emit EXACTLY the rows of the
    exploded composition (sample_frames/audio_chunks + per-row seek
    decode) — the explode shape is the semantic contract; only the Arrow
    shipping changed."""
    import pandas as pd

    from starlight_for_kafka_spark.functions import media_codec as mc

    media = multimodal.synthesize_media(documents.limit(60)).cache()

    got_frames = sorted(
        map(tuple, multimodal.frame_features(media, every_ms=700).collect())
    )
    expect_frames = []
    for r in multimodal.sample_frames(media, every_ms=700).collect():
        d = mc.decode_y4m_frame(bytes(r.payload), int(r.frame_ms))
        expect_frames.append(
            (r.media_id, r.frame_ms, d["frame_idx"], d["sum_y"], d["sum_u"],
             d["sum_v"])
        )
    assert got_frames == sorted(expect_frames) and got_frames

    got_chunks = sorted(
        map(tuple,
            multimodal.chunk_features(media, chunk_ms=1500, overlap_ms=400).collect())
    )
    expect_chunks = []
    for r in multimodal.audio_chunks(media, chunk_ms=1500, overlap_ms=400).collect():
        d = mc.decode_wav_range(
            bytes(r.payload), int(r.chunk_start_ms), int(r.chunk_end_ms)
        )
        expect_chunks.append(
            (r.media_id, r.chunk_id, r.chunk_start_ms, r.chunk_end_ms,
             d["n_samples"], d["sum"], d["sum_sq"], d["min"], d["max"])
        )
    assert got_chunks == sorted(expect_chunks) and got_chunks
    media.unpersist()


def test_frame_features_payload_ships_once_no_explode_before_kernel(
    spark, documents
):
    """The payload must cross the Arrow boundary once per VIDEO, not once
    per sampled frame: the physical plan upstream of the Python kernel
    must contain no Generate (explode) node — the fan-out happens inside
    the kernel, after the single payload transfer."""
    media = multimodal.synthesize_media(documents.limit(60))
    for df in (
        multimodal.frame_features(media, every_ms=500),
        multimodal.chunk_features(media, chunk_ms=1500, overlap_ms=400),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan
        assert "Generate" not in plan, plan


def test_audio_chunks_and_chunk_features_drop_null_duration(spark):
    """A clip with corrupt (NULL) duration metadata has no chunk grid:
    BOTH the exploded form and the array form drop it — greatest/least
    skip NULLs, so the raw span arithmetic would otherwise fabricate one
    bogus full-length chunk (parity regression guard)."""
    rows = [
        (1, "audio", b"x", (0, 0, None, "pcm_s16le")),
        (2, "audio", b"x", (0, 0, 3000, "pcm_s16le")),
    ]
    media = spark.createDataFrame(
        [(i, k, bytearray(p), m) for i, k, p, m in rows],
        multimodal.MEDIA_SCHEMA,
    )
    exploded = multimodal.audio_chunks(media, chunk_ms=2000, overlap_ms=500)
    assert sorted(r.media_id for r in exploded.collect()) == [2, 2]
    # the array form stages the same rows (kernel would fail on b"x", so
    # check the staged pre-kernel selection only via the same filter)
    from pyspark.sql import functions as F

    staged = media.filter(
        (F.col("kind") == "audio") & F.col("meta.duration_ms").isNotNull()
    )
    assert [r.media_id for r in staged.collect()] == [2]


def test_auto_plane_count_targets_bucket_occupancy():
    """p is the smallest count with n/2^p <= target (clamped to [1,24]):
    the within-bucket quadratic work bound that holds across 100x."""
    from starlight_for_kafka_spark.operators.similarity import auto_plane_count

    assert auto_plane_count(10, 64) == 1           # tiny corpus: one bucket
    assert auto_plane_count(64, 64) == 1
    assert auto_plane_count(65, 64) == 1           # ceil(log2(65/64)) = 1
    assert auto_plane_count(525, 16) == 6          # the fixture case
    assert auto_plane_count(1_000_000, 64) == 14
    assert auto_plane_count(100_000_000, 64) == 21
    assert auto_plane_count(10**13, 64) == 24      # clamp: bucket space cap
    for n in (100, 10_000, 5_000_000):
        p = auto_plane_count(n, 64)
        assert n / (1 << p) <= 64 or p == 24


def test_knn_join_brute_finds_identical_twin(spark, embeddings):
    """A query that IS a corpus vector must come back with itself at
    rank 1, cosine 1.0 — and every query must get exactly k rows with
    ranks 1..k."""
    q = (
        embeddings.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    out = similarity.knn_join(q, embeddings, k=3, method="brute").collect()
    assert len(out) == 9
    for r in out:
        assert 1 <= r.rank <= 3
    top1 = {r.query_id: r for r in out if r.rank == 1}
    for qid in (0, 1, 2):
        assert top1[qid].neighbor_id == qid
        assert abs(top1[qid].cos_sim - 1.0) < 1e-6


def test_knn_join_lsh_subset_of_brute_and_correctly_scored(spark, embeddings):
    """ANN results are a SUBSET of the cross product with identical
    scoring: every (query, neighbor, cos) the LSH mode emits appears with
    the same cosine in the brute join's full scoring."""
    q = (
        embeddings.filter(F.col("vec_id") % 10 == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    c = embeddings.filter(F.col("vec_id") % 10 != 0)
    brute = similarity.knn_join(q, c, k=10_000, method="brute")
    full = {(r.query_id, r.neighbor_id): r.cos_sim for r in brute.collect()}
    lsh = similarity.knn_join(
        q, c, k=5, method="lsh", n_planes=4, probe_hamming1=True
    ).collect()
    assert lsh, "lsh mode returned nothing"
    for r in lsh:
        assert (r.query_id, r.neighbor_id) in full
        assert abs(full[(r.query_id, r.neighbor_id)] - r.cos_sim) < 1e-9


def test_knn_join_ivf_probe_matches_driver_rule(spark, embeddings):
    """The in-plan per-row probe choice (array_sort over the centroid-sim
    array) must agree with the driver-side _rank_probe_cells rule that
    ivf_top_k uses — same 9 dp rounding, same (-sim, cell) tie-break."""
    cents = [
        [float(x) for x in r.embedding]
        for r in embeddings.orderBy("vec_id").limit(4).collect()
    ]
    q = (
        embeddings.filter(F.col("vec_id") % 7 == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    out = similarity.knn_join(
        q, embeddings, k=3, method="ivf", cell_centroids=cents, nprobe=2
    )
    # neighbors of each query must all live in the query's two best cells
    assigned = similarity.ivf_assign(embeddings, cents)
    cell_of = {r.vec_id: r.ivf_cell for r in assigned.collect()}
    qvecs = {
        r.query_id: [float(x) for x in r.embedding]
        for r in q.collect()
    }
    for r in out.collect():
        expect = similarity._rank_probe_cells(cents, qvecs[r.query_id], 2)
        assert cell_of[r.neighbor_id] in expect, (
            r.query_id, r.neighbor_id, cell_of[r.neighbor_id], expect
        )


def test_knn_join_auto_planes_and_rank_contract(spark, embeddings):
    """n_planes=None self-sizes from the corpus count; ranks are dense
    1..n per query with no duplicate neighbors."""
    q = (
        embeddings.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    out = similarity.knn_join(q, embeddings, k=4, method="lsh", n_planes=None)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1)), (qid, ranks)
        assert len({r.neighbor_id for r in rs}) == len(rs)


def test_remove_repeated_spans_cuts_only_non_keeper(spark):
    """The lowest-id doc holding a shared passage keeps every word; the
    other doc loses exactly the passage; untouched docs round-trip."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa unique one"),
        (2, "prefix words here alpha beta gamma delta epsilon zeta eta theta iota kappa tail words"),
        (3, "totally different content with no shared passages at all in this document"),
        (4, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in dedup.remove_repeated_spans(df).collect()}
    assert out[1].removed_words == 0
    assert out[1].text == rows[0][1]
    # doc 2 loses the 10 shared words, keeps its own prefix/tail
    assert out[2].removed_words == 10
    assert out[2].text == "prefix words here tail words"
    assert out[3].removed_words == 0
    assert out[4].removed_words == 0 and out[4].text == "short doc"
    for r in out.values():
        assert r.removed_words + len([w for w in r.text.split(" ") if r.text]) in (
            r.n_words,
            r.removed_words,  # fully-removed doc: text is ""
        )


def test_remove_repeated_spans_exact_clone_loses_whole_body(spark):
    """An exact clone (higher id) of a >=8-word doc is cut to nothing;
    the original survives byte-identical (normalized tokens)."""
    body = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(10, body), (20, body)], "doc_id int, text string"
    )
    out = {r.doc_id: r for r in dedup.remove_repeated_spans(df).collect()}
    assert out[10].text == body and out[10].removed_words == 0
    assert out[20].text == "" and out[20].removed_words == 10


def _span_reference(rows, k):
    """Pure-Python replay of the substring-dedup span policy: tokenize
    like functions.hashing.words, k-grams by position, a gram is shared
    when more than one document holds it, and its keeper is the lowest id
    holding it. Returns {id: (n_words, removed_words, text, n_grams,
    longest_dup_run, longest_dup_span_words)}."""
    import re
    from collections import defaultdict

    toks = {
        i: None if t is None else re.sub(r"[ \t\n\x0b\f\r]+", " ", t.lower()).strip(" ").split(" ")
        for i, t in rows
    }
    holders = defaultdict(set)
    for i, ws in toks.items():
        for p in range(len(ws or []) - k + 1):
            holders[" ".join(ws[p : p + k])].add(i)
    out = {}
    for i, ws in toks.items():
        covered, dup = set(), []
        for p in range(len(ws or []) - k + 1):
            h = holders[" ".join(ws[p : p + k])]
            dup.append(len(h) > 1)
            if len(h) > 1 and i != min(h):
                covered.update(range(p, p + k))
        run = best = 0
        for d in dup:
            run = run + 1 if d else 0
            best = max(best, run)
        if ws is None:
            n_words = removed = None
            text_out = ""
        else:
            kept = [w for j, w in enumerate(ws) if j not in covered]
            n_words, removed, text_out = len(ws), len(ws) - len(kept), " ".join(kept)
        out[i] = (n_words, removed, text_out, len(dup), best, best + k - 1 if best else 0)
    return out


def test_repeated_spans_operators_match_a_python_reference(spark):
    """remove_repeated_spans and repeated_spans against a pure-Python
    replay: null, empty and whitespace-only text, fewer than k words,
    overlapping removable grams, a document that keeps one shared passage
    (it is that passage's keeper) and loses another, a gram repeated
    inside one document only (not shared), and an exact clone."""
    k = 4
    p1 = "Alpha beta\tgamma delta epsilon"
    p2 = "one two three four five six"
    rows = [
        (1, None),
        (2, ""),
        (3, "  \t \n "),
        (4, "a b c"),
        (5, f"{p1} zeta ETA theta"),
        (6, f"x {p1.lower()} y"),
        (7, f"start {p1} mid {p2} end"),
        (8, f"  {p1} zeta ETA theta "),
        (9, f"{p2} only here"),
        (10, "x y z w x y z w"),
        (11, f"tail alpha beta gamma delta and {p2}"),
    ]
    want = _span_reference(rows, k)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_words, r.removed_words, r.text)
        for r in dedup.remove_repeated_spans(df, ngram_k=k).collect()
    }
    assert got == {i: w[:3] for i, w in want.items()}
    got = {
        r.doc_id: (r.n_grams, r.longest_dup_run, r.longest_dup_span_words)
        for r in dedup.repeated_spans(df, ngram_k=k).collect()
    }
    assert got == {i: w[3:] for i, w in want.items()}
    # the cases the reference is meant to cover do occur
    assert want[8][1] == want[8][0] and want[8][2] == ""  # exact clone
    assert want[7][1] == 5 and p2 in want[7][2]  # loses p1, keeps p2
    assert want[6][1] == 5  # overlapping grams cover p1 once
    assert want[10][1] == 0 and want[10][4] == 0


def test_soft_dedup_weights_mass_per_cluster_is_one(spark, documents):
    """alpha=1: each near-dup cluster's total weight is exactly 1, no row
    is ever dropped, singletons weigh 1."""
    clones = documents.limit(3).withColumn("doc_id", F.col("doc_id") + 3_000_000)
    corpus = documents.unionByName(clones).select("doc_id", "text")
    out = dedup.soft_dedup_weights(
        corpus, num_hashes=16, bands=8, shingle_k=3, threshold=0.7,
        shingle_mode="word",
    )
    rows = out.collect()
    assert len(rows) == corpus.count()  # drop-free
    from collections import defaultdict
    mass = defaultdict(float)
    for r in rows:
        mass[r.cluster] += r.weight
        if r.cluster_size == 1:
            assert r.weight == 1.0
    # clone clusters: 2 members at weight 0.5 each
    clustered = [r for r in rows if r.cluster_size > 1]
    assert clustered, "clones not clustered"
    for c, m in mass.items():
        assert abs(m - 1.0) < 1e-4, (c, m)


def test_pq_knn_join_matches_per_query_adc_within_probed_cells(spark, embeddings):
    """For each query, the IVFADC join's result equals running the ADC
    scan restricted to that query's probed cells — same codes, same LUT
    arithmetic, same (adc, id) ordering."""
    cents = [
        [float(x) for x in r.embedding]
        for r in embeddings.orderBy("vec_id").limit(4).collect()
    ]
    rows = {
        int(r.vec_id): [float(v) for v in r.embedding]
        for r in embeddings.filter(F.col("vec_id") < 8).collect()
    }
    books = [[rows[c][j * 16:(j + 1) * 16] for c in range(8)] for j in range(4)]
    q = (
        embeddings.filter(F.col("vec_id") % 9 == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    out = similarity.pq_knn_join(q, embeddings, books, cents, k=3, nprobe=2)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.adc_dist))
    assigned = similarity.ivf_assign(embeddings, cents)
    for qrow in q.collect():
        qvec = [float(v) for v in qrow.embedding]
        probe = similarity._rank_probe_cells(cents, qvec, 2)
        cand = assigned.filter(F.col("ivf_cell").isin(probe))
        expect = similarity.pq_adc_top_k(cand, books, qvec, k=3).collect()
        mine = sorted(got.get(qrow.query_id, []))
        assert [(m[1], m[2]) for m in mine] == [
            (e.vec_id, e.adc_dist) for e in expect
        ], (qrow.query_id, mine, expect)


def test_knn_join_precomputed_bucket_and_cell_paths_match_inline(spark, embeddings):
    """corpus_bucket_col / corpus_cell_col (the at-rest index reuse path)
    must give byte-identical results to the inline assignment."""
    q = (
        embeddings.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    inline = similarity.knn_join(q, embeddings, k=4, method="lsh", n_planes=4)
    pre = embeddings.withColumn(
        "bkt",
        similarity.hyperplane_bucket(F.col("embedding").cast("array<double>"), 4),
    )
    stored = similarity.knn_join(
        q, pre, k=4, method="lsh", n_planes=4, corpus_bucket_col="bkt"
    )
    assert sorted(map(tuple, inline.collect())) == sorted(map(tuple, stored.collect()))

    cents = [
        [float(x) for x in r.embedding]
        for r in embeddings.orderBy("vec_id").limit(4).collect()
    ]
    inline_ivf = similarity.knn_join(
        q, embeddings, k=4, method="ivf", cell_centroids=cents, nprobe=2
    )
    pre_ivf = similarity.ivf_assign(embeddings, cents)
    stored_ivf = similarity.knn_join(
        q, pre_ivf, k=4, method="ivf", cell_centroids=cents, nprobe=2,
        corpus_cell_col="ivf_cell",
    )
    assert sorted(map(tuple, inline_ivf.collect())) == sorted(
        map(tuple, stored_ivf.collect())
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        similarity.knn_join(q, pre, method="lsh", corpus_bucket_col="bkt")


def test_knn_join_l2_metric_orders_ascending_and_finds_twin(spark, embeddings):
    """metric='l2': a query identical to a corpus vector gets itself at
    rank 1 with l2_sq 0.0; ranks follow ascending distance."""
    q = (
        embeddings.filter(F.col("vec_id") < 2)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    out = similarity.knn_join(q, embeddings, k=3, method="brute", metric="l2")
    rows = sorted(out.collect(), key=lambda r: (r.query_id, r.rank))
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        assert rs[0].neighbor_id == qid and rs[0].l2_sq == 0.0
        dists = [r.l2_sq for r in rs]
        assert dists == sorted(dists)


def test_knn_join_drops_null_vectors_both_sides(spark):
    """NULL is not a vector: a NULL corpus row must not occupy a top-k
    slot (in lsh mode it would otherwise silently land in bucket 0), and
    a NULL query row emits nothing."""
    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, None), (4, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    q = df.withColumnRenamed("vec_id", "query_id")
    for kwargs in (
        {"method": "brute"},
        {"method": "lsh", "n_planes": 2},
    ):
        out = similarity.knn_join(q, df, k=4, **kwargs).collect()
        assert all(r.neighbor_id != 3 for r in out), kwargs
        assert all(r.query_id != 3 for r in out), kwargs
        assert all(r.cos_sim is not None for r in out), kwargs


def test_minhash_recall_harness_detects_banding_loss(spark, documents):
    """The acceptance harness must move with the (num_hashes, bands)
    S-curve: r=2 rows per band (8 bands) collides near-dup signatures far
    more often than r=8 (2 bands), so recall(8 bands) >= recall(2 bands);
    verified pairs never exceed truth."""
    near = (
        documents.limit(20)
        .withColumn("doc_id", F.col("doc_id") + 5_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail token here")))
    )
    corpus = documents.unionByName(near).select("doc_id", "text")
    loose = dedup.minhash_recall(
        corpus, num_hashes=16, bands=8, shingle_k=3, threshold=0.6,
        shingle_mode="word",
    ).first()
    tight = dedup.minhash_recall(
        corpus, num_hashes=16, bands=2, shingle_k=3, threshold=0.6,
        shingle_mode="word",
    ).first()
    assert loose.true_pairs == tight.true_pairs > 0
    assert loose.verified_pairs <= loose.true_pairs
    assert tight.verified_pairs <= tight.true_pairs
    assert loose.recall >= tight.recall
    assert loose.candidate_precision <= 1.0


def test_fuzzy_decontaminate_flags_near_and_exact_leaks(spark):
    from starlight_for_kafka_spark.operators.dedup import fuzzy_decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog every single day"),
            (2, "completely unrelated text about spark dataframes and shuffles"),
            (3, "the quick brown fox jumps over the lazy dog every single night"),
            (4, "another unrelated document talking about benchmarks and ovens"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog every single day"),
            (101, "entirely different eval item with no corpus overlap at all"),
        ],
        "doc_id long, text string",
    )
    surv = fuzzy_decontaminate(
        corpus, bench, num_hashes=16, bands=4, shingle_k=3,
        threshold=0.6, shingle_mode="word",
    )
    # doc 1 is an exact leak, doc 3 a one-word paraphrase; 2 and 4 are clean
    assert sorted(r.doc_id for r in surv.collect()) == [2, 4]
    # original corpus columns come back untouched
    assert surv.columns == corpus.columns

    rep = fuzzy_decontaminate(
        corpus, bench, num_hashes=16, bands=4, shingle_k=3,
        threshold=0.6, shingle_mode="word", mode="report",
    ).collect()
    pairs = {(r.corpus_id, r.bench_id) for r in rep}
    assert pairs == {(1, 100), (3, 100)}
    by_pair = {(r.corpus_id, r.bench_id): r.jaccard for r in rep}
    assert by_pair[(1, 100)] == 1.0
    assert 0.6 <= by_pair[(3, 100)] < 1.0


def test_fuzzy_decontaminate_empty_benchmark_keeps_corpus(spark):
    from starlight_for_kafka_spark.operators.dedup import fuzzy_decontaminate

    corpus = spark.createDataFrame(
        [(1, "some text here that is long enough to shingle")],
        "doc_id long, text string",
    )
    bench = corpus.filter("doc_id < 0")
    out = fuzzy_decontaminate(corpus, bench, shingle_k=3, shingle_mode="word")
    assert out.count() == 1
    rep = fuzzy_decontaminate(
        corpus, bench, shingle_k=3, shingle_mode="word", mode="report"
    )
    assert rep.count() == 0
    assert rep.columns == ["corpus_id", "bench_id", "jaccard"]


def test_fuzzy_decontaminate_bench_hot_bucket_cap_drops_boilerplate(spark):
    from starlight_for_kafka_spark.operators.dedup import fuzzy_decontaminate

    # 5 identical benchmark docs saturate their bucket; with the cap at 4
    # the bucket is dropped and the identical corpus doc sails through —
    # the boilerplate guard, deliberately benchmark-side only
    text = "shared boilerplate sentence repeated across many eval items verbatim"
    corpus = spark.createDataFrame([(1, text)], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100 + i, text) for i in range(5)], "doc_id long, text string"
    )
    kept = fuzzy_decontaminate(
        corpus, bench, shingle_k=3, shingle_mode="word",
        threshold=0.6, max_bench_bucket=4,
    )
    assert kept.count() == 1
    # raising the cap restores the flag
    kept2 = fuzzy_decontaminate(
        corpus, bench, shingle_k=3, shingle_mode="word",
        threshold=0.6, max_bench_bucket=100,
    )
    assert kept2.count() == 0


def test_fuzzy_decontaminate_rejects_bad_mode(spark):
    import pytest

    from starlight_for_kafka_spark.operators.dedup import fuzzy_decontaminate

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="mode"):
        fuzzy_decontaminate(df, df, mode="banana")


def test_filter_funnel_sequential_counts_and_solely(spark):
    from pyspark.sql import functions as F

    from starlight_for_kafka_spark.operators.text import filter_funnel

    docs = spark.createDataFrame(
        [(i, "x" * (i * 10)) for i in range(1, 11)], "doc_id long, text string"
    )
    out = filter_funnel(
        docs,
        [
            ("min20", F.length("text") >= 20),
            ("max80", F.length("text") <= 80),
            ("even", F.col("doc_id") % 2 == 0),
        ],
    ).collect()
    rows = {r.name: r for r in out}
    assert [r.stage for r in out] == [1, 2, 3]
    # lengths 10..100: min20 removes doc1; max80 removes 9,10; even removes 3,5,7
    assert (rows["min20"].rows_in, rows["min20"].removed, rows["min20"].rows_out) == (10, 1, 9)
    assert (rows["max80"].rows_in, rows["max80"].removed, rows["max80"].rows_out) == (9, 2, 7)
    assert (rows["even"].rows_in, rows["even"].removed, rows["even"].rows_out) == (7, 3, 4)
    # doc1 also fails 'even' (odd), so nothing fails ONLY min20; doc10 fails
    # only max80; docs 3,5,7 fail only even
    assert rows["min20"].removed_solely == 0
    assert rows["max80"].removed_solely == 1
    assert rows["even"].removed_solely == 3


def test_filter_funnel_null_predicate_counts_as_removal(spark):
    from pyspark.sql import functions as F

    from starlight_for_kafka_spark.operators.text import filter_funnel

    docs = spark.createDataFrame(
        [(1, "abc"), (2, None)], "doc_id long, text string"
    )
    out = filter_funnel(docs, [("has3", F.length("text") >= 3)]).collect()
    assert (out[0].rows_in, out[0].removed, out[0].rows_out) == (2, 1, 1)


def test_filter_funnel_requires_filters(spark):
    import pytest

    from starlight_for_kafka_spark.operators.text import filter_funnel

    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="at least one"):
        filter_funnel(df, [])


def test_fuzzy_decontaminate_stored_signatures_match_recompute(spark):
    from starlight_for_kafka_spark.operators.dedup import (
        fuzzy_decontaminate,
        minhash_signatures,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog every single day"),
            (2, "completely unrelated text about spark dataframes and shuffles"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog every single day")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(corpus, "text", "doc_id", 16, 3, "word")
    a = fuzzy_decontaminate(
        corpus, bench, num_hashes=16, bands=4, shingle_k=3,
        threshold=0.6, shingle_mode="word",
    )
    b = fuzzy_decontaminate(
        corpus, bench, num_hashes=16, bands=4, shingle_k=3,
        threshold=0.6, shingle_mode="word", corpus_signatures=sigs,
    )
    assert sorted(r.doc_id for r in a.collect()) == sorted(
        r.doc_id for r in b.collect()
    ) == [2]


def test_bpe_train_learns_sennrich_sequence(spark):
    from starlight_for_kafka_spark.operators.text import bpe_train

    # the classic corpus: low x5, lower x2, newest x6, widest x3
    docs = spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3))],
        "doc_id long, text string",
    )
    out = [tuple(r) for r in bpe_train(docs, n_merges=4).collect()]
    # es (9 = newest 6 + widest 3), then est (9), then lo (7), then low (7)
    assert out == [
        (1, "e", "s", "es", 9),
        (2, "es", "t", "est", 9),
        (3, "l", "o", "lo", 7),
        (4, "lo", "w", "low", 7),
    ]


def test_bpe_train_greedy_fold_on_runs(spark):
    from starlight_for_kafka_spark.operators.text import bpe_train

    # 'aaa' x4: round 1 fuses (a,a) -> greedy leaves [aa, a] per word, so
    # round 2's argmax is (aa, a) — the fold must NOT chain-fuse through
    # its own output within a round
    docs = spark.createDataFrame(
        [(1, "aaa aaa aaa aaa")], "doc_id long, text string"
    )
    out = [tuple(r) for r in bpe_train(docs, n_merges=2).collect()]
    assert out == [
        (1, "a", "a", "aa", 8),
        (2, "aa", "a", "aaa", 4),
    ]


def test_bpe_train_stops_when_no_pairs_remain(spark):
    from starlight_for_kafka_spark.operators.text import bpe_train

    docs = spark.createDataFrame(
        [(1, "ab ab cd")], "doc_id long, text string"
    )
    out = bpe_train(docs, n_merges=10).collect()
    # ab(2), cd(1) — after both merges every word is one symbol
    assert [(r.rank, r.merged) for r in out] == [(1, "ab"), (2, "cd")]


def test_snapshot_delta_four_statuses_and_normalization(spark):
    from starlight_for_kafka_spark.operators.dedup import snapshot_delta

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "kept same")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        # 3's edit is whitespace+case only -> digests equal -> unchanged
        [(2, "gamma REVISED"), (3, "Kept   SAME"), (4, "brand new page")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in snapshot_delta(old, new).collect()}
    assert {k: v.status for k, v in out.items()} == {
        1: "removed", 2: "changed", 3: "unchanged", 4: "added"
    }
    assert out[1].new_digest is None
    assert out[4].old_digest is None
    assert out[3].old_digest == out[3].new_digest


def test_threshold_sweep_counts_weights_and_null_scores(spark):
    from starlight_for_kafka_spark.operators.text import threshold_sweep

    docs = spark.createDataFrame(
        [(1, 0.1, 10), (2, 0.5, 20), (3, 0.9, 30), (4, None, 40)],
        "doc_id long, score double, w long",
    )
    out = {r.threshold: r for r in threshold_sweep(
        docs, "score", [0.5, 0.95], weight_col="w"
    ).collect()}
    r5 = out[0.5]
    # NULL score counts in totals, never passes
    assert (r5.n_total, r5.n_pass, r5.weight_total, r5.weight_pass) == (4, 2, 100, 50)
    assert r5.pass_rate == 0.5
    r95 = out[0.95]
    assert (r95.n_pass, r95.weight_pass) == (0, 0)


def test_threshold_sweep_requires_thresholds(spark):
    import pytest

    from starlight_for_kafka_spark.operators.text import threshold_sweep

    df = spark.createDataFrame([(1, 0.5)], "doc_id long, score double")
    with pytest.raises(ValueError, match="at least one"):
        threshold_sweep(df, "score", [])


def test_bpe_apply_token_counts_match_manual_fold(spark):
    from starlight_for_kafka_spark.operators.text import bpe_apply, bpe_train

    docs = spark.createDataFrame(
        [(1, "low low lower"), (2, "newest low")],
        "doc_id long, text string",
    )
    learned = bpe_train(docs, n_merges=2).collect()
    merges = [(r["left"], r["right"]) for r in learned]
    out = {r.doc_id: r for r in bpe_apply(docs, merges).collect()}
    # merges: lo(4: low x3 + lower), low(4) -> 'low' = 1 token,
    # 'lower' = [low, e, r] = 3, 'newest' = 6 chars untouched
    assert merges == [("l", "o"), ("lo", "w")]
    assert (out[1].n_words, out[1].n_tokens) == (3, 1 + 1 + 3)
    assert (out[2].n_words, out[2].n_tokens) == (2, 6 + 1)


def test_bpe_apply_empty_merges_counts_chars(spark):
    from starlight_for_kafka_spark.operators.text import bpe_apply

    docs = spark.createDataFrame([(1, "ab cde")], "doc_id long, text string")
    out = bpe_apply(docs, []).collect()[0]
    assert (out.n_words, out.n_tokens) == (2, 5)


def test_filter_funnel_weighted_mass_attrition(spark):
    from pyspark.sql import functions as F

    from starlight_for_kafka_spark.operators.text import filter_funnel

    docs = spark.createDataFrame(
        [(1, 10, 100), (2, 30, 1000), (3, 50, 10)],
        "doc_id long, score long, w long",
    )
    out = filter_funnel(
        docs,
        [("s20", F.col("score") >= 20), ("s40", F.col("score") >= 40)],
        weight_col="w",
    ).collect()
    s20, s40 = out
    # s20 removes doc1 (w=100): 1 of 3 docs but 100 of 1110 mass
    assert (s20.rows_in, s20.removed, s20.weight_in, s20.weight_removed, s20.weight_out) == (3, 1, 1110, 100, 1010)
    # s40 then removes doc2 (w=1000): 1 of 2 docs but 1000 of 1010 mass —
    # the doc-count view alone would call the two gates equally aggressive
    assert (s40.rows_in, s40.removed, s40.weight_in, s40.weight_removed, s40.weight_out) == (2, 1, 1010, 1000, 10)


def test_minhash_dedup_partition_scoped_never_drops_across_cells(spark):
    from starlight_for_kafka_spark.operators.dedup import minhash_dedup

    text = "the quick brown fox jumps over the lazy dog every single day"
    docs = spark.createDataFrame(
        [
            (1, "en", text),
            (2, "de", text),          # identical text, different cell
            (3, "en", text + " x"),   # near-dup of 1, same cell -> drops
            (4, "de", text + " y"),   # near-dup of 2, same cell -> drops
        ],
        "doc_id long, lang string, text string",
    )
    scoped = minhash_dedup(
        docs, num_hashes=16, bands=4, shingle_k=3, threshold=0.6,
        shingle_mode="word", partition_cols=["lang"],
    )
    # 2 survives: its only near-dups outside 'de' are never paired
    assert sorted(r.doc_id for r in scoped.collect()) == [1, 2]
    unscoped = minhash_dedup(
        docs, num_hashes=16, bands=4, shingle_k=3, threshold=0.6,
        shingle_mode="word",
    )
    assert sorted(r.doc_id for r in unscoped.collect()) == [1]


def test_minhash_dedup_partition_scoped_null_cell_dedups_itself(spark):
    # NULL policy values must form their OWN cell (sentinel-keyed), not
    # silently opt out of dedup: a bare equi-join on the policy column
    # would never pair NULL-lang docs even with each other
    from starlight_for_kafka_spark.operators.dedup import minhash_dedup

    text = "the quick brown fox jumps over the lazy dog every single day"
    docs = spark.createDataFrame(
        [
            (1, "en", text),
            (2, None, text),          # NULL cell
            (3, None, text + " x"),   # near-dup of 2, NULL cell -> drops
            (4, "en", text + " y"),   # near-dup of 1, en cell -> drops
        ],
        "doc_id long, lang string, text string",
    )
    scoped = minhash_dedup(
        docs, num_hashes=16, bands=4, shingle_k=3, threshold=0.6,
        shingle_mode="word", partition_cols=["lang"],
    )
    # 2 survives vs 1 (cross-cell never pairs); 3 drops vs 2 (NULL cell
    # dedups among itself); 4 drops vs 1
    assert sorted(r.doc_id for r in scoped.collect()) == [1, 2]


def test_fuzzy_decontaminate_rejects_mismatched_stored_signatures(spark):
    import pytest as _pytest

    from starlight_for_kafka_spark.operators.dedup import (
        fuzzy_decontaminate,
        minhash_signatures,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    # stored signatures built with 8 hashes, probe configured for 16:
    # without the guard banding reads past the array end and the scrub
    # silently returns the corpus unchanged
    sigs8 = minhash_signatures(corpus, "text", "doc_id", 8, 3, "word")
    # the guard fires as soon as the plan executes (the candidate
    # materialization inside the operator), so wrap the whole call
    with _pytest.raises(Exception, match="corpus_signatures length"):
        fuzzy_decontaminate(
            corpus, bench, num_hashes=16, bands=4, shingle_k=3,
            threshold=0.6, shingle_mode="word", corpus_signatures=sigs8,
        ).collect()


def test_incremental_minhash_dedup_rejects_mismatched_stored_signatures(spark):
    import pytest as _pytest

    from starlight_for_kafka_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    sigs8 = minhash_signatures(corpus, "text", "doc_id", 8, 3, "word")
    with _pytest.raises(Exception, match="corpus_signatures length"):
        incremental_minhash_dedup(
            batch, corpus, num_hashes=16, bands=4, shingle_k=3,
            threshold=0.6, shingle_mode="word", corpus_signatures=sigs8,
        ).collect()


def test_pq_knn_join_precomputed_codes_match_inline(spark, embeddings):
    """corpus_codes (the at-rest IVFADC index seam) must give
    byte-identical results to the inline encode+assign path, and a
    wrong-shape table must fail loudly."""
    import pytest as _pytest

    cents = [
        [float(x) for x in r.embedding]
        for r in embeddings.orderBy("vec_id").limit(4).collect()
    ]
    rows = {
        int(r.vec_id): [float(v) for v in r.embedding]
        for r in embeddings.filter(F.col("vec_id") < 8).collect()
    }
    books = [[rows[c][j * 16:(j + 1) * 16] for c in range(8)] for j in range(4)]
    q = (
        embeddings.filter(F.col("vec_id") % 9 == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    corpus = embeddings.filter(F.col("vec_id") % 9 != 0)
    inline = similarity.pq_knn_join(q, corpus, books, cents, k=3, nprobe=2)
    at_rest = similarity.pq_encode(corpus, books).drop("recon_sq_err").join(
        similarity.ivf_assign(corpus, cents).select("vec_id", "ivf_cell"),
        "vec_id",
    )
    stored = similarity.pq_knn_join(
        q, corpus, books, cents, k=3, nprobe=2, corpus_codes=at_rest
    )
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, stored.collect())
    )
    with _pytest.raises(ValueError, match="missing columns"):
        similarity.pq_knn_join(
            q, corpus, books, cents, k=3, nprobe=2,
            corpus_codes=at_rest.drop("code_2"),
        )


def test_bpe_vocab_ids_are_frequency_ranked_and_deterministic(spark):
    from starlight_for_kafka_spark.operators.text import bpe_train, bpe_vocab

    docs = spark.createDataFrame(
        [(1, "aa aa aa b"), (2, "aa b c")], "doc_id long, text string"
    )
    learned = bpe_train(docs, n_merges=1).collect()
    merges = [(x["left"], x["right"]) for x in learned]  # the ('a','a') merge
    out = {r.token: (r.token_id, r.n_occurrences) for r in bpe_vocab(docs, merges).collect()}
    # tokens: 'aa' x4, 'b' x2, 'c' x1 -> ids 0,1,2 by frequency
    assert out == {"aa": (0, 4), "b": (1, 2), "c": (2, 1)}
    again = {r.token: (r.token_id, r.n_occurrences) for r in bpe_vocab(docs, merges).collect()}
    assert again == out


def test_bpe_tokenize_ids_match_vocab_and_flag_oov(spark):
    import pytest as _pytest

    from starlight_for_kafka_spark.operators.text import (
        bpe_tokenize,
        bpe_train,
        bpe_vocab,
    )

    docs = spark.createDataFrame(
        [(1, "aa aa b"), (2, "aa c")], "doc_id long, text string"
    )
    learned = bpe_train(docs, n_merges=1).collect()
    merges = [(x["left"], x["right"]) for x in learned]
    vocab = {
        r.token: int(r.token_id) for r in bpe_vocab(docs, merges).collect()
    }
    ids = {
        r.doc_id: list(r.token_ids)
        for r in bpe_tokenize(docs, merges, emit="ids", vocab=vocab).collect()
    }
    toks = {
        r.doc_id: list(r.tokens)
        for r in bpe_tokenize(docs, merges, emit="tokens").collect()
    }
    assert ids == {d: [vocab[t] for t in ts] for d, ts in toks.items()}
    # OOV (vocab built elsewhere) maps to -1
    oov = bpe_tokenize(docs, merges, emit="ids", vocab={"aa": 0}).collect()
    flat = [i for r in oov for i in r.token_ids]
    assert set(flat) == {0, -1}
    with _pytest.raises(ValueError, match="requires a vocab"):
        bpe_tokenize(docs, merges, emit="ids")


def test_broadcast_gate_measures_bytes_not_rows(spark):
    """_broadcast_if_bounded gates on MEASURED bytes (count x sampled id
    width), not a row-count proxy: 40k short numeric ids broadcast, but
    the SAME row count of 900-char string ids (~36 MB estimated hash
    relation) must NOT — F.broadcast bypasses autoBroadcastJoinThreshold,
    so an unbounded forced broadcast is an executor OOM at scale."""
    small = spark.range(40_000).select(F.col("id").alias("doc_id"))
    small = small.localCheckpoint(eager=True)
    gated = dedup._broadcast_if_bounded(small, "doc_id")
    assert "ResolvedHint" in gated._jdf.queryExecution().analyzed().toString()

    wide = spark.range(40_000).select(
        F.concat(F.lit("u" * 900), F.col("id").cast("string")).alias("doc_id")
    )
    wide = wide.localCheckpoint(eager=True)
    ungated = dedup._broadcast_if_bounded(wide, "doc_id")
    assert "ResolvedHint" not in ungated._jdf.queryExecution().analyzed().toString()


def test_minhash_dedup_max_bucket_none_stars_hot_buckets(spark, documents):
    """max_bucket=None (the production crawl config: drop nothing, star
    everything) plumbed through minhash_dedup: a 12-clone cluster makes
    every band bucket hot, so a drop cap of 5 ADMITS all 12 duplicates
    (the documented recall trade), while max_bucket=None + star_above=5
    keeps the bucket, stars it, and dedups the cluster to one survivor."""
    base = documents.limit(1)
    cluster = base.withColumn("doc_id", F.lit(-1).cast("long"))
    for i in range(2, 13):
        cluster = cluster.unionByName(
            base.withColumn("doc_id", F.lit(-i).cast("long"))
        )
    corpus = documents.unionByName(cluster)
    dropped = dedup.minhash_dedup(corpus, threshold=0.9, max_bucket=5)
    assert dropped.filter(F.col("doc_id") < 0).count() == 12  # cap admitted
    starred = dedup.minhash_dedup(
        corpus, threshold=0.9, max_bucket=None, star_above=5
    )
    assert starred.filter(F.col("doc_id") < 0).count() == 1  # anchor survives


def test_content_digest_is_the_single_exact_dedup_recipe(spark):
    """content_digest is THE stored-index digest: lowercase, whitespace
    collapse, md5 over utf-8 bytes — pinned against hashlib so neither
    the index writer nor the probe can drift from the recorded recipe
    (CONTENT_DIGEST_VERSION guards the at-rest side)."""
    import hashlib

    df = spark.createDataFrame([("  Hello\t  WORLD \n",)], "text string")
    got = df.select(dedup.content_digest("text").alias("d")).first()["d"]
    assert got == hashlib.md5(" hello world ".encode()).hexdigest()
    assert dedup.CONTENT_DIGEST_VERSION == 1
