"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, fingerprinting.

All pure JVM expressions (replace/length arithmetic, regexp, md5) — no
Python in the hot path, and every heuristic is reproducible in ANSI SQL for
the oracle. At 100 TB these are single-pass map-only operators: no shuffle,
fully codegen'd, scale linearly with executors.

Known limit: composing language_id with token_count/quality_score in ONE
stage can exceed janino's generated-method limits (the filter substitutes
the whole language CASE); Spark logs a CodeGenerator ERROR and falls back
to interpreted execution with correct results. If that projection is ever
the measured hot spot, materialize the language verdict (write/persist)
between the stages so each compiles separately.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from starlight_for_kafka_spark.functions.hashing import (
    md5_hash64,
    normalize,
    word_shingles,
    words,
)
from starlight_for_kafka_spark.operators.dedup import content_digest
from starlight_for_kafka_spark.plans.kernels import kernel
from starlight_for_kafka_spark.plans.local import local_frame

# tiny per-language stopword markers for the n-gram/stopword heuristic
_LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "es": [" el ", " la ", " de "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " la ", " et "],
}


def _count_occurrences(text: Column, needle: str) -> Column:
    """Occurrences of a literal substring via length arithmetic (portable,
    no regex dialect differences)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("int")


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: pick the language whose stopword markers occur
    most often (ties → alphabetically first; all-zero → 'und'). A production
    pipeline swaps in fastText/CLD3 via a Pandas UDF; the operator shape
    (map-only, schema) is identical.

    Implemented as ONE ``greatest`` over (score, priority) structs so every
    per-language score expression appears exactly once in the tree. The
    naive nested-CASE formulation replicates each score ~5x; composed with
    quality_score in one codegen stage that overflowed janino's method
    limit and dropped the stage to interpreted execution (see module
    docstring)."""
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    langs = sorted(_LANG_MARKERS)  # tie-break: earlier lang wins
    scores = [
        sum([_count_occurrences(padded, m) for m in _LANG_MARKERS[lang]], F.lit(0))
        for lang in langs
    ]
    # struct comparison is field-ordered: max score first, then highest
    # priority = lowest alphabetical index, matching the old first-wins CASE
    best = F.greatest(
        *[
            F.struct(s.alias("s"), F.lit(len(langs) - 1 - i).alias("p"))
            for i, s in enumerate(scores)
        ]
    )
    pick = F.element_at(F.array(*[F.lit(l) for l in reversed(langs)]), best["p"] + 1)
    return df.withColumn(
        "pred_lang", F.when(best["s"] > 0, pick).otherwise(F.lit("und"))
    )


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate (chars/4 is the
    common LLM rule of thumb; exact BPE needs a tokenizer UDF — stubbed as
    the estimate to stay JVM-side)."""
    toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    return df.withColumn("n_tokens", toks).withColumn(
        "n_subwords_est", F.ceil(F.length(text_col) / 4).cast("long")
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality heuristics (Gopher/C4-style):
       * mean word length
       * stopword ratio (en markers)
       * punctuation density
       * uppercase ratio
       * a 0-1 quality score combining them.
    All rounded to 6 dp for deterministic cross-engine comparison."""
    text = F.col(text_col)
    n_chars = F.length(text)
    words = F.split(F.trim(text), r"\s+")
    n_words = F.size(words)
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    n_stop = sum(
        [_count_occurrences(padded, m) for m in [" the ", " and ", " of ", " to ", " a "]],
        F.lit(0),
    )
    n_punct = sum(
        [_count_occurrences(text, p) for p in [".", ",", "!", "?", ";", ":"]], F.lit(0)
    )
    n_upper = F.length(F.regexp_replace(text, r"[^A-Z]", ""))
    # raw IEEE divisions (no rounding): int/int division is bit-identical
    # across engines, so the oracle comparison is exact.
    # mean word length uses the single-space identity over whitespace-
    # NORMALIZED length (the same normalization gopher_quality_flags does)
    # — on raw text a run of spaces/newlines counts every separator char
    # as word length and silently inflates the metric.
    n_chars_norm = F.length(F.trim(F.regexp_replace(text, r"\s+", " ")))
    mean_word_len = (n_chars_norm - n_words + 1) / n_words
    stop_ratio = n_stop / n_words
    # empty text: 0/0 would be NULL and a null quality silently vanishes
    # from any filter("keep") downstream — define the ratios as 0 instead
    punct_density = F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0)
    upper_ratio = F.when(n_chars > 0, n_upper / n_chars).otherwise(0.0)
    score = (
        F.least(F.lit(1.0), stop_ratio * 2)
        * F.when((mean_word_len >= 3) & (mean_word_len <= 10), 1.0).otherwise(0.5)
        * (1 - F.least(F.lit(1.0), upper_ratio * 5))
    )
    return (
        df.withColumn("mean_word_len", mean_word_len)
        .withColumn("stop_ratio", stop_ratio)
        .withColumn("punct_density", punct_density)
        .withColumn("upper_ratio", upper_ratio)
        .withColumn("quality", score)
    )


def corpus_card(
    df: DataFrame,
    group_cols: list[str] | tuple[str, ...] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """One-pass dataset DATASHEET per corpus slice — the per-snapshot
    governance table (Gebru et al. '21, "Datasheets for Datasets") a
    100 TB pipeline publishes before training reads it: volume (docs,
    whitespace tokens, chars), redundancy (exact-duplicate rate from
    normalized-content digests — the cheap upper bound you check before
    paying for MinHash), length distribution (exact median/p90 — the
    audit mode; swap approx_percentile's mergeable t-digest at scale,
    same query shape), and quality mass (mean composite score + the
    count below a 0.2 floor, i.e. what a Gopher-style cut would drop).

    ONE corpus scan feeding ONE partial-combining aggregation
    (countDistinct expands to the standard two-phase plan); every other
    aggregate is map-side combined, so the shuffle carries one row of
    partial sums per (slice, digest)-ish key — never documents.
    """
    scored = quality_score(token_count(df, text_col), text_col)
    digest = content_digest(text_col)
    n_chars = F.length(text_col)
    out = (
        scored.withColumn("__digest", digest)
        .groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("__digest").alias("n_unique"),
            F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
            F.sum(n_chars.cast("long")).alias("total_chars"),
            F.expr(f"percentile(length({text_col}), 0.5)").alias(
                "median_chars"
            ),
            F.expr(f"percentile(length({text_col}), 0.9)").alias("p90_chars"),
            F.round(F.avg("quality"), 6).alias("mean_quality"),
            F.sum(
                F.when(F.col("quality") < 0.2, 1).otherwise(0).cast("long")
            ).alias("n_low_quality"),
        )
    )
    return out.withColumn(
        "dup_rate",
        F.round(
            F.lit(1.0) - F.col("n_unique") / F.col("n_docs").cast("double"), 9
        ),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the normalized text (whole-doc), plus a
    rolling winnowed prefix fingerprint (first 64 normalized chars) that is
    stable under suffix edits — the cheap analog of winnowing."""
    norm = normalize(F.col(text_col))
    return df.withColumn("fp_full", content_digest(text_col)).withColumn(
        "fp_prefix64", F.md5(F.substring(norm, 1, 64).cast("binary"))
    )


def repetition_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_top_bigram_frac: float = 0.18,
    min_ttr: float = 0.2,
) -> DataFrame:
    """Gopher-style intra-document repetition metrics:

      * ``ttr``             — type-token ratio (distinct words / words);
                              low values mean the doc repeats its vocabulary
      * ``top_bigram_frac`` — fraction of word bigrams taken by the single
                              most frequent bigram (Rae et al. 2021 drop
                              docs where the top 2-gram exceeds ~18%)

    ttr is map-only (array_distinct on the row's own word array). The top
    bigram needs a per-doc mode, which no HOF computes without per-row
    sorting, so it goes explode → two-level groupBy — both aggregations
    partial-combine map-side and shuffle only (doc, bigram) pairs, never
    the text. At 100 TB that shuffle carries ~2 longs + one short string
    per bigram occurrence and partitions by doc_id with no skew (every doc
    contributes ~n_words rows).
    """
    ws = words(F.col(text_col))
    n_words = F.size(ws)
    base = df.withColumn("n_words", n_words).withColumn(
        "ttr", F.size(F.array_distinct(ws)) / n_words
    )
    bigrams = base.select(
        id_col, F.explode(word_shingles(ws, 2)).alias("bigram")
    )
    per_bigram = bigrams.groupBy(id_col, "bigram").agg(F.count("*").alias("c"))
    top = per_bigram.groupBy(id_col).agg(F.max("c").alias("top_bigram_cnt"))
    return (
        base.join(top, id_col, "left")
        .withColumn(
            "top_bigram_frac",
            F.coalesce(F.col("top_bigram_cnt") / (F.col("n_words") - 1), F.lit(0.0)),
        )
        .withColumn(
            "repetitive",
            (F.col("top_bigram_frac") > max_top_bigram_frac)
            | (F.col("ttr") < min_ttr),
        )
    )


# conservative patterns that parse identically in Java regex (Spark) and
# RE2 (DuckDB) — no backrefs, no lookaround, explicit classes only
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_LONG_DIGITS_RE = r"[0-9][0-9 ()+.-]{6,}[0-9]"


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing pass: replace emails and phone-like digit runs with
    redaction tokens, and flag which docs were touched. Patterns are
    deliberately conservative (clean corpus curation errs toward recall)
    and restricted to syntax that means the same thing in Java regex and
    RE2, so the oracle replays them verbatim.

    Map-only single pass, no shuffle; the flags let a downstream filter
    drop or audit touched docs without a second scan. Production swaps in
    a real PII model via mapInPandas — same operator shape as
    multimodal.extract_features.
    """
    text = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(text, _EMAIL_RE, "<EMAIL>"),
        _LONG_DIGITS_RE,
        "<PHONE>",
    )
    return (
        df.withColumn("had_email", text.rlike(_EMAIL_RE))
        .withColumn("had_phone", text.rlike(_LONG_DIGITS_RE))
        .withColumn("scrubbed_text", scrubbed)
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into fixed-size word chunks with overlap — the
    context-window preprocessing step before packing/tokenization. Chunk i
    covers words [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the last chunk is short rather than
    padded, and a doc shorter than one chunk yields exactly one chunk.

    Map-only: the chunk index array is generated per row (sequence +
    explode), each output row slices its own word array — no shuffle, and
    output size is input size * (1/stride) expansion, known in advance.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    words = F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
    n_words = F.size(words)
    n_chunks = F.greatest(
        F.lit(1),
        F.floor((n_words - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride)).cast(
            "int"
        ),
    )
    start = F.col("chunk_id") * stride + 1
    return (
        df.select(
            id_col,
            words.alias("__w"),
            n_words.alias("n_words"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            F.concat_ws(" ", F.slice("__w", start, chunk_tokens)).alias("chunk_text"),
            F.least(F.lit(chunk_tokens), F.col("n_words") - start + 1).alias(
                "n_chunk_tokens"
            ),
        )
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", top_k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf (idf = ln(N/df),
    raw tf, ties broken alphabetically) — keyword extraction for corpus
    exploration and topic-balance audits.

    Two shuffles: (doc, term) term-frequency agg, then a term-keyed join
    against the document-frequency table (vocabulary-sized — Zipf means it
    is orders of magnitude smaller than the corpus; broadcast it when it
    fits, shuffle-join when 100 TB vocabulary doesn't). The final per-doc
    top-k window repartitions by doc_id, no skew.
    """
    terms = df.select(
        id_col, F.explode(words(F.col(text_col))).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_docs"))
    n = df.select(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("n_docs") / F.col("df_docs")))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "term", "tf", "tfidf", "rank")
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every matching document against a bag of
    query terms (Robertson et al., TREC-3; the Lucene-default scoring
    function) — the exact keyword-ranking baseline a retrieval or
    RAG-data pipeline needs next to the vector side
    (similarity.hybrid_search fuses shortlists; this is the principled
    scorer for the keyword leg):

        score(d) = Σ_t idf(t) · tf · (k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))
        idf(t)   = ln(1 + (N − df + 0.5) / (df + 0.5))

    Emits one row per document containing at least one query term:
    (id, n_matched terms, dl, score). Rank with an orderBy+limit on top —
    TakeOrderedAndProject keeps top-k bounded at any corpus size.

    Scale shape: the corpus token stream is scanned ONCE and filtered to
    the broadcast query-term set BEFORE any shuffle, so only matching
    (doc, term) pairs — a vanishing fraction at 100 TB — reach the tf
    aggregation; document lengths are a map-only expression aggregated
    into one broadcast scalar (N, avgdl); per-term df comes off the tiny
    tf table. The per-doc score folds ≤|query| contributions in sorted
    term order — deterministic double summation, bit-identical across
    engines and retries.
    """
    qt = sorted({t.lower() for t in query_terms})
    k1p1 = k1 + 1.0
    ws = words(F.col(text_col))
    base = df.select(F.col(id_col).alias("__id"), ws.alias("__w"))
    lens = base.select("__id", F.size("__w").cast("long").alias("dl"))
    stats = lens.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        base.select("__id", F.size("__w").cast("long").alias("dl"),
                    F.explode("__w").alias("term"))
        .filter(F.col("term").isin(qt))
        .groupBy("__id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "c",
            F.col("idf") * F.col("tf") * F.lit(k1p1)
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    scored = contrib.groupBy("__id", "dl").agg(
        F.count("*").alias("n_matched"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("term", "c"))),
                lambda s: s["c"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    return scored.select(
        F.col("__id").alias(id_col), "n_matched", "dl", "score"
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style LM quality proxy: score each document by the average
    add-one-smoothed log-probability of its words under the corpus's own
    unigram model (``ppl`` = exp(-avg) is the perplexity form). Documents
    full of corpus-rare vocabulary score high-perplexity and are the usual
    drop candidates; a real CCNet pipeline swaps the self-trained unigram
    model for a clean-reference KenLM via the same join shape.

    Scale shape: one (doc, term) tf aggregation, a term-keyed model
    aggregation over it, then a vocabulary join back — the model table is
    Zipf-small, broadcast it when it fits. The totals row is a broadcast
    scalar. No pass ever shuffles raw text.
    """
    terms = df.select(id_col, F.explode(words(F.col(text_col))).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    model = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    totals = model.agg(
        F.sum("cnt").alias("tot_tokens"), F.count("*").alias("vocab")
    )
    scored = (
        tf.join(model, "term")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "lp",
            F.col("tf")
            * F.log((F.col("cnt") + 1) / (F.col("tot_tokens") + F.col("vocab"))),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        (F.sum("lp") / F.sum("tf")).alias("avg_logprob"),
    )
    return per_doc.withColumn("ppl", F.exp(-F.col("avg_logprob")))


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_words: int = 8,
) -> DataFrame:
    """Corpus-level duplicate-line removal — the C4/CCNet cleanup step that
    deletes every repeated line (boilerplate, navbars, licence headers)
    from all but its canonical first occurrence. This corpus has no
    newlines, so a "line" is a fixed tile of ``line_words`` consecutive
    words (the same tiling convention as :func:`chunk_documents`); swapping
    the segmentation expression for ``split(text, '\\n')`` recovers literal
    C4 behavior.

    Scale shape: ONE pass over the tiled corpus. The line-hash-keyed
    aggregation reduces each hash to its min (doc_id, line_no) keeper —
    an agg with map-side partial combine, deliberately NOT a row_number
    window per hash: a boilerplate line repeated 10^9 times at 100 TB
    would serialize one window partition, while min() folds it in the
    mappers. The keeper struct CARRIES ITS OWN LINE TEXT (identical for
    every row sharing the hash), so no join-back of the corpus-sized tile
    stream is ever needed: reassembly groups the Zipf-small keeper table
    by doc, and per-doc line counts come map-only from the word count —
    the full line text crosses the wire exactly once, in the keeper agg's
    combined partials.

    Emits per doc: n_lines, n_kept, cleaned text + md5 of it.
    """
    from starlight_for_kafka_spark.plans.spread import spread_if_narrow

    ws = words(F.col(text_col))
    n_lines = F.greatest(
        F.lit(1), F.ceil(F.size(ws) / F.lit(line_words)).cast("int")
    )
    # the tile explode + per-tile md5 is the heavy pass; spread it across
    # cores when the corpus arrives as 1-2 input splits (single-row-group
    # parquet — see plans/spread.py; a wide 100 TB scan skips the guard)
    df = spread_if_narrow(df, id_col)
    # per-doc tile count needs no explode: it's a map-only expression
    doc_lines = df.select(
        F.col(id_col).alias("__id"), n_lines.cast("long").alias("n_lines")
    )
    tiles = df.select(
        F.col(id_col).alias("__id"),
        ws.alias("__w"),
        F.explode(F.sequence(F.lit(0), n_lines - 1)).alias("line_no"),
    ).select(
        "__id",
        "line_no",
        F.concat_ws(
            " ", F.slice("__w", F.col("line_no") * line_words + 1, line_words)
        ).alias("line"),
    )
    tiles = tiles.withColumn("lh", md5_hash64(F.col("line")))
    # (__id, line_no) is unique per tile, so the trailing line field never
    # decides the min — it rides along so the keeper row IS the kept line
    keepers = tiles.groupBy("lh").agg(
        F.min(F.struct("__id", "line_no", "line")).alias("__keep")
    )
    kept_per_doc = keepers.select(
        F.col("__keep.__id").alias("__id"),
        F.col("__keep.line_no").alias("line_no"),
        F.col("__keep.line").alias("line"),
    ).groupBy("__id").agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ),
        ).alias("cleaned_text"),
    )
    out = doc_lines.join(kept_per_doc, "__id", "left").select(
        "__id",
        "n_lines",
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
    )
    return out.select(
        F.col("__id").alias(id_col),
        "n_lines",
        "n_kept",
        "cleaned_text",
        F.md5(F.col("cleaned_text").cast("binary")).alias("cleaned_md5"),
    )


def dedup_lines_in_doc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_words: int = 8,
) -> DataFrame:
    """WITHIN-document repeated-line removal — each doc keeps the FIRST
    occurrence of every distinct line it contains (templated pages repeat
    their own boilerplate internally: footers after every section,
    duplicated paragraphs from CMS glitches). The per-page half of the
    C4 line rules; :func:`line_dedup` is the cross-corpus half.

    Scale shape: PURE MAP — the tile split, first-occurrence dedup
    (``array_distinct`` keeps first-occurrence order), reassembly, and
    digest are all row-local array expressions inside one codegen'd
    projection. Zero shuffle at any corpus size; at 100 TB this is the
    cheapest dedup pass in the repo and should run before anything that
    shuffles text. Same tiling convention as line_dedup ("line" = a tile
    of ``line_words`` normalized words; swap in split('\\n') for literal
    C4 lines).

    Emits per doc: n_lines, n_kept, cleaned_text + md5 of it (the same
    shape as :func:`line_dedup`).
    """
    ws = words(F.col(text_col))
    n_lines = F.greatest(
        F.lit(1), F.ceil(F.size(ws) / F.lit(line_words)).cast("long")
    )
    tiles = F.transform(
        F.sequence(F.lit(0), (n_lines - 1).cast("int")),
        lambda i: F.concat_ws(
            " ", F.slice(ws, i * line_words + 1, line_words)
        ),
    )
    kept = F.array_distinct(tiles)
    cleaned = F.array_join(kept, " ")
    return df.select(
        F.col(id_col),
        n_lines.alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        cleaned.alias("cleaned_text"),
        F.md5(cleaned.cast("binary")).alias("cleaned_md5"),
    )


def ccnet_bucket(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    accuracy: int = 1_000_000,
) -> DataFrame:
    """CCNet head/middle/tail bucketing: score every document with the
    unigram-LM quality proxy (:func:`unigram_logprob`), then split EACH
    LANGUAGE into terciles by that score — head = the best-scoring third
    (highest avg log-prob = lowest perplexity), tail = the worst. CCNet
    trains a KenLM per language on Wikipedia and buckets Common Crawl by
    perplexity exactly this way; the model is swappable, the bucketing
    dataflow is this operator.

    Scale shape: the per-language tercile thresholds come from
    ``approx_percentile`` (t-digest-style sketch, one pass, mergeable) —
    NOT a per-language sort or ntile window, which would serialize the
    dominant language's whole corpus through one task. The threshold table
    is n_languages rows, broadcast back, and the bucket label is a map-side
    comparison. With group sizes below ``accuracy`` the sketch is exact
    (it keeps raw samples), which is what makes the oracle comparison
    exact at test scale.
    """
    lp = unigram_logprob(df, text_col, id_col).withColumn(
        # bucket on the 6dp-rounded score: ln() can differ in the last ulp
        # across engines/libms, and a tercile boundary must not flip on it
        "avg_logprob",
        F.round(F.col("avg_logprob"), 6),
    )
    scored = df.select(id_col, F.col(lang_col).alias("lang")).join(lp, id_col)
    th = scored.groupBy("lang").agg(
        F.expr(
            f"approx_percentile(avg_logprob, array(1.0D/3.0D, 2.0D/3.0D), {accuracy})"
        ).alias("t")
    )
    out = scored.join(F.broadcast(th), "lang")
    bucket = (
        F.when(F.col("avg_logprob") > F.col("t")[1], "head")
        .when(F.col("avg_logprob") > F.col("t")[0], "middle")
        .otherwise("tail")
    )
    return out.select(
        id_col, "lang", "avg_logprob", bucket.alias("bucket")
    )


def dsir_weights(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): model the target domain
    and the raw corpus as bag-of-hashed-bigram distributions, and score
    each raw document with its log importance weight
    ``sum_f count_f(doc) * ln(p_target(f) / p_raw(f))`` — documents whose
    hashed-n-gram profile looks like the target domain get high weight,
    and a downstream sampler (``stratified_sample`` / ``epoch_resample``)
    resamples by it.

    ``target_pred`` is a boolean Column over ``df`` selecting the target
    slice (e.g. ``col("source") == "wiki"``). Features are word bigrams
    hashed into ``n_buckets`` buckets (md5-based, engine-portable);
    distributions are add-one smoothed so unseen buckets stay finite.

    Scale shape: the corpus-sized bigram explode runs ONCE — it collapses
    straight into the per-(doc, bucket) partial-combining aggregation,
    which is then materialized (localCheckpoint: ≤ docs × n_buckets rows
    of three longs + a flag) and every downstream consumer — both
    distributions, the totals, and the per-doc fold — derives from that
    tiny table instead of re-running the explode through lineage (four
    consumers would otherwise mean four corpus passes). Distributions are
    n_buckets rows — broadcast; the per-doc weight is a map-side join plus
    a sorted in-row fold (deterministic summation order, so the result is
    bit-identical across engines and across retries — a plain double
    sum() over a shuffle is not).
    """
    from starlight_for_kafka_spark.plans.spread import spread_if_narrow

    # the bigram explode + per-gram md5 is the corpus-heavy pass; spread
    # it across cores when the corpus arrives as 1-2 input splits
    # (single-row-group parquet — see plans/spread.py)
    grams = spread_if_narrow(df, id_col).select(
        F.col(id_col).alias("__id"),
        target_pred.alias("__is_target"),
        F.explode(word_shingles(words(F.col(text_col)), 2)).alias("gram"),
    ).withColumn("b", md5_hash64(F.col("gram")) % n_buckets)
    per_doc_bucket = grams.groupBy("__id", "__is_target", "b").agg(
        F.count("*").alias("tf")
    )
    per_doc_bucket = per_doc_bucket.localCheckpoint(eager=True)
    raw = per_doc_bucket.groupBy("b").agg(F.sum("tf").alias("raw_cnt"))
    tgt = (
        per_doc_bucket.filter("__is_target")
        .groupBy("b")
        .agg(F.sum("tf").alias("tgt_cnt"))
    )
    totals = per_doc_bucket.agg(
        F.sum("tf").alias("raw_tot"),
        F.sum(F.when(F.col("__is_target"), F.col("tf")).otherwise(0)).alias(
            "tgt_tot"
        ),
    )
    dist = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("tgt_cnt"), F.lit(0)) + 1)
                    / (F.col("tgt_tot") + n_buckets)
                )
                - F.log((F.col("raw_cnt") + 1) / (F.col("raw_tot") + n_buckets))
            ).alias("log_ratio"),
        )
    )
    contrib = per_doc_bucket.join(F.broadcast(dist), "b").select(
        "__id", "tf", (F.col("tf") * F.col("log_ratio")).alias("c"), "b"
    )
    return contrib.groupBy("__id").agg(
        F.sum("tf").alias("n_bigrams"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("b", "c"))), lambda s: s["c"]
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("log_weight"),
    ).select(F.col("__id").alias(id_col), "n_bigrams", "log_weight")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD '03): hash every
    char k-gram, slide a w-window over the hash sequence, keep each
    window's minimum — the selected set is guaranteed to share hashes with
    any copy of a passage at least w+k-1 chars long, which is the
    plagiarism/near-dup detection guarantee the whole-doc md5 in
    :func:`fingerprint` can't give.

    Map-only: the per-row HOF pipeline (hash → windowed min → distinct)
    never leaves the row, so the pass scales with the scan. HOF lambdas are
    interpreted, not codegen'd — cost is O(w) per window; with k=5 char
    grams a 100 TB corpus pays ~4 comparisons per char, the classic CPU/
    recall trade dial (raise w for fewer fingerprints, cheaper downstream
    joins, weaker guarantee).

    Returns ``fps`` (sorted distinct fingerprint hashes) and ``n_fps``.
    Docs with fewer than w k-grams contribute one global-min fingerprint;
    docs shorter than k chars yield an empty set.

    The hash array is materialized in its own projection (``_hs``) before
    the windowed-min pass. Inlining it would replicate the whole
    shingle+md5 subtree into every window's ``slice`` call — O(L^2) md5
    evaluations per row instead of O(L) (CollapseProject keeps the two
    projections apart because the non-cheap ``_hs`` is referenced more
    than once).
    """
    from starlight_for_kafka_spark.functions.hashing import md5_hash64, shingles

    tmp = df.select(
        "*", F.transform(shingles(F.col(text_col), k), md5_hash64).alias("_hs")
    )
    hs = F.col("_hs")
    n = F.size(hs)
    wins = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.lit(1), n - F.lit(w - 1))),
            lambda i: F.array_min(F.slice(hs, i, w)),
        ),
    ).otherwise(F.array().cast("array<long>"))
    out = tmp.select(
        "*", F.array_sort(F.array_distinct(wins)).alias("fps")
    ).drop("_hs")
    return out.withColumn("n_fps", F.size("fps"))


# GPT-2-style pretokenizer, restricted to constructs RE2 (DuckDB) and the
# Java regex engine (Spark) treat identically: contractions, optional-space
# letter runs, optional-space digit runs, optional-space punctuation runs,
# whitespace runs. (The original's \s+(?!\S) lookahead is dropped — RE2
# has no lookahead.)
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9']+|\s+"


def bpe_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish token count: number of GPT-2-pretokenizer matches — the
    token-budget estimator a training pipeline uses before the real
    tokenizer runs (each pretoken maps to ≥1 BPE tokens, and for common
    English words exactly 1, so this is a tight lower bound). Map-only,
    JVM-side regexp_count — no UDF."""
    return df.withColumn(
        "n_bpe_tokens", F.regexp_count(F.col(text_col), F.lit(BPE_PRETOKEN_RE))
    )


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stop_words: tuple = ("the", "be", "to", "of", "and", "that", "have", "with"),
) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021, table A1 —
    the document-level heuristics most open-corpus pipelines inherited):
    word-count bounds [50, 100k], mean word length in [3, 10],
    symbol-to-word ratio ('#' and '…'/'...') ≤ 0.1, ≥ 80% of words contain
    an alphabetic character, and at least 2 distinct required stop words
    present ('the and that have with' family). Emits one boolean per rule
    plus the composite ``keep`` — surfacing WHICH rule fired is the point
    (corpus-debugging needs the breakdown, not just the verdict).

    Map-only: every statistic is column arithmetic on one scan. Mean word
    length uses the single-spaced normalization identity
    sum(len(word)) = len(norm) − (n_words − 1) — no per-word fold needed;
    the alphabetic fraction is one array filter. Filtering 100 TB costs
    exactly one pass, fully codegen'd.
    """
    out = df.select(
        id_col,
        F.trim(normalize(F.col(text_col))).alias("__t"),
    ).select(
        id_col,
        F.split("__t", " ").alias("__w"),
        F.length("__t").alias("__len"),
        F.concat(F.lit(" "), F.col("__t"), F.lit(" ")).alias("__pad"),
    )
    n_words = F.size("__w")
    mean_wl = (F.col("__len") - (n_words - F.lit(1))).cast("double") / n_words
    # Unicode letter class, not [a-z]: Gopher's rule is "contains an
    # alphabetic character" — an ASCII-only class fails low_alpha on every
    # document of a non-Latin-script corpus (zh/ja/ru ...).
    alpha_frac = (
        F.size(F.filter("__w", lambda w: w.rlike(r"\p{L}"))).cast("double") / n_words
    )
    n_symbols = (
        (F.length("__pad") - F.length(F.regexp_replace("__pad", r"#", "")))
        + (F.length("__pad") - F.length(F.regexp_replace("__pad", r"\.\.\.", ""))) / F.lit(3)
        # the Unicode ellipsis U+2026 is the form the A1 rule names; both
        # spellings count (lengths are in characters, so '…' costs 1)
        + (F.length("__pad") - F.length(F.regexp_replace("__pad", "…", "")))
    )
    # stop_words is the Gopher set by default; a corpus whose register
    # lacks English function words (code, tables, synthetic text) should
    # pass its own small function-word list or the rule fires universally
    # and the composite verdict degenerates
    stop_present = sum(
        (F.contains("__pad", F.lit(f" {w} ")).cast("int") for w in stop_words),
        start=F.lit(0),
    )
    flags = out.select(
        id_col,
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        (n_words < 50).alias("too_short"),
        (n_words > 100_000).alias("too_long"),
        ((mean_wl < 3) | (mean_wl > 10)).alias("bad_mean_word_len"),
        ((n_symbols / n_words) > 0.1).alias("high_symbol_ratio"),
        (alpha_frac < 0.8).alias("low_alpha"),
        (stop_present < 2).alias("few_stopwords"),
    )
    keep = ~(
        F.col("too_short") | F.col("too_long") | F.col("bad_mean_word_len")
        | F.col("high_symbol_ratio") | F.col("low_alpha") | F.col("few_stopwords")
    )
    return flags.withColumn("keep", keep)


def bpe_merge_pairs(
    df: DataFrame, text_col: str = "text", top_k: int = 20
) -> DataFrame:
    """The inner statistic of BPE tokenizer TRAINING (Sennrich et al.
    2016, "Neural Machine Translation of Rare Words with Subword Units"):
    count every adjacent character pair weighted by word frequency and
    rank the merge candidates — the pair the algorithm would fuse next is
    row 1, and re-running after each merge replays exactly this
    aggregation. Pairs are formed WITHIN words only (the standard
    word-boundary constraint).

    Scale shape: the corpus collapses to its word-frequency table first
    (one token-keyed agg with map-side combine — Zipf: vastly fewer
    distinct words than tokens), so the pair explode runs over the small
    distinct-word table, never the corpus; per-word pair extraction is
    substr over the word column (words are short — no quadratic hazard).
    One tiny pair-keyed agg and a bounded top-k finish it.
    """
    word_freq = (
        df.select(F.explode(words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wf"))
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.length("word") - 1),
        lambda i: F.col("word").substr(i, F.lit(2)),
    )
    pair_counts = (
        word_freq.filter(F.length("word") >= 2)
        .select("wf", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("wf").alias("n"))
    )
    return pair_counts.orderBy(F.desc("n"), F.asc("pair")).limit(top_k)


def quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    weights: dict[str, float] | None = None,
    bias: float = -1.0,
    threshold: float = 0.5,
) -> DataFrame:
    """Model-based quality gate (the FineWeb-Edu / fastText-classifier
    pipeline stage): a logistic scorer over the engine's own quality
    features — sigmoid(bias + Σ w_f · feature_f) — with a keep/drop
    verdict at ``threshold``. The weights stand in for a trained
    classifier head; swapping in learned coefficients (or an embedding dot
    product) changes only the literal vector, not the plan.

    Map-only: features come from :func:`quality_score` (length arithmetic,
    no UDF), the linear combination and sigmoid are one projection, fully
    codegen'd. Classifying 100 TB costs exactly one scan. The score is
    rounded to 6 dp (exp() may differ in the last ulp across engines);
    the verdict compares the ROUNDED score so it can never disagree with
    the reported value.
    """
    weights = weights or {
        "stop_ratio": 4.0,
        "mean_word_len": 0.2,
        "punct_density": 2.0,
        "upper_ratio": -3.0,
    }
    feats = quality_score(df, text_col)
    z = sum(
        (F.col(f) * F.lit(w) for f, w in sorted(weights.items())),
        F.lit(float(bias)),
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return feats.withColumn("clf_score", score).withColumn(
        "keep", F.col("clf_score") >= threshold
    )


def corpus_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    smoothing: float = 0.5,
) -> DataFrame:
    """Distribution drift between two corpus slices as symmetric KL
    (Jeffreys) divergence over their unigram distributions — the
    monitoring primitive behind "did this month's crawl shift" and
    "does the dedup'd corpus still look like the raw one". Emits one row:
    vocab sizes, total tokens, and D_KL(A‖B) + D_KL(B‖A) + their sum,
    computed over the UNION vocabulary with add-``smoothing`` estimates
    so unseen terms stay finite.

    Scale shape: one term-keyed aggregation per side (vocabulary-sized,
    Zipf-small), a full-outer join of the two model tables, and a sorted
    in-row fold of the per-term contributions (deterministic summation —
    a shuffled double sum is not reproducible). The raw corpora are
    scanned once each; nothing ever shuffles text.
    """
    def model(d: DataFrame, side: str) -> DataFrame:
        terms = d.select(F.explode(words(F.col(text_col))).alias("term"))
        return terms.groupBy("term").agg(F.count("*").alias(f"cnt_{side}"))

    a, b = model(df_a, "a"), model(df_b, "b")
    joined = a.join(b, "term", "full_outer").select(
        "term",
        F.coalesce("cnt_a", F.lit(0)).alias("ca"),
        F.coalesce("cnt_b", F.lit(0)).alias("cb"),
    )
    totals = joined.agg(
        F.sum("ca").alias("tot_a"),
        F.sum("cb").alias("tot_b"),
        F.count("*").alias("vocab"),
    )
    s = float(smoothing)
    withp = joined.crossJoin(F.broadcast(totals)).select(
        "term", "tot_a", "tot_b", "vocab",
        ((F.col("ca") + s) / (F.col("tot_a") + s * F.col("vocab"))).alias("pa"),
        ((F.col("cb") + s) / (F.col("tot_b") + s * F.col("vocab"))).alias("pb"),
    )
    contrib = withp.select(
        "tot_a", "tot_b", "vocab", "term",
        (F.col("pa") * F.log(F.col("pa") / F.col("pb"))).alias("kab"),
        (F.col("pb") * F.log(F.col("pb") / F.col("pa"))).alias("kba"),
    )
    folded = contrib.groupBy("tot_a", "tot_b", "vocab").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("term", "kab"))),
                lambda x: x["kab"],
            ),
            F.lit(0.0), lambda acc, v: acc + v,
        ).alias("kl_ab"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("term", "kba"))),
                lambda x: x["kba"],
            ),
            F.lit(0.0), lambda acc, v: acc + v,
        ).alias("kl_ba"),
    )
    return folded.select(
        "vocab",
        F.col("tot_a").alias("tokens_a"),
        F.col("tot_b").alias("tokens_b"),
        F.round("kl_ab", 6).alias("kl_ab"),
        F.round("kl_ba", 6).alias("kl_ba"),
        F.round(F.col("kl_ab") + F.col("kl_ba"), 6).alias("jeffreys"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
) -> DataFrame:
    """Interpolated bigram-LM quality proxy — one order up from
    :func:`unigram_logprob`, the same shape CCNet's 5-gram KenLM scorer
    takes: each word is scored ``ln(λ·P(w|prev) + (1−λ)·P(w))`` with
    add-one-smoothed ML estimates from the corpus itself, averaged per
    document (the first word scores under the unigram term alone). Docs
    whose word SEQUENCES are unusual — not just their vocabulary — rank
    high-perplexity, which is what separates shuffled-word junk from
    fluent text where a unigram model cannot.

    Scale shape: one (prev, w) bigram aggregation and one unigram
    aggregation (both Zipf-small), the bigram table joined back on its
    composite key, the context-count table on prev — all vocabulary-sized
    joins against (doc, gram) pairs; raw text never shuffles. The per-doc
    average folds in sorted order (deterministic doubles), emitted at
    6 dp.
    """
    ws = words(F.col(text_col))
    # (w, prev) pairs formed INSIDE the row's own word array (w[i-1] —
    # the same trick the oracle uses): map-only, no self-join of the
    # exploded token table, which would shuffle every token twice before
    # the model joins even start. arrays_zip of (positions, words,
    # shifted-words), NOT transform(sequence, i -> element_at(words, i)):
    # codegen re-evaluates the split once per ELEMENT inside a lambda
    # body (see functions/hashing.py word_shingles), making tokenization
    # quadratic; the zip evaluates it a constant number of times per row.
    pairs = F.arrays_zip(
        F.sequence(F.lit(0), F.size(ws) - 1).alias("pos"),
        ws.alias("w"),
        F.concat(
            F.array(F.lit(None).cast("string")),
            F.slice(ws, 1, F.size(ws) - 1),
        ).alias("prev"),
    )
    seq = df.select(
        F.col(id_col).alias("__id"), F.explode(pairs).alias("t")
    ).select("__id", "t.pos", "t.w", "t.prev")

    uni = seq.groupBy("w").agg(F.count("*").alias("uc"))
    uni_tot = uni.agg(F.sum("uc").alias("tot"), F.count("*").alias("vocab"))
    bi = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", "w")
        .agg(F.count("*").alias("bc"))
    )
    ctx = bi.groupBy("prev").agg(F.sum("bc").alias("cc"))

    scored = (
        seq.join(uni, "w")
        .join(bi, ["prev", "w"], "left")
        .join(ctx, "prev", "left")
        .crossJoin(F.broadcast(uni_tot))
    )
    p_uni = (F.col("uc") + 1) / (F.col("tot") + F.col("vocab"))
    p_bi = (F.coalesce(F.col("bc"), F.lit(0)) + 1) / (
        F.col("cc") + F.col("vocab")
    )
    lp = F.when(
        F.col("prev").isNull(), F.log(p_uni)
    ).otherwise(F.log(F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni))
    per_doc = scored.select("__id", "pos", lp.alias("lp")).groupBy("__id").agg(
        F.count("*").alias("n_tokens"),
        (
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "lp"))),
                    lambda s: s["lp"],
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / F.count("*")
        ).alias("avg_logprob"),
    )
    return per_doc.select(
        F.col("__id").alias(id_col),
        "n_tokens",
        F.round("avg_logprob", 6).alias("avg_logprob"),
        F.round(F.exp(-F.col("avg_logprob")), 6).alias("ppl"),
    )


def filter_funnel(
    df: DataFrame,
    filters: list[tuple[str, Column]],
    weight_col: str | None = None,
) -> DataFrame:
    """Quality-pipeline attrition report: apply the named boolean
    ``filters`` AS A SEQUENTIAL FUNNEL and emit one row per stage with

      stage          1-based position in the chain
      name           the filter's name
      rows_in        docs entering the stage (survivors of stages 1..i-1)
      removed        docs the stage rejects among rows_in
      rows_out       rows_in - removed (what the next stage sees)
      removed_solely docs that fail ONLY this filter across the whole
                     chain — the stage's unique contribution; a filter
                     with removed >> 0 but removed_solely ~ 0 is
                     redundant with the rest of the chain

    With ``weight_col`` (tokens, bytes) three more columns report the
    MASS the funnel moves — weight_in / weight_removed / weight_out per
    stage — because a gate that removes 1% of docs can still remove 30%
    of tokens (long-doc gates do exactly that), and token mass is what
    the training run actually consumes.

    This is the governance pass you run BEFORE committing a 100 TB
    filtering job: which rule removes what, and which rules are dead
    weight. One corpus scan total — every flag is a JVM boolean column,
    all 6k counters fold in a single partial-combining aggregation (a
    map-side-combined global agg, no shuffle of data rows), and the
    k-row report is reshaped in-plan from the single aggregate row
    (inline explode, no driver collect). NULL predicate results count
    as removals (a filter that cannot evaluate a doc rejects it),
    matching SQL WHERE semantics.
    """
    if not filters:
        raise ValueError("filter_funnel needs at least one (name, predicate)")
    flags = [
        F.coalesce(pred, F.lit(False)).cast("int").alias(f"__f{i}")
        for i, (_, pred) in enumerate(filters)
    ]
    cols = list(flags)
    if weight_col is not None:
        cols.append(F.col(weight_col).alias("__w"))
    flagged = df.select(*cols)
    k = len(filters)
    aggs = []
    for i in range(k):
        # survivors of stages 1..i-1 (product of flags = AND)
        prefix = F.lit(1)
        for j in range(i):
            prefix = prefix * F.col(f"__f{j}")
        aggs.append(F.sum(prefix).alias(f"__in{i}"))
        aggs.append(F.sum(prefix * F.col(f"__f{i}")).alias(f"__out{i}"))
        # fails only this filter: (1 - f_i) * prod_{j != i} f_j
        solo = F.lit(1) - F.col(f"__f{i}")
        for j in range(k):
            if j != i:
                solo = solo * F.col(f"__f{j}")
        aggs.append(F.sum(solo).alias(f"__solo{i}"))
        if weight_col is not None:
            aggs.append(F.sum(prefix * F.col("__w")).alias(f"__win{i}"))
            aggs.append(
                F.sum(prefix * F.col(f"__f{i}") * F.col("__w")).alias(
                    f"__wout{i}"
                )
            )
    one = flagged.agg(*aggs)

    def stage_struct(i: int):
        parts = [
            F.lit(i + 1).alias("stage"),
            F.lit(filters[i][0]).alias("name"),
            F.coalesce(F.col(f"__in{i}"), F.lit(0)).alias("rows_in"),
            (
                F.coalesce(F.col(f"__in{i}"), F.lit(0))
                - F.coalesce(F.col(f"__out{i}"), F.lit(0))
            ).alias("removed"),
            F.coalesce(F.col(f"__out{i}"), F.lit(0)).alias("rows_out"),
            F.coalesce(F.col(f"__solo{i}"), F.lit(0)).alias("removed_solely"),
        ]
        if weight_col is not None:
            win = F.coalesce(F.col(f"__win{i}"), F.lit(0))
            wout = F.coalesce(F.col(f"__wout{i}"), F.lit(0))
            parts.append(win.alias("weight_in"))
            parts.append((win - wout).alias("weight_removed"))
            parts.append(wout.alias("weight_out"))
        return F.struct(*parts)

    stages = F.explode(F.array(*[stage_struct(i) for i in range(k)])).alias("s")
    return one.select(stages).select("s.*")


def _bpe_merge_fold(syms, left: str, right: str, merged: str):
    """Greedy left-to-right merge of adjacent (left, right) into
    ``merged`` over a symbol array, as ONE ``F.aggregate`` fold —
    shared by :func:`bpe_train` (per round) and :func:`bpe_apply`
    (per learned rank). Greedy never re-reads its own output: after a
    fusion the accumulator tail is ``merged``, which can only equal
    ``left`` if ``right`` were empty (impossible — symbols are
    non-empty), so `tail == left` is exactly "previous symbol is an
    unfused left"."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (Sennrich et al. 2016): run the
    full merge loop, not just one round's statistic
    (:func:`bpe_merge_pairs`). Returns the learned merge table —
    one row per round: (rank, left, right, merged, pair_count), where
    ``pair_count`` is the frequency-weighted count that made the pair
    the argmax when it was chosen.

    Scale shape — the corpus is touched ONCE. Everything after the
    word-frequency collapse (one token-keyed agg with map-side combine;
    Zipf: vastly fewer distinct words than tokens) iterates on the
    vocab table: each round is (a) one pair-keyed agg over the symbol
    arrays, (b) a 1-row argmax collect (control-plane: one pair + one
    count scalar per round), (c) a per-row greedy merge fold. This is
    exactly how production tokenizer trainers decompose the problem —
    at 100 TB the vocab table is the working set (10^7-10^8 rows), and
    every round is one small shuffle plus a map.

    Merge application is the standard GREEDY LEFT-TO-RIGHT fold: scan
    the symbol sequence once, fusing (left, right) occurrences as seen,
    never re-reading the just-merged output symbol — so a run
    ``a a a`` under pair (a, a) becomes ``aa a`` (first two fuse, the
    survivor cannot fuse with the fresh ``aa``). Expressed as ONE
    ``F.aggregate`` array fold per word — JVM codegen, no Python.
    Ties on pair count break deterministically (count desc, left asc,
    right asc), so the learned table is engine-portable and the oracle
    replays every round exactly. Rounds stop early if no pair remains
    (vocab exhausted into whole words).

    Each round's vocab is localCheckpointed: the loop is driver-side
    (like the PageRank idiom) and without a barrier round N's plan
    would re-run all earlier folds once per consumer.
    """
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    vocab = (
        df.select(F.explode(words(F.col(text_col))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("wf"))
        .select("wf", chars.alias("syms"))
        .localCheckpoint(eager=True)
    )
    spark = df.sparkSession
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs = F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(
                F.element_at("syms", i).alias("l"),
                F.element_at("syms", i + F.lit(1)).alias("r"),
            ),
        )
        best = (
            vocab.filter(F.size("syms") >= 2)
            .select("wf", F.explode(pairs).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("wf").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .first()
        )
        if best is None:
            break
        left, right, count = best["l"], best["r"], int(best["n"])
        merged = left + right
        merges.append((rank, left, right, merged, count))
        vocab = vocab.select(
            "wf", _bpe_merge_fold("syms", left, right, merged).alias("syms")
        ).localCheckpoint(eager=True)
    return local_frame(
        spark,
        merges,
        "rank int, left string, right string, merged string, pair_count long",
    )


def _bpe_greedy_fold(syms: list, left: str, right: str, merged: str) -> list:
    """Pure-Python twin of :func:`_bpe_merge_fold` (greedy left-to-right,
    never re-reads its own output) — kept adjacent so the two stay in
    lockstep; property-pinned equal in tests/test_properties.py."""
    acc: list = []
    for s in syms:
        if acc and acc[-1] == left and s == right:
            acc[-1] = merged
        else:
            acc.append(s)
    return acc


def bpe_train_local(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 32_000,
    min_word_freq: int = 1,
    max_words: int = 5_000_000,
) -> DataFrame:
    """PRODUCTION-vocab BPE training: the hybrid trainer that makes a
    32k-merge vocabulary feasible. :func:`bpe_train` is the oracle-exact
    distributed loop, but each of its rounds is one pair-keyed shuffle
    plus a 1-row collect — ~2 Spark jobs per merge, so 32k merges is
    ~64k jobs: correct, and unusable as a production trainer.

    The decomposition every production tokenizer trainer uses
    (Sennrich '16 reference impl, SentencePiece, HF tokenizers): the
    only corpus-sized step is the word-frequency collapse, and AFTER it
    the working set is the distinct-word table, which is Zipf-small
    relative to the corpus. So:

    1. DISTRIBUTED (the 100 TB step): one token-keyed aggregation with
       map-side combine -> (word, wf). ``min_word_freq`` prunes the
       hapax tail — at corpus scale the distinct-word table is heavy-
       tailed junk (typos, hashes); every production trainer cuts it,
       and the cut bounds what the driver must hold. ``max_words``
       guards the collect: if the pruned table is still bigger, raise
       with the actionable fix (raise ``min_word_freq``) instead of
       OOMing the driver.
    2. DRIVER-SIDE (vocab-sized, corpus-independent): the standard
       incremental heap trainer. Pair counts live in a dict; a lazy
       max-heap keyed (-count, left, right) yields each round's argmax
       in O(log P); merging a pair re-folds ONLY the words that contain
       it (inverted index pair -> word ids) and applies exact count
       deltas. Each round costs O(affected words), not O(vocab) — the
       asymptotic fix for the per-round full re-aggregation.

    Semantics are IDENTICAL to :func:`bpe_train` — same normalization,
    same greedy left-to-right fold, same (count desc, left asc, right
    asc) tie-break (heap tuple order == the distributed ``orderBy``;
    Python code-point string order == Spark's binary collation because
    UTF-8 is code-point-order preserving) — property-pinned equal at
    small k in tests. Returns the same (rank, left, right, merged,
    pair_count) table.
    """
    import heapq
    from collections import Counter

    wordfreq = (
        df.select(F.explode(words(F.col(text_col))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("wf"))
    )
    if min_word_freq > 1:
        wordfreq = wordfreq.filter(F.col("wf") >= min_word_freq)
    n_distinct = wordfreq.count()
    if n_distinct > max_words:
        raise ValueError(
            f"bpe_train_local: {n_distinct} distinct words exceed "
            f"max_words={max_words}; raise min_word_freq (current "
            f"{min_word_freq}) to prune the tail before collecting"
        )
    rows = wordfreq.collect()
    spark = df.sparkSession

    spellings: list[list[str]] = [list(r["word"]) for r in rows]
    wfs: list[int] = [int(r["wf"]) for r in rows]
    pair_counts: Counter = Counter()
    pair_words: dict[tuple[str, str], set[int]] = {}
    for i, (syms, wf) in enumerate(zip(spellings, wfs)):
        for p in zip(syms, syms[1:]):
            pair_counts[p] += wf
            pair_words.setdefault(p, set()).add(i)
    heap = [(-n, l, r) for (l, r), n in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        # lazy-heap argmax: entries go stale when counts change (a fresh
        # entry is pushed on every change), so pop until head is current
        best = None
        while heap:
            negn, l, r = heap[0]
            if pair_counts.get((l, r), 0) == -negn:
                best = heapq.heappop(heap)
                break
            heapq.heappop(heap)
        if best is None:
            break
        negn, left, right = best
        count = -negn
        merged = left + right
        merges.append((rank, left, right, merged, count))
        for i in list(pair_words.get((left, right), ())):
            old, wf = spellings[i], wfs[i]
            new = _bpe_greedy_fold(old, left, right, merged)
            oldp = Counter(zip(old, old[1:]))
            newp = Counter(zip(new, new[1:]))
            for p in oldp.keys() | newp.keys():
                d = newp.get(p, 0) - oldp.get(p, 0)
                if d:
                    nc = pair_counts.get(p, 0) + d * wf
                    if nc > 0:
                        pair_counts[p] = nc
                        heapq.heappush(heap, (-nc, p[0], p[1]))
                    else:
                        pair_counts.pop(p, None)
                if p in oldp and p not in newp:
                    s = pair_words.get(p)
                    if s is not None:
                        s.discard(i)
                        if not s:
                            pair_words.pop(p, None)
                elif p in newp and p not in oldp:
                    pair_words.setdefault(p, set()).add(i)
            spellings[i] = new
        # greedy fold leaves no adjacent (left, right) anywhere
        pair_counts.pop((left, right), None)
        pair_words.pop((left, right), None)
    return local_frame(
        spark,
        merges,
        "rank int, left string, right string, merged string, pair_count long",
    )


def threshold_sweep(
    df: DataFrame,
    score_col: str,
    thresholds: list[float],
    weight_col: str | None = None,
) -> DataFrame:
    """Survivor curve for a quality score in ONE corpus pass: for each
    candidate threshold t, how many docs (and how much weight — tokens,
    bytes — if ``weight_col`` is given) survive ``score >= t``. The
    calibration report you run BEFORE picking the cut point of a 100 TB
    quality filter: every threshold is a conditional sum over the same
    scan, folded in a single partial-combining aggregation — k
    thresholds cost one pass, not k.

    Emits one row per threshold: (threshold, n_total, n_pass,
    pass_rate[, weight_total, weight_pass]). NULL scores never pass
    (they do count in n_total — a doc the scorer could not evaluate is
    still corpus mass the cut must account for); NULL weights
    contribute nothing to the mass columns (standard SUM semantics) —
    rows with unknown mass are counted, not weighed.
    """
    if not thresholds:
        raise ValueError("threshold_sweep needs at least one threshold")
    s = F.col(score_col)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, t in enumerate(thresholds):
        aggs.append(
            F.sum(F.when(s >= F.lit(t), 1).otherwise(0)).alias(f"__p{i}")
        )
    if weight_col is not None:
        w = F.col(weight_col)
        aggs.append(F.sum(w).alias("__w"))
        for i, t in enumerate(thresholds):
            aggs.append(
                F.sum(F.when(s >= F.lit(t), w).otherwise(F.lit(0))).alias(
                    f"__wp{i}"
                )
            )
    one = df.agg(*aggs)
    fields = []
    for i, t in enumerate(thresholds):
        parts = [
            F.lit(float(t)).alias("threshold"),
            F.col("__n").alias("n_total"),
            F.coalesce(F.col(f"__p{i}"), F.lit(0)).alias("n_pass"),
            F.when(
                F.col("__n") > 0,
                F.coalesce(F.col(f"__p{i}"), F.lit(0)) / F.col("__n"),
            ).otherwise(F.lit(0.0)).alias("pass_rate"),
        ]
        if weight_col is not None:
            parts.append(F.col("__w").alias("weight_total"))
            parts.append(F.col(f"__wp{i}").alias("weight_pass"))
        fields.append(F.struct(*parts))
    return one.select(F.explode(F.array(*fields)).alias("s")).select("s.*")


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Tokenize with a learned BPE merge list: per document, the word
    count and the token count under ``merges`` applied in rank order —
    the :func:`bpe_train` complement that closes the loop (train →
    apply → capacity numbers for packing).

    The TYPE-level decomposition, same as training: merges fold once
    per DISTINCT word (the Zipf-small vocab), never once per token.
    With ``broadcast_vocab`` (default — real tokenizer vocabularies are
    at most ~10^7 (word, count) rows) the corpus side is ONE pass:
    explode words into a broadcast-hash probe of the sized vocab and
    partial-combine straight into the per-doc sums — measured at 30x
    this collapses shuffle 88 MB → per-doc partials (the (doc, word)
    pre-aggregation it replaces was the operator's whole shuffle).
    ``broadcast_vocab=False`` is the giant-vocab escape hatch: reduce
    to (doc, word, occurrences) first and shuffle-join on the word.

    ``merges`` is bounded-k by construction (each rank is one fold in
    the expression tree — the 3-5 merges of a pipeline experiment, not
    a production 32k-merge tokenizer; that path is a Pandas-UDF
    tokenizer as noted in :func:`token_count`). Emits
    (id, n_words, n_tokens).
    """
    occurrences = (
        df.select(
            F.col(id_col), F.explode(words(F.col(text_col))).alias("word")
        )
        .filter(F.length("word") > 0)
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    vocab = (
        occurrences.select("word").distinct().select("word", chars.alias("syms"))
    )
    for left, right in merges:
        vocab = vocab.select(
            "word", _bpe_merge_fold("syms", left, right, left + right).alias("syms")
        )
    vocab = vocab.select("word", F.size("syms").alias("n_syms"))
    if broadcast_vocab:
        return (
            occurrences.join(F.broadcast(vocab), "word")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_words"),
                F.sum("n_syms").alias("n_tokens"),
            )
        )
    per_word = occurrences.groupBy(id_col, "word").agg(
        F.count("*").alias("occ")
    )
    return (
        per_word.join(vocab, "word")
        .groupBy(id_col)
        .agg(
            F.sum("occ").alias("n_words"),
            F.sum(F.col("occ") * F.col("n_syms")).alias("n_tokens"),
        )
    )


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    emit: str = "counts",
    cache_cap: int = 1_000_000,
    vocab: dict[str, int] | None = None,
) -> DataFrame:
    """PRODUCTION-vocab BPE tokenization: apply an arbitrarily long
    learned merge list (a real tokenizer ships ~32k merges) with an
    Arrow-batched ``mapInPandas`` kernel — the scale path
    :func:`bpe_apply`'s docstring promises. ``bpe_apply`` folds each
    rank as one JVM expression, so its plan grows linearly with the
    merge count and stops being compilable long before 32k;
    here the merge RANKS broadcast once per executor and each word is
    encoded with the standard min-rank iterative algorithm (repeatedly
    fuse the adjacent pair with the lowest rank, greedy left-to-right
    within a rank) — O(len·log len)-ish per word instead of 32k scans.

    Min-rank iterative and bpe_apply's rank-order-sequential fold
    coincide on any merge list PRODUCED BY TRAINING (a rank-i pair can
    only contain symbols built by ranks < i, so applying a later merge
    can never create an earlier pair); property-pinned against
    :func:`bpe_apply` and the pure-Python reference in
    tests/test_properties.py. Hand-built merge lists that violate that
    invariant may diverge — like every production tokenizer, this
    kernel trusts its training loop.

    THE 100 TB shape: the corpus crosses into Arrow once; each worker
    keeps a per-partition word→tokens cache, so the encode loop runs
    once per DISTINCT word per partition (Zipf: ~10^5-10^6 entries),
    not once per token. ``cache_cap`` bounds worker memory; on
    overflow the cache resets (correctness unaffected). Normalization
    matches bpe_apply: lowercase, whitespace-split, drop empties
    (ASCII-stable between the JVM and Python lowercasing).

    ``emit="counts"`` → (id, n_words, n_tokens) — bpe_apply's exact
    schema, so the two are drop-in interchangeable.
    ``emit="tokens"`` → (id, n_words, tokens array<string>) for
    downstream packing / n-gram stages.
    ``emit="ids"`` → (id, n_words, token_ids array<long>) — the model-
    input form; requires ``vocab`` (token → id, e.g. collected from
    :func:`bpe_vocab` — vocab-sized, bounded), ships with the ranks in
    one broadcast. Out-of-vocabulary tokens map to ``-1`` (the caller's
    UNK policy decides what to do with them; with a vocab built by
    bpe_vocab over the SAME corpus and merges, none occur).
    """
    if emit not in ("counts", "tokens", "ids"):
        raise ValueError(f"emit must be counts|tokens|ids, got {emit!r}")
    if emit == "ids" and vocab is None:
        raise ValueError('emit="ids" requires a vocab (token -> id dict)')
    ranks = {pair: i for i, pair in enumerate(merges)}
    b_ranks = df.sparkSession.sparkContext.broadcast((ranks, vocab or {}))
    id_type = dict(df.dtypes)[id_col]
    if emit == "counts":
        schema = f"{id_col} {id_type}, n_words long, n_tokens long"
    elif emit == "tokens":
        schema = f"{id_col} {id_type}, n_words long, tokens array<string>"
    else:
        schema = f"{id_col} {id_type}, n_words long, token_ids array<long>"

    def op(batches):
        import pandas as pd

        rk, voc = b_ranks.value
        cache: dict[str, tuple[str, ...]] = {}

        def encode(word: str) -> tuple[str, ...]:
            hit = cache.get(word)
            if hit is not None:
                return hit
            syms = list(word)
            while len(syms) > 1:
                best_rank = None
                best_pair = None
                prev = syms[0]
                for s in syms[1:]:
                    r = rk.get((prev, s))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank, best_pair = r, (prev, s)
                    prev = s
                if best_pair is None:
                    break
                left, right = best_pair
                merged = left + right
                out: list[str] = []
                for s in syms:
                    if out and out[-1] == left and s == right:
                        out[-1] = merged
                    else:
                        out.append(s)
                syms = out
            enc = tuple(syms)
            if len(cache) >= cache_cap:
                cache.clear()
            cache[word] = enc
            return enc

        for pdf in batches:
            ids, n_words, payload = [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                words = (txt or "").lower().split()
                if not words:
                    continue  # bpe_apply's inner join drops wordless docs
                ids.append(did)
                n_words.append(len(words))
                if emit == "counts":
                    payload.append(sum(len(encode(w)) for w in words))
                else:
                    toks: list[str] = []
                    for w in words:
                        toks.extend(encode(w))
                    if emit == "ids":
                        payload.append([voc.get(t, -1) for t in toks])
                    else:
                        payload.append(toks)
            if emit == "counts":
                yield pd.DataFrame(
                    {id_col: ids, "n_words": n_words, "n_tokens": payload}
                )
            else:
                # object dtype keeps the list column out of NumPy's
                # hands — Arrow's NumPyConverter can't take list<string>
                # (and an empty batch would otherwise infer float64)
                col = "token_ids" if emit == "ids" else "tokens"
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "n_words": n_words,
                        col: pd.Series(payload, dtype="object"),
                    }
                )

    # deliberately NOT spread_if_narrow'd (round-10 A/B): the kernel is
    # VOCAB-dominated, not row-dominated — the per-partition word cache
    # encodes each distinct word once per partition, so spreading a
    # narrow corpus across n slots multiplies the encode work by up to n
    # (measured at sf0.1 with 200 merges: 0.27 s unspread vs 0.82 s
    # spread 32-wide). A wide production scan pays the same per-partition
    # cache duplication inherently; locally the narrow layout is optimal.
    return df.select(id_col, text_col).mapInPandas(kernel(op), schema)


def bpe_vocab(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Build the TOKEN VOCABULARY a trained BPE tokenizer induces over a
    corpus: one row per distinct token with its corpus frequency and its
    dense ``token_id`` (frequency-desc, token-asc tiebreak — the
    conventional frequency-ranked id assignment, deterministic across
    engines). The id table is what tokenize-to-IDS pipelines broadcast;
    its size is the Zipf-small token space, never the corpus.

    Plan shape: the :func:`bpe_tokenize` kernel (map-only, Arrow once)
    feeds one explode + one partial-combining count agg; the dense rank
    runs over the token-space-sized aggregate, not the corpus. Emits
    (token, token_id, n_occurrences).
    """
    toks = bpe_tokenize(df, merges, text_col, id_col, emit="tokens")
    counts = (
        toks.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    # the global rank window runs over the VOCAB (Zipf-small), not the
    # corpus — the one place a single-task sort is the right call
    return counts.withColumn(
        "token_id", (F.row_number().over(w) - 1).cast("long")
    ).select("token", "token_id", "n_occurrences")
