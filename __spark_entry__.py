"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
through the starlight_for_kafka_spark package. Every entry is one
``q_<name>`` builder declared with its ``@oracle(...)``: the
DuckDB-equivalent ANSI SQL over the same parquet views, which
``oracle_sql()`` collects.

Cross-engine determinism rules used throughout (see session.py, functions/
hashing.py): md5-based hashing (identical in both engines), integer DIV for
epoch-ms conversion, DECIMAL casts before SUM so aggregation is exact (then
cast to DOUBLE), raw int/int division for ratios (IEEE-identical), and
explicit id tie-breaks in every window/top-k.
"""

from __future__ import annotations

import datetime
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from starlight_for_kafka_spark import load_table
from starlight_for_kafka_spark.functions.hashing import md5_hash64, words
from starlight_for_kafka_spark.operators import analytics as analytics_ops
from starlight_for_kafka_spark.operators import dedup as dedup_ops
from starlight_for_kafka_spark.operators import groups as group_ops
from starlight_for_kafka_spark.operators import ktable as ktable_ops
from starlight_for_kafka_spark.operators import layout as layout_ops
from starlight_for_kafka_spark.operators import multimodal as mm_ops
from starlight_for_kafka_spark.operators import registry as reg_ops
from starlight_for_kafka_spark.operators import sampling as sampling_ops
from starlight_for_kafka_spark.operators import similarity as sim_ops
from starlight_for_kafka_spark.operators import text as text_ops
from starlight_for_kafka_spark.operators import transactions as tx_ops
from starlight_for_kafka_spark.operators import windows as win_ops
from starlight_for_kafka_spark.sources import LogTable
from starlight_for_kafka_spark.sources.topics import HANDLED_APIS

N_PARTITIONS = 8
SESSION_GAP_MS = 86_400_000  # 1 day
TS_CUTOFF = datetime.datetime(2024, 1, 15)
STOP_RATIO_CUTS = (0.02, 0.05, 0.1, 0.2)  # threshold_sweep's quality cuts

_MS = "unix_micros({c}) DIV 1000"
_DUCK_MS = "epoch_us({c}) // 1000"  # the DuckDB twin of _MS


def oracle(sql: str):
    """Attach ``sql``, the DuckDB oracle of a ``q_*`` builder, as
    ``fn.oracle``. The function itself is returned, not a wrapper, so
    ``queries()`` and cloudpickle see the plain builder."""

    def attach(fn):
        fn.oracle = sql
        return fn

    return attach


def _log(spark: SparkSession, sf_dir: str) -> LogTable:
    return LogTable.from_events(load_table(spark, sf_dir, "events"), N_PARTITIONS)


def _dec_sum(col, prec="18,2"):
    return F.sum(F.col(col).cast(f"decimal({prec})")).cast("double")


# ===================================================================== #
# DuckDB CTE prefixes (shared derivations, mirrored by the Spark side)
# ===================================================================== #

LOG_CTE = """
log AS (
  SELECT CAST(user_id AS VARCHAR) AS key,
         props AS value,
         ts AS "timestamp",
         CAST(user_id % 8 AS INT) AS "partition",
         CAST(row_number() OVER (PARTITION BY user_id % 8 ORDER BY event_id) - 1 AS BIGINT) AS "offset",
         event_id
  FROM events
)"""

COMMITS_CTE = """
commits AS (
  SELECT 'g' || CAST(user_id % 4 AS VARCHAR) AS "group",
         'events' AS topic,
         CAST(user_id % 8 AS INT) AS "partition",
         event_id AS "offset",
         event_type AS metadata,
         ts AS commit_ts
  FROM events
)"""

TXN_CTE = (
    LOG_CTE
    + """,
txn AS (
  SELECT "partition", "offset", "timestamp",
         CAST(key AS BIGINT) % 16 AS pid,
         CAST(row_number() OVER (PARTITION BY CAST(key AS BIGINT) % 16 ORDER BY "partition", "offset") - 1 AS INT) AS seq
  FROM log
),
txn2 AS (SELECT *, CAST(seq // 10 AS BIGINT) AS txn_group FROM txn),
txn3 AS (
  SELECT *, CASE WHEN (pid + txn_group) % 7 = 0 THEN 'abort'
                 WHEN (pid + txn_group) % 11 = 3 THEN 'open'
                 ELSE 'commit' END AS txn_status
  FROM txn2
),
lso AS (
  SELECT "partition",
         coalesce(min(CASE WHEN txn_status = 'open' THEN "offset" END), max("offset") + 1) AS last_stable_offset
  FROM txn3 GROUP BY "partition"
)"""
)

MEMBERSHIP_CTE = """
m AS (
  SELECT 'g' || CAST(user_id % 4 AS VARCHAR) AS "group",
         'm' || CAST(user_id % 24 AS VARCHAR) AS member,
         CASE WHEN event_id % 10 = 0 THEN 'leave'
              WHEN event_id % 10 <= 2 THEN 'join'
              ELSE 'heartbeat' END AS action,
         ts, event_id
  FROM events
)"""

DOCS_WITH_CLONES_CTE = """
docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
)"""

DOCS_WITH_NEAR_CTE = """
docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text || ' extra token' FROM documents WHERE doc_id % 25 = 0
)"""


# Fixed Avro schema literals for the registry queries (compat semantics of
# CompatibilityChecker.java:88-163; see operators/registry.py).
SCHEMA_USER_V1 = '{"type":"record","name":"User","fields":[{"name":"id","type":"long"}]}'
SCHEMA_USER_V2 = (
    '{"type":"record","name":"User","fields":[{"name":"id","type":"long"},'
    '{"name":"email","type":"string","default":""}]}'
)
SCHEMA_USER_V3 = (
    '{"type":"record","name":"User","fields":[{"name":"id","type":"long"},'
    '{"name":"email","type":"string","default":""},'
    '{"name":"age","type":"long","default":0}]}'
)
SCHEMA_CLICK_V1 = (
    '{"type":"record","name":"Click","fields":[{"name":"url","type":"string"},'
    '{"name":"user","type":"long"}]}'
)
CAND_NO_DEFAULT = (
    '{"type":"record","name":"User","fields":[{"name":"id","type":"long"},'
    '{"name":"age","type":"long"}]}'
)
CAND_TYPE_CHANGE = '{"type":"record","name":"User","fields":[{"name":"id","type":"string"}]}'

# produce-validation window: now = 2024-01-20T00:00:00Z, max diff 5 days
VALIDATE_NOW_MS = 1_705_708_800_000
VALIDATE_DIFF_MS = 432_000_000
KEY_ERR = "InvalidRecordException: compacted topic record without key"
TS_ERR = "InvalidTimestampException"


def _docs_with_clones(documents: DataFrame) -> DataFrame:
    clones = (
        documents.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    return documents.select("doc_id", "text").unionByName(clones.select("doc_id", "text"))


def _docs_with_near(documents: DataFrame) -> DataFrame:
    near = (
        documents.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra token")))
    )
    return documents.select("doc_id", "text").unionByName(near.select("doc_id", "text"))


# ===================================================================== #
# DuckDB oracle helpers: pieces several oracles share, and the oracles
# whose SQL Python generates with loops. A builder's @oracle(...) runs
# when its def does, so everything it calls is defined up here.
# ===================================================================== #


def _cos_sql(a: str, b: str, dp: int) -> str:
    """DuckDB cosine of the DOUBLE[] columns ``a`` and ``b``, rounded to
    ``dp`` places like the Spark similarity operators round it."""
    return (
        f"round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b}))), {dp})"
    )


# HyperLogLog b=8 in DuckDB: the rho mask below the 8 index bits of a
# 60-bit md5 hash, and the estimator's alpha numerator, the same
# Python-computed double the Spark operator embeds.
_HLL_MASK = (1 << 52) - 1
_HLL_ALPHA_NUM = (0.7213 / (1.0 + 1.079 / 256)) * 256 * 256 * float(1 << 53)


def _hll_branch_sql(col: str) -> str:
    """One hll_cardinality(events, col, b=8) row in DuckDB — identical
    md5 registers, identical FIXED-POINT register sum (BIGINT shifts, no
    float summation-order drift), identical estimator constants."""
    return f"""(
  WITH hh AS (
    -- NULL is not an element (matches hll_registers' isNotNull drop)
    SELECT ('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15))::BIGINT AS hv
    FROM events WHERE {col} IS NOT NULL
  ), rr AS (
    SELECT hv >> 52 AS idx,
           CASE WHEN (hv & {_HLL_MASK}) = 0 THEN 53
                ELSE 53 - length(ltrim(bin(hv & {_HLL_MASK}), '0')) END AS rho
    FROM hh
  ), regs AS (SELECT idx, max(rho) AS M FROM rr GROUP BY 1),
  summed AS (
    SELECT sum(1::BIGINT << (53 - M)) AS s_present, count(*) AS n_present
    FROM regs
  ), stats AS (
    SELECT s_present + (256 - n_present) * (1::BIGINT << 53) AS s_int,
           256 - n_present AS n_zero
    FROM summed
  ), est AS (
    SELECT n_zero,
           {_HLL_ALPHA_NUM!r} / s_int AS raw_e
    FROM stats
  ), ex AS (SELECT count(DISTINCT {col}) AS exact FROM events)
  SELECT '{col}' AS col, 256 AS m, n_zero AS n_zero_registers,
         round(CASE WHEN raw_e <= 640.0 AND n_zero > 0
                    THEN 256.0 * ln(256.0 / n_zero) ELSE raw_e END, 4) AS estimate,
         exact,
         round((round(CASE WHEN raw_e <= 640.0 AND n_zero > 0
                           THEN 256.0 * ln(256.0 / n_zero) ELSE raw_e END, 4)
                - exact) / exact, 4) AS rel_err
  FROM est, ex
)"""


def _pq_codes_trained_oracle_sql(m: int = 4, ks: int = 4, dim: int = 64) -> str:
    """pq_train (one L2 Lloyd round per subspace from the lowest-id seed
    slices) + pq_encode replayed end to end: per-subspace 9 dp
    squared-L2 assignment (left fold, lowest-code tie-break), 6 dp
    means, keep-previous, then the encode argmins and the 9 dp error
    sum."""
    sub = dim // m
    l2 = (
        "round(list_reduce(list_transform(range({n}), i -> "
        "({a}[i + 1] - {b}[i + 1]) * ({a}[i + 1] - {b}[i + 1])), "
        "(acc, x) -> acc + x), 9)"
    )
    ctes = ["e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"]
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        d_seed = l2.format(n=sub, a="s.sv", b="c.cv")
        d_book = l2.format(n=sub, a="s.sv", b="b.cv")
        ctes.append(
            f"s{j} AS (SELECT vec_id, v[{lo}:{hi}] AS sv FROM e)"
        )
        ctes.append(
            f"c{j}0 AS (SELECT vec_id AS cid, sv AS cv FROM s{j} WHERE vec_id < {ks})"
        )
        ctes.append(f"""a{j} AS (SELECT vec_id, cid FROM (
    SELECT s.vec_id, c.cid, {d_seed} AS dist FROM s{j} s CROSS JOIN c{j}0 c
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1)""")
        ctes.append(
            f"ex{j} AS (SELECT vec_id, unnest(sv)::DOUBLE AS x, "
            f"generate_subscripts(sv, 1) - 1 AS dim FROM s{j})"
        )
        ctes.append(
            f"m{j} AS (SELECT a{j}.cid, ex{j}.dim, round(avg(ex{j}.x), 6) AS c "
            f"FROM ex{j} JOIN a{j} USING (vec_id) GROUP BY 1, 2)"
        )
        ctes.append(f"""b{j} AS (SELECT cid, list(c ORDER BY dim) AS cv FROM m{j} GROUP BY cid
  UNION ALL
  SELECT cid, cv FROM c{j}0 WHERE cid NOT IN (SELECT DISTINCT cid FROM m{j}))""")
        ctes.append(f"""enc{j} AS (SELECT vec_id, cid, dist FROM (
    SELECT s.vec_id, b.cid, {d_book} AS dist FROM s{j} s CROSS JOIN b{j} b
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1)""")
    codes = ", ".join(
        f"CAST(enc{j}.cid AS INT) AS code_{j}" for j in range(m)
    )
    err = " + ".join(f"enc{j}.dist" for j in range(m))
    joins = " ".join(f"JOIN enc{j} USING (vec_id)" for j in range(m))
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT vec_id, {codes}, round({err}, 9) AS recon_sq_err
FROM e {joins}"""
    )


# The word 3-shingle MinHash in DuckDB: the 16 signature slots and the 4
# band keys, with the md5-based hash family and LCG coefficients of
# dedup.minhash_signatures, so signatures and buckets match bit-for-bit.
_MINHASH_P = dedup_ops.MINHASH_PRIME
_MINHASH_SIG = ",\n    ".join(
    f"coalesce(list_min(list_transform(hs, h -> ({a} * h + {b}) % {_MINHASH_P})), {_MINHASH_P})"
    for a, b in zip(*dedup_ops._minhash_coeffs(16))
)
_MINHASH_BANDS = ", ".join(
    f"md5(CAST(sg[{bb*4+1}] AS VARCHAR) || ',' || CAST(sg[{bb*4+2}] AS VARCHAR)"
    f" || ',' || CAST(sg[{bb*4+3}] AS VARCHAR) || ',' || CAST(sg[{bb*4+4}] AS VARCHAR))"
    for bb in range(4)
)


def _minhash_pipeline_cte(star_above: int | None = None) -> str:
    """Full MinHash+LSH+verify pipeline in DuckDB CTEs ending at ``ver``
    (verified near-dup pairs) — mirrors the Spark pipeline (word
    3-shingles, 16 hashes, 4 bands, Jaccard >= 0.7) exactly: same
    md5-based hash family (coefficients from the same LCG construction),
    same banding buckets, same hot-bucket cap. With ``star_above`` the
    candidate CTE replays the Σ cluster² guard: buckets above the
    threshold emit STAR pairs anchored at the bucket minimum instead of
    the full clique (dedup.minhash_lsh_candidates star_above)."""
    return f"""{DOCS_WITH_NEAR_CTE},
w AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM docs
),
s AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
           ELSE [] END) AS sset
  FROM w
),
h AS (
  SELECT doc_id,
         list_transform(sset, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {_MINHASH_P}) AS hs
  FROM s
),
sig AS (SELECT doc_id, [{_MINHASH_SIG}] AS sg FROM h),
banded AS (
  SELECT doc_id, bt.band,
         CASE bt.band WHEN 0 THEN bk[1] WHEN 1 THEN bk[2]
                      WHEN 2 THEN bk[3] ELSE bk[4] END AS bucket
  FROM (SELECT doc_id, [{_MINHASH_BANDS}] AS bk FROM sig) t
  CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) bt
),
sized AS (
  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bs,
         min(doc_id) OVER (PARTITION BY band, bucket) AS anchor
  FROM banded
),
cand AS ({_minhash_cand_sql(star_above)}
),
ver AS (
  SELECT c.a, c.b FROM cand c
  JOIN s sa ON sa.doc_id = c.a
  JOIN s sb ON sb.doc_id = c.b
  WHERE CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
        / (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset))) >= 0.7
)"""


def _minhash_cand_sql(star_above: int | None) -> str:
    """The candidate-pair SELECT of the minhash oracle pipeline: full
    within-bucket clique, or (star_above) clique for small buckets UNION
    anchor-star for oversized ones — byte-for-byte the Spark topology."""
    if star_above is None:
        return """
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM (SELECT * FROM sized WHERE bs <= 200) x
  JOIN (SELECT * FROM sized WHERE bs <= 200) y USING (band, bucket)
  WHERE x.doc_id < y.doc_id"""
    return f"""
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM (SELECT * FROM sized WHERE bs <= 200 AND bs <= {star_above}) x
  JOIN (SELECT * FROM sized WHERE bs <= 200 AND bs <= {star_above}) y
    USING (band, bucket)
  WHERE x.doc_id < y.doc_id
  UNION
  SELECT DISTINCT anchor AS a, doc_id AS b
  FROM sized
  WHERE bs <= 200 AND bs > {star_above} AND doc_id <> anchor"""


# The near-dup components of the minhash pipeline: ``comp`` maps each doc
# of a verified pair to its component's minimum id, by a recursive
# transitive closure (near-dup components are short chains).
_MINHASH_COMPONENTS_CTE = _minhash_pipeline_cte() + """,
edges AS (SELECT a AS x, b AS y FROM ver UNION SELECT b, a FROM ver),
reach(x, y) AS (
  SELECT x, y FROM edges
  UNION
  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
),
comp AS (SELECT x AS node, least(x, min(y)) AS component FROM reach GROUP BY x)"""


def _fuzzy_decontaminate_cte() -> str:
    """Shared CTE chain for the fuzzy-decontamination oracles ending at
    ``ver`` (corpus_id, bench_id, jaccard): replays minhash signatures
    (same md5+LCG hash family), 4-band banding, the BENCH-side
    hot-bucket cap (dedup.fuzzy_decontaminate max_bench_bucket — corpus
    occupancy deliberately uncounted, matching the zero-corpus-shuffle
    design), the corpus×bench candidate join, and the exact word
    3-shingle Jaccard >= 0.7 verify."""
    return f"""rev AS (
  SELECT doc_id,
         array_to_string(list_reverse(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')), ' ') AS rtext
  FROM documents
),
bench AS (
  SELECT doc_id + 7000000 AS doc_id, text || ' eval answer token' AS text
  FROM documents WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + 8000000, rtext FROM rev WHERE doc_id % 50 = 13
),
docs AS (
  SELECT doc_id, text, 0 AS is_bench FROM documents
  UNION ALL
  SELECT doc_id, text, 1 FROM bench
),
w AS (
  SELECT doc_id, is_bench,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM docs
),
s AS (
  SELECT doc_id, is_bench,
         list_distinct(CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
           ELSE [] END) AS sset
  FROM w
),
h AS (
  SELECT doc_id, is_bench,
         list_transform(sset, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {_MINHASH_P}) AS hs
  FROM s
),
sig AS (SELECT doc_id, is_bench, [{_MINHASH_SIG}] AS sg FROM h),
banded AS (
  SELECT doc_id, is_bench, bt.band,
         CASE bt.band WHEN 0 THEN bk[1] WHEN 1 THEN bk[2]
                      WHEN 2 THEN bk[3] ELSE bk[4] END AS bucket
  FROM (SELECT doc_id, is_bench, [{_MINHASH_BANDS}] AS bk FROM sig) t
  CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) bt
),
sized AS (
  SELECT *, sum(CASE WHEN is_bench = 1 THEN 1 ELSE 0 END)
              OVER (PARTITION BY band, bucket) AS bs_bench
  FROM banded
),
cand AS (
  SELECT DISTINCT x.doc_id AS corpus_id, y.doc_id AS bench_id
  FROM sized x JOIN sized y USING (band, bucket)
  WHERE x.is_bench = 0 AND y.is_bench = 1 AND y.bs_bench <= 200
),
ver AS (
  SELECT c.corpus_id, c.bench_id,
         CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
         / (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset))) AS jaccard
  FROM cand c
  JOIN s sa ON sa.doc_id = c.corpus_id
  JOIN s sb ON sb.doc_id = c.bench_id
  WHERE CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
        / (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset))) >= 0.7
)"""


def _decontaminate_fuzzy_oracle_sql() -> str:
    """decontaminate_fuzzy: corpus docs with no verified near-dup
    benchmark partner survive."""
    return f"""WITH {_fuzzy_decontaminate_cte()},
flagged AS (SELECT DISTINCT corpus_id AS doc_id FROM ver)
SELECT d.doc_id FROM documents d ANTI JOIN flagged f USING (doc_id)"""


def _filter_funnel_oracle_sql(weighted: bool = False) -> str:
    """filter_funnel: the four-gate funnel over documents — sequential
    rows_in/removed/rows_out (prefix products of the gate flags) plus
    removed_solely (fails ONLY that gate), one aggregate row reshaped to
    four report rows; word count via the text_stats split recipe.
    ``weighted`` adds the token-mass columns (weight = word count, the
    filter_funnel_weighted entry's n_tokens)."""
    gates = [
        ("min_chars", "length(text) >= 200"),
        ("lang_known", "lang IN ('en','es','de','fr')"),
        ("min_words", "nw >= 30"),
        ("max_words", "nw <= 2000"),
    ]
    flag_cols = ",\n         ".join(
        [
            f"CASE WHEN {cond} THEN 1 ELSE 0 END AS f{i}"
            for i, (_, cond) in enumerate(gates)
        ]
        + ["nw"]
    )
    k = len(gates)
    aggs = []
    for i in range(k):
        prefix = " * ".join([f"f{j}" for j in range(i)]) or "1"
        solo = " * ".join(
            [f"(1 - f{i})"] + [f"f{j}" for j in range(k) if j != i]
        )
        aggs.append(
            f"CAST(sum({prefix}) AS BIGINT) AS in{i},\n"
            f"    CAST(sum({prefix} * f{i}) AS BIGINT) AS out{i},\n"
            f"    CAST(sum({solo}) AS BIGINT) AS solo{i}"
        )
        if weighted:
            aggs.append(
                f"CAST(sum({prefix} * nw) AS BIGINT) AS win{i},\n"
                f"    CAST(sum({prefix} * f{i} * nw) AS BIGINT) AS wout{i}"
            )
    wcols = (
        ", win{i} AS weight_in, win{i} - wout{i} AS weight_removed, "
        "wout{i} AS weight_out"
        if weighted
        else ""
    )
    stage_rows = "\nUNION ALL\n".join(
        f"SELECT CAST({i+1} AS INT) AS stage, '{name}' AS name, in{i} AS rows_in, "
        f"in{i} - out{i} AS removed, out{i} AS rows_out, solo{i} AS removed_solely"
        + wcols.format(i=i)
        + " FROM agg"
        for i, (name, _) in enumerate(gates)
    )
    return f"""WITH f AS (
  SELECT {flag_cols}
  FROM (SELECT text, lang,
               len(regexp_split_to_array(trim(text), '\\s+')) AS nw
        FROM documents)
),
agg AS (
  SELECT {", ".join(aggs)}
  FROM f
)
{stage_rows}"""


# Per-document word occurrences, the word side of the trained-vocab join
# in the bpe_apply, bpe_vocab and pack_bpe_sequences oracles.
_BPE_DOCW_CTE = """docw AS (
  SELECT doc_id, word, count(*)::BIGINT AS occ
  FROM (
    SELECT doc_id,
           unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
    FROM documents
  ) WHERE len(word) > 0
  GROUP BY doc_id, word
)"""


def _bpe_ctes(n_merges: int, fold_last: bool = False) -> list[str]:
    """Shared CTE chain for the BPE oracles: the merge loop unrolled —
    per round, pair counts over the current symbol arrays, the
    (count desc, left, right) argmax, and the greedy left-to-right fold
    via list_reduce (seed-first form: symbols lifted to singleton lists
    so the accumulator starts as a list — DuckDB 1.0 list_reduce takes
    no explicit init). ``fold_last`` additionally folds round
    n_merges's pair into w{n_merges} (the trained vocab bpe_apply
    tokenizes against); the word string rides along for the apply join."""
    ctes = ["""w0 AS (
  SELECT word, count(*)::BIGINT AS wf,
         list_transform(range(1, len(word) + 1), i -> substr(word, i, 1)) AS syms
  FROM (
    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
    FROM documents
  ) WHERE len(word) > 0
  GROUP BY word
)"""]
    for r in range(1, n_merges + 1):
        prev = f"w{r-1}"
        ctes.append(f"""p{r} AS (
  SELECT pr.l AS l, pr.r AS r, sum(wf)::BIGINT AS n
  FROM (
    SELECT wf, unnest(list_transform(range(1, len(syms)),
                 i -> {{'l': syms[i], 'r': syms[i + 1]}})) AS pr
    FROM {prev} WHERE len(syms) >= 2
  )
  GROUP BY pr.l, pr.r
)""")
        ctes.append(f"""b{r} AS (
  SELECT {r} AS rank, l, r, l || r AS merged, n
  FROM p{r} ORDER BY n DESC, l, r LIMIT 1
)""")
        if r < n_merges or fold_last:
            ctes.append(f"""w{r} AS (
  SELECT word, wf,
         list_reduce(
           list_transform(syms, x -> [x]),
           (acc, s) -> CASE
             WHEN len(acc) > 0 AND acc[-1] = b.l AND s[1] = b.r
             THEN list_append(acc[1:len(acc) - 1], b.merged)
             ELSE list_append(acc, s[1]) END
         ) AS syms
  FROM {prev} CROSS JOIN b{r} b
)""")
    return ctes


def _bpe_train_oracle_sql(n_merges: int = 3) -> str:
    """bpe_train: the learned merge table — one row per unrolled round."""
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, merged, "
        f"n AS pair_count FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(_bpe_ctes(n_merges)) + "\n" + unions


def _bpe_apply_oracle_sql(n_merges: int = 3) -> str:
    """bpe_apply: tokenize against the trained vocab — per-doc word
    occurrences join w{n_merges}'s per-word symbol counts (the
    type-level decomposition the Spark operator uses: the merge folds
    run once per distinct word, never once per token)."""
    ctes = _bpe_ctes(n_merges, fold_last=True)
    ctes.append(_BPE_DOCW_CTE)
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT d.doc_id,
       CAST(sum(d.occ) AS BIGINT) AS n_words,
       CAST(sum(d.occ * len(v.syms)) AS BIGINT) AS n_tokens
FROM docw d JOIN w{n_merges} v USING (word)
GROUP BY d.doc_id"""
    )


def _bpe_tokenize_tokens_oracle_sql(n_merges: int = 3) -> str:
    """bpe_tokenize emit="tokens": per-word symbol lists from the
    trained-vocab fold, flattened per doc in word-position order."""
    ctes = _bpe_ctes(n_merges, fold_last=True)
    ctes.append("""wp AS (
  SELECT doc_id, pos, w[pos] AS word
  FROM (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w,
           unnest(range(1, len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) + 1)) AS pos
    FROM documents
  ) WHERE len(w[pos]) > 0
)""")
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT wp.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       flatten(list(v.syms ORDER BY wp.pos)) AS tokens
FROM wp JOIN w{n_merges} v USING (word)
GROUP BY wp.doc_id"""
    )


def _bpe_vocab_oracle_sql(n_merges: int = 3) -> str:
    """bpe_vocab: trained-vocab fold -> per-word occurrence-weighted
    token counts -> frequency-desc dense ids."""
    ctes = _bpe_ctes(n_merges, fold_last=True)
    ctes.append(_BPE_DOCW_CTE)
    return (
        "WITH " + ",\n".join(ctes) + f"""
, wt AS (
  SELECT d.occ, unnest(v.syms) AS token
  FROM docw d JOIN w{n_merges} v USING (word)
), c AS (
  SELECT token, CAST(sum(occ) AS BIGINT) AS n_occurrences FROM wt GROUP BY 1
)
SELECT token,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) - 1 AS BIGINT) AS token_id,
       n_occurrences
FROM c"""
    )


def _hp_bucket_sql(v: str, n_planes: int) -> str:
    """DuckDB expression for operators/similarity.py:hyperplane_bucket over a
    DOUBLE[] column ``v`` (1-indexed): per plane p, fold Σ ±v[d] where the
    sign is the parity of ('0x'||substr(md5('hp{p}:'||d),1,15))::BIGINT —
    identical md5 bytes and identical left-to-right double fold as Spark's
    F.aggregate, so bucket ids match bit-for-bit."""
    bits = []
    for p in range(n_planes):
        proj = (
            f"list_reduce(list_transform(range(len({v})), d -> "
            f"CASE WHEN ('0x' || substr(md5('hp{p}:' || CAST(d AS VARCHAR)), 1, 15))::BIGINT % 2 = 0 "
            f"THEN {v}[d + 1] ELSE -{v}[d + 1] END), (acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


# Shared CTE for the knn_join_* oracles: the same every-25th query/corpus
# split as _knn_split, vectors as DOUBLE[].
_KNN_SPLIT_CTE = """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 25 = 0),
c AS (SELECT vec_id AS neighbor_id, v AS cv FROM e WHERE vec_id % 25 <> 0)"""

# The 6-dp cosine between a query row (qv) and corpus row (cv) — identical
# rounding to knn_join's scored step.
_KNN_COS = _cos_sql("qv", "cv", 6)


def _hp_bucket_dyn_sql(v: str, np_subquery: str) -> str:
    """Dynamic-plane-count twin of :func:`_hp_bucket_sql`: the plane count
    comes from a scalar subquery instead of a Python literal, via nested
    list lambdas — same md5 parity signs, same left-to-right list_reduce
    double fold, so buckets match Spark's hyperplane_bucket bit-for-bit
    for whatever p the subquery yields."""
    return (
        f"list_sum(list_transform(range(0, {np_subquery}), pp -> "
        f"CASE WHEN list_reduce(list_transform(range(len({v})), d -> "
        f"CASE WHEN ('0x' || substr(md5('hp' || CAST(pp AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 15))::BIGINT % 2 = 0 "
        f"THEN {v}[d + 1] ELSE -{v}[d + 1] END), (acc, x) -> acc + x) > 0 "
        f"THEN 1 << pp ELSE 0 END))"
    )


def _sticky_oracle_ctes() -> str:
    """Shared CTE chain replaying assign_partitions_sticky in DuckDB,
    ending in a ``sticky`` CTE of (group, topic, partition, member) plus a
    ``valid`` CTE of still-valid prior ownership (used by the cooperative
    two-phase oracle)."""
    return f"""{MEMBERSHIP_CTE},
last AS (
  SELECT "group", member, action FROM m
  QUALIFY row_number() OVER (PARTITION BY "group", member ORDER BY ts DESC, event_id DESC) = 1
),
mem AS (
  SELECT "group", member,
         row_number() OVER (PARTITION BY "group" ORDER BY member) - 1 AS midx,
         count(*) OVER (PARTITION BY "group") AS nm
  FROM last WHERE action <> 'leave'
),
memg AS (
  SELECT "group", member,
         row_number() OVER (PARTITION BY "group" ORDER BY member) - 1 AS midx,
         count(*) OVER (PARTITION BY "group") AS nm
  FROM (SELECT "group", member FROM mem
        UNION ALL SELECT DISTINCT "group", 'zz-departed' FROM mem)
),
parts AS (SELECT DISTINCT 'events' AS topic, CAST(user_id % 8 AS INT) AS "partition" FROM events),
p AS (
  SELECT topic, "partition",
         row_number() OVER (ORDER BY topic, "partition") - 1 AS gidx
  FROM parts
),
gg AS (SELECT DISTINCT "group", nm FROM memg),
prior AS (
  SELECT a."group", a.topic, a."partition", memg.member
  FROM (SELECT gg."group", p.topic, p."partition", p.gidx % gg.nm AS midx
        FROM p CROSS JOIN gg) a
  JOIN memg ON memg."group" = a."group" AND memg.midx = a.midx
),
np AS (SELECT count(*) AS np FROM p),
valid AS (
  SELECT v."group", v.topic, v."partition", v.member
  FROM prior v JOIN mem ON mem."group" = v."group" AND mem.member = v.member
),
owned AS (SELECT "group", member, count(*) AS owned FROM valid GROUP BY 1, 2),
quotas AS (
  SELECT mem."group", mem.member, mem.midx,
         (np.np // mem.nm)
         + CASE WHEN row_number() OVER (PARTITION BY mem."group"
                  ORDER BY coalesce(owned.owned, 0) DESC, mem.member)
                <= (np.np % mem.nm) THEN 1 ELSE 0 END AS allowed
  FROM mem CROSS JOIN np LEFT JOIN owned
    ON owned."group" = mem."group" AND owned.member = mem.member
),
retained AS (
  SELECT v."group", v.topic, v."partition", v.member FROM (
    SELECT v.*, q.allowed,
           row_number() OVER (PARTITION BY v."group", v.member
                              ORDER BY v.topic, v."partition") AS rr
    FROM valid v JOIN quotas q ON q."group" = v."group" AND q.member = v.member
  ) v WHERE v.rr <= v.allowed
),
kept AS (SELECT "group", member, count(*) AS kept FROM retained GROUP BY 1, 2),
cap AS (
  SELECT "group", member, hi - deficit AS lo, hi FROM (
    SELECT q."group", q.member, q.allowed - coalesce(k.kept, 0) AS deficit,
           sum(q.allowed - coalesce(k.kept, 0)) OVER (
             PARTITION BY q."group" ORDER BY q.midx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
    FROM quotas q LEFT JOIN kept k ON k."group" = q."group" AND k.member = q.member
  )
),
unassigned AS (
  SELECT u.*, row_number() OVER (PARTITION BY u."group"
                                 ORDER BY u.topic, u."partition") AS ur
  FROM (
    SELECT gg."group", p.topic, p."partition" FROM p CROSS JOIN gg
    ANTI JOIN retained r
      ON r."group" = gg."group" AND r.topic = p.topic AND r."partition" = p."partition"
  ) u
),
sticky AS (
  SELECT "group", topic, "partition", member FROM retained
  UNION ALL
  SELECT u."group", u.topic, u."partition", c.member
  FROM unassigned u JOIN cap c ON c."group" = u."group" AND u.ur > c.lo AND u.ur <= c.hi
)"""


# ===================================================================== #
# entry — flagship smoke query (sf0.001)
# ===================================================================== #


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ingest events as a partitioned offset-addressed log, fetch
    an offset range back (M0 end-to-end: PRODUCE → offsets → FETCH)."""
    lt = _log(spark, "/root/testdata/sf0.001")
    return lt.fetch(partition=3, start_offset=10, max_records=30).select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        F.expr(_MS.format(c="timestamp")).alias("ts_ms"),
        "partition",
        "offset",
    )


# ===================================================================== #
# queries — each Spark builder under its DuckDB @oracle
# ===================================================================== #


@oracle(f"""WITH {LOG_CTE}
SELECT key, value, {_DUCK_MS.format(c='"timestamp"')} AS ts_ms, "partition", "offset"
FROM log WHERE "partition" = 3 AND "offset" >= 10 AND "offset" < 40""")
def q_log_fetch(spark, sf_dir):
    return _log(spark, sf_dir).fetch(3, 10, max_records=30).select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        F.expr(_MS.format(c="timestamp")).alias("ts_ms"),
        "partition",
        "offset",
    )


@oracle(f"""WITH {LOG_CTE}
SELECT "partition", count(*) AS n_records,
       CAST(sum(strlen(key) + strlen(value)) AS BIGINT) AS record_bytes,
       min("offset") AS log_start_offset,
       max("offset") + 1 AS log_end_offset,
       min({_DUCK_MS.format(c='"timestamp"')}) AS earliest_ms,
       max({_DUCK_MS.format(c='"timestamp"')}) AS latest_ms
FROM log GROUP BY "partition\"""")
def q_describe_log(spark, sf_dir):
    """DESCRIBE_LOG_DIRS-style per-partition size/health report."""
    from starlight_for_kafka_spark.sources.logtable import describe_log

    out = describe_log(_log(spark, sf_dir).df)
    return out.select(
        "partition", "n_records", "record_bytes",
        "log_start_offset", "log_end_offset",
        F.expr(_MS.format(c="earliest_ts")).alias("earliest_ms"),
        F.expr(_MS.format(c="latest_ts")).alias("latest_ms"),
    )


@oracle("""SELECT user_id, count(*) AS n,
       CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM events) AS share
FROM events GROUP BY user_id
ORDER BY n DESC, user_id LIMIT 10""")
def q_heavy_hitters(spark, sf_dir):
    """Skew diagnostic: top-10 users by record share (run before salting)."""
    from starlight_for_kafka_spark.operators.skew import heavy_hitters

    events = load_table(spark, sf_dir, "events")
    return heavy_hitters(events.select("user_id"), ["user_id"], k=10)


@oracle(f"""WITH {LOG_CTE}
SELECT "partition", "offset", {_DUCK_MS.format(c='"timestamp"')} AS ts_ms FROM log
QUALIFY row_number() OVER (PARTITION BY "partition"
                           ORDER BY "timestamp" DESC, "offset") = 1""")
def q_list_offsets_max_ts(spark, sf_dir):
    """LIST_OFFSETS MAX_TIMESTAMP (KIP-734): per partition, the offset
    carrying the max timestamp (min offset on ties)."""
    return _log(spark, sf_dir).max_timestamp_offsets().select(
        "partition", "offset", F.expr(_MS.format(c="timestamp")).alias("ts_ms")
    )


@oracle(f"""WITH {LOG_CTE},
r AS (
  SELECT "partition", CAST(key AS BIGINT) % 16 AS pid, "offset",
         CAST(row_number() OVER (PARTITION BY "partition", CAST(key AS BIGINT) % 16
                                 ORDER BY "offset") - 1 AS INT) AS seq
  FROM log
),
k AS (SELECT * FROM r WHERE seq % 13 <> 7)
SELECT "partition", pid, "offset", seq,
       coalesce(lag(seq) OVER (PARTITION BY "partition", pid ORDER BY "offset") + 1, 0)
         AS expected_seq
FROM k
QUALIFY seq <> expected_seq""")
def q_txn_sequence_gaps(spark, sf_dir):
    """OutOfOrderSequence detection: per-partition producer sequences with
    every 13th record dropped; the validator must flag exactly the
    successors of the holes."""
    from pyspark.sql import Window

    log = _log(spark, sf_dir).df
    pid = (F.col("key").cast("string").cast("long") % 16).alias("pid")
    w = Window.partitionBy("partition", "pid").orderBy("offset")
    r = log.select("partition", pid, "offset").withColumn(
        "seq", (F.row_number().over(w) - 1).cast("int")
    )
    kept = r.filter(F.col("seq") % 13 != 7)
    return tx_ops.sequence_gaps(kept)


@oracle(f"""WITH {LOG_CTE},
f AS (
  SELECT "partition", "offset", strlen(key) + strlen(value) AS n_bytes,
         sum(strlen(key) + strlen(value)) OVER (ORDER BY "offset"
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         row_number() OVER (ORDER BY "offset") AS rn
  FROM log WHERE "partition" = 2 AND "offset" >= 5
)
SELECT "partition", "offset", n_bytes FROM f WHERE cum <= 300 OR rn = 1""")
def q_fetch_max_bytes(spark, sf_dir):
    """KIP-74 bounded fetch: records from offset 5 of partition 2 while
    cumulative RECORD bytes (key + value, the same accounting Kafka's
    max.bytes uses — sources/logtable.py:record_size) stay within 300;
    first record always served."""
    from starlight_for_kafka_spark.sources.logtable import record_size

    return _log(spark, sf_dir).fetch(2, 5, max_bytes=300).select(
        "partition", "offset", record_size().alias("n_bytes")
    )


@oracle(f"""WITH {LOG_CTE},
req AS (SELECT * FROM (VALUES (0, 5, 10), (1, 1, 0), (2, 7, 3)) AS t(ridx, p, so)),
cand AS (
  SELECT r.ridx, l."partition", l."offset", l.key,
         strlen(l.key) + strlen(l.value) AS sz
  FROM log l JOIN req r ON l."partition" = r.p AND l."offset" >= r.so
),
cum AS (
  SELECT *, sum(sz) OVER (ORDER BY ridx, "offset"
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
         row_number() OVER (ORDER BY ridx, "offset") AS rn
  FROM cand
)
SELECT ridx, "partition", "offset", key FROM cum WHERE c <= 4000 OR rn = 1""")
def q_fetch_response_budget(spark, sf_dir):
    """Multi-partition FETCH under ONE response byte budget (KIP-74 /
    MessageFetchContext): partitions served in request order, records
    accrue while cumulative response bytes fit, first record always
    returned. The oracle replays the cumulative-budget math in SQL."""
    return _log(spark, sf_dir).fetch_multi(
        [(5, 10), (1, 0), (7, 3)], response_max_bytes=4000
    ).select(
        "ridx", "partition", "offset",
        F.col("key").cast("string").alias("key"),
    )


@oracle(f"""WITH {LOG_CTE}
SELECT "partition", count(*) AS n_records, min("offset") AS min_offset, max("offset") AS max_offset
FROM log GROUP BY "partition\"""")
def q_produce_offsets_dense(spark, sf_dir):
    return _log(spark, sf_dir).df.groupBy("partition").agg(
        F.count("*").alias("n_records"),
        F.min("offset").alias("min_offset"),
        F.max("offset").alias("max_offset"),
    )


@oracle("""SELECT CAST(user_id % 8 AS INT) AS partition,
       row_number() OVER (PARTITION BY user_id % 8
                          ORDER BY (event_id % 2), event_id) - 1 AS offset,
       props
FROM events""")
def q_commitlog_append(spark, sf_dir):
    """Optimistic-commit log (CommittedLog): two sequential appends (even
    event_ids, then odd) through the manifest protocol, read back via the
    snapshot — offsets must be dense per partition with batch 1 wholly
    before batch 2, exactly what a leaderless multi-writer log must
    guarantee (Delta-style commit replacing the broker's partition leader,
    reference storage/PartitionLog.java:538)."""
    import os
    import shutil

    from starlight_for_kafka_spark.sources import CommittedLog

    ev = load_table(spark, sf_dir, "events")
    records = ev.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.col("props").cast("binary").alias("value"),
        F.array().cast("array<struct<key:string,value:binary>>").alias("headers"),
        F.col("ts").alias("timestamp"),
        (F.col("user_id") % N_PARTITIONS).cast("int").alias("partition"),
        F.col("event_id"),
    )
    # deterministic per-SF path, recreated per run: repeated sweeps reuse
    # one directory instead of leaking an events-sized log copy each call
    root = os.path.join(
        "/tmp", f"sfk_commitlog_q_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    shutil.rmtree(root, ignore_errors=True)
    log = CommittedLog(root)
    # the two sequential appends (even event_ids = version 0, odd =
    # version 1) fused into ONE job chain (append_batches): one
    # window+write instead of two, with each version's counts read from
    # the staged parquet footers. Batch order/column make the
    # assignment identical — within a partition the window orders by
    # (parity, event_id), so even rows take offsets 0..n_even-1 and odd
    # rows continue from there, exactly what the two appends assigned;
    # the log still lands as two manifest versions in the same order.
    log.append_batches(
        records.withColumn("__parity", (F.col("event_id") % 2).cast("int")),
        batch_col="__parity",
        order_col="event_id",
    )
    return log.read(spark).select(
        "partition", "offset", F.col("value").cast("string").alias("props")
    )


@oracle(f"""WITH {LOG_CTE}
SELECT "partition", min("offset") AS earliest, max("offset") + 1 AS log_end_offset
FROM log GROUP BY "partition\"""")
def q_list_offsets(spark, sf_dir):
    lt = _log(spark, sf_dir)
    return lt.df.groupBy("partition").agg(
        F.min("offset").alias("earliest"),
        (F.max("offset") + 1).alias("log_end_offset"),
    )


@oracle(f"""WITH {LOG_CTE}
SELECT "partition", min("offset") AS "offset"
FROM log WHERE "timestamp" >= TIMESTAMP '2024-01-15 00:00:00' GROUP BY "partition\"""")
def q_offsets_for_times(spark, sf_dir):
    return _log(spark, sf_dir).offsets_for_times(TS_CUTOFF)


@oracle(f"""WITH {LOG_CTE}
SELECT "partition", count(*) AS n_records, min("offset") AS min_offset
FROM log WHERE "offset" >= 10 GROUP BY "partition\"""")
def q_truncate_before(spark, sf_dir):
    t = _log(spark, sf_dir).truncate_before(10)
    return t.df.groupBy("partition").agg(
        F.count("*").alias("n_records"), F.min("offset").alias("min_offset")
    )


@oracle(f"""WITH {LOG_CTE}
SELECT "partition", count(*) AS n_records, min("offset") AS min_offset, max("offset") AS max_offset
FROM log WHERE "timestamp" >= TIMESTAMP '2024-01-15 00:00:00'
GROUP BY "partition\"""")
def q_log_retention(spark, sf_dir):
    """retention.ms as a sweep: per-partition surviving span after dropping
    records older than the horizon."""
    kept = _log(spark, sf_dir).retain_since(TS_CUTOFF)
    return kept.df.groupBy("partition").agg(
        F.count("*").alias("n_records"),
        F.min("offset").alias("min_offset"),
        F.max("offset").alias("max_offset"),
    )


@oracle(f"""WITH {COMMITS_CTE}
SELECT "group", topic, "partition", "offset", metadata, {_DUCK_MS.format(c='commit_ts')} AS commit_ts_ms
FROM commits
QUALIFY row_number() OVER (PARTITION BY "group", topic, "partition" ORDER BY commit_ts DESC, "offset" DESC) = 1""")
def q_offset_commit_compact(spark, sf_dir):
    commits = group_ops.derive_commits_from_events(load_table(spark, sf_dir, "events"))
    return group_ops.committed_offsets(commits).select(
        "group", "topic", "partition", "offset", "metadata",
        F.expr(_MS.format(c="commit_ts")).alias("commit_ts_ms"),
    )


@oracle(f"""WITH {COMMITS_CTE}
SELECT "group", topic, "partition", "offset"
FROM commits WHERE "group" = 'g1'
QUALIFY row_number() OVER (PARTITION BY "group", topic, "partition" ORDER BY commit_ts DESC, "offset" DESC) = 1""")
def q_offset_fetch_g1(spark, sf_dir):
    commits = group_ops.derive_commits_from_events(load_table(spark, sf_dir, "events"))
    return group_ops.offset_fetch(commits, "g1").select(
        "group", "topic", "partition", "offset"
    )


@oracle(f"""WITH {COMMITS_CTE}
SELECT "group",
       count(DISTINCT topic) AS n_topics,
       count(DISTINCT (topic, "partition")) AS n_partitions,
       {_DUCK_MS.format(c='max(commit_ts)')} AS last_commit_ts_ms,
       count(*) AS n_commits
FROM commits GROUP BY "group\"""")
def q_describe_groups(spark, sf_dir):
    commits = group_ops.derive_commits_from_events(load_table(spark, sf_dir, "events"))
    return group_ops.describe_groups(commits).select(
        "group", "n_topics", "n_partitions",
        F.expr(_MS.format(c="last_commit_ts")).alias("last_commit_ts_ms"),
        "n_commits",
    )


@oracle(f"""WITH {LOG_CTE}, {COMMITS_CTE.strip()}
, compacted AS (
  SELECT "group", topic, "partition", "offset" FROM commits
  QUALIFY row_number() OVER (PARTITION BY "group", topic, "partition" ORDER BY commit_ts DESC, "offset" DESC) = 1
), ends AS (
  SELECT "partition", max("offset") + 1 AS log_end_offset FROM log GROUP BY "partition"
)
SELECT c."group", c.topic, c."partition", c."offset", e.log_end_offset,
       e.log_end_offset - c."offset" - 1 AS lag
FROM compacted c LEFT JOIN ends e USING ("partition")""")
def q_consumer_lag(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    commits = group_ops.derive_commits_from_events(events)
    return group_ops.consumer_lag(commits, _log(spark, sf_dir).latest_offsets())


@oracle(f"""WITH {COMMITS_CTE}
SELECT DISTINCT "group",
       ('0x' || substr(md5("group"), 1, 15))::BIGINT % 50 AS coordinator_partition
FROM commits""")
def q_find_coordinator(spark, sf_dir):
    commits = group_ops.derive_commits_from_events(load_table(spark, sf_dir, "events"))
    return group_ops.list_groups(commits).select(
        "group", (md5_hash64(F.col("group")) % 50).alias("coordinator_partition")
    )


@oracle(f"""WITH {TXN_CTE}
SELECT t."partition", t."offset", t.pid, t.seq
FROM txn3 t JOIN lso USING ("partition")
WHERE t."offset" < lso.last_stable_offset AND t.txn_status <> 'abort'""")
def q_txn_read_committed(spark, sf_dir):
    # No materialization barrier: read_committed's summary subtree now
    # exists once in the plan, so the fixture window runs twice (summary +
    # scan) — still cheaper than eagerly checkpointing the full log, which
    # was the round-3 bench-drift root cause (2.6s -> ~1.0s at sf0.1).
    txn_log = tx_ops.derive_txn_log(_log(spark, sf_dir).df)
    return tx_ops.read_committed(txn_log).select("partition", "offset", "pid", "seq")


# NOTE: deliberately a RECURSIVE-CTE fold, not list_reduce —
# DuckDB 1.0's vectorized list_reduce returns wrong results when
# folding struct accumulators across MULTIPLE groups in one query
# (verified: correct for any single tid, wrong for 12); the
# recursion also keeps the oracle independent of the Spark
# higher-order-aggregate implementation.
@oracle("""WITH RECURSIVE ev AS (
  SELECT 'txn-' || CAST(user_id % 12 AS VARCHAR) AS tid, ts, event_id,
         CASE CAST(event_id % 5 AS INT) WHEN 0 THEN 'init' WHEN 1 THEN 'add_partitions'
              WHEN 2 THEN 'add_offsets' WHEN 3 THEN 'end_commit' ELSE 'end_abort' END AS a
  FROM events
), steps AS (
  SELECT tid, a, row_number() OVER (PARTITION BY tid ORDER BY ts, event_id, a) AS i FROM ev
), n AS (
  SELECT tid, max(i) AS m FROM steps GROUP BY tid
), fold AS (
  SELECT tid, 0 AS i, 0 AS state, 0 AS epochs, 0 AS committed, 0 AS aborted, 0 AS invalid FROM n
  UNION ALL
  SELECT f.tid, f.i + 1,
         CASE WHEN s.a = 'init' THEN 0
              WHEN s.a IN ('add_partitions', 'add_offsets') AND f.epochs > 0 THEN 1
              WHEN s.a = 'end_commit' AND f.state = 1 THEN 2
              WHEN s.a = 'end_abort' AND f.state = 1 THEN 3
              ELSE f.state END,
         f.epochs + CASE WHEN s.a = 'init' THEN 1 ELSE 0 END,
         f.committed + CASE WHEN s.a = 'end_commit' AND f.state = 1 THEN 1 ELSE 0 END,
         f.aborted + CASE WHEN s.a = 'end_abort' AND f.state = 1 THEN 1 ELSE 0 END
                   + CASE WHEN s.a = 'init' AND f.state = 1 THEN 1 ELSE 0 END,
         f.invalid + CASE WHEN (s.a IN ('add_partitions', 'add_offsets') AND f.epochs = 0)
                           OR (s.a IN ('end_commit', 'end_abort') AND f.state <> 1) THEN 1 ELSE 0 END
  FROM fold f JOIN steps s ON s.tid = f.tid AND s.i = f.i + 1
)
SELECT f.tid AS transactional_id,
       ['Empty', 'Ongoing', 'CompleteCommit', 'CompleteAbort'][f.state + 1] AS final_state,
       f.epochs AS epochs, f.committed AS n_committed,
       f.aborted AS n_aborted, f.invalid AS n_invalid
FROM fold f JOIN n ON n.tid = f.tid AND f.i = n.m""")
def q_txn_state_machine(spark, sf_dir):
    """Coordinator state-machine replay per transactional id: deterministic
    action grammar from the events table, folded by the in-row automaton
    (invalid transitions counted, fencing aborts in-flight txns)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.concat(F.lit("txn-"), (F.col("user_id") % 12).cast("string")).alias(
            "transactional_id"
        ),
        "ts", "event_id",
        F.element_at(
            F.array(
                F.lit("init"), F.lit("add_partitions"), F.lit("add_offsets"),
                F.lit("end_commit"), F.lit("end_abort"),
            ),
            (F.col("event_id") % 5).cast("int") + 1,
        ).alias("action"),
    )
    return tx_ops.txn_state_machine(ev)


@oracle(f"""WITH {TXN_CTE}
SELECT "partition", pid, txn_group, min("offset") AS first_offset, max("offset") AS last_offset
FROM txn3 WHERE txn_status = 'abort' GROUP BY "partition", pid, txn_group""")
def q_txn_aborted_index(spark, sf_dir):
    txn_log = tx_ops.derive_txn_log(_log(spark, sf_dir).df)
    return tx_ops.aborted_txn_index(txn_log)


@oracle(f"""WITH {TXN_CTE}
SELECT * FROM (
  SELECT "partition", pid, txn_group,
         min("offset") AS first_offset, max("offset") AS last_offset
  FROM txn3 WHERE txn_status = 'abort' GROUP BY "partition", pid, txn_group
) WHERE last_offset >= 40""")
def q_txn_purge_aborted(spark, sf_dir):
    """Aborted-index compaction after truncation at offset 40: spans wholly
    below the new log start offset drop out of the read-committed
    broadcast side (PartitionLog.updatePurgeAbortedTxnsOffset:1102)."""
    log = _log(spark, sf_dir)
    txn_log = tx_ops.derive_txn_log(log.df)
    aborted = tx_ops.aborted_txn_index(txn_log)
    starts = log.df.select("partition").distinct().withColumn(
        "log_start_offset", F.lit(40).cast("long")
    )
    return tx_ops.purge_aborted_txns(aborted, starts)


@oracle(f"""WITH {TXN_CTE}
SELECT * FROM lso""")
def q_txn_last_stable_offsets(spark, sf_dir):
    return tx_ops.last_stable_offsets(tx_ops.derive_txn_log(_log(spark, sf_dir).df))


@oracle(f"""WITH {TXN_CTE}
SELECT "partition", "offset", pid, seq FROM txn3""")
def q_txn_idempotent_dedupe(spark, sf_dir):
    txn_log = tx_ops.derive_txn_log(_log(spark, sf_dir).df)
    dups = txn_log.filter(F.col("seq") % 5 == 0).withColumn(
        "offset", F.col("offset") + 1_000_000
    )
    return tx_ops.idempotent_dedupe(txn_log.unionByName(dups)).select(
        "partition", "offset", "pid", "seq"
    )


@oracle(f"""WITH {TXN_CTE}
SELECT "partition", pid, 0 AS producer_epoch, max(seq) AS last_sequence,
       max("offset") AS last_offset, count(*) AS n_records
FROM txn3 GROUP BY "partition", pid""")
def q_txn_describe_producers(spark, sf_dir):
    return tx_ops.describe_producers(tx_ops.derive_txn_log(_log(spark, sf_dir).df))


@oracle(f"""WITH {TXN_CTE}
SELECT pid, txn_group, max(txn_status) AS txn_status,
       min("offset") AS first_offset, max("offset") AS last_offset, count(*) AS n_records
FROM txn3 GROUP BY pid, txn_group""")
def q_txn_list_transactions(spark, sf_dir):
    return tx_ops.list_transactions(tx_ops.derive_txn_log(_log(spark, sf_dir).df))


@oracle("""WITH RECURSIVE ev AS (
  SELECT 'txn-' || CAST(user_id % 12 AS VARCHAR) AS tid, ts, event_id,
         CASE CAST(event_id % 5 AS INT) WHEN 0 THEN 'init' WHEN 1 THEN 'add_partitions'
              WHEN 2 THEN 'add_offsets' WHEN 3 THEN 'end_commit' ELSE 'end_abort' END AS a,
         CAST(event_id % 8 AS INT) AS p,
         CAST(event_id % 97 + 100 AS BIGINT) AS pid,
         CAST(epoch_us(ts) // 1000 AS BIGINT) AS ts_ms
  FROM events
), steps AS (
  SELECT tid, a, p, pid, ts_ms,
         row_number() OVER (PARTITION BY tid ORDER BY ts, event_id, a) AS i FROM ev
), n AS (
  SELECT tid, max(i) AS m FROM steps GROUP BY tid
), fold AS (
  SELECT tid, 0 AS i, 0 AS state, 0 AS epochs, CAST(NULL AS BIGINT) AS pid,
         CAST([] AS INT[]) AS parts, CAST(NULL AS BIGINT) AS start_ts FROM n
  UNION ALL
  SELECT f.tid, f.i + 1,
         CASE WHEN s.a = 'init' THEN 0
              WHEN s.a IN ('add_partitions', 'add_offsets') AND f.epochs > 0 THEN 1
              WHEN s.a = 'end_commit' AND f.state = 1 THEN 2
              WHEN s.a = 'end_abort' AND f.state = 1 THEN 3
              ELSE f.state END,
         f.epochs + CASE WHEN s.a = 'init' THEN 1 ELSE 0 END,
         CASE WHEN s.a = 'init' THEN s.pid ELSE f.pid END,
         CASE WHEN s.a = 'init' OR (s.a IN ('end_commit', 'end_abort') AND f.state = 1)
                THEN CAST([] AS INT[])
              WHEN s.a IN ('add_partitions', 'add_offsets') AND f.epochs > 0 THEN
                CASE WHEN list_contains(f.parts,
                            CASE WHEN s.a = 'add_offsets' THEN -1 ELSE s.p END)
                     THEN f.parts
                     ELSE list_append(f.parts,
                            CASE WHEN s.a = 'add_offsets' THEN -1 ELSE s.p END) END
              ELSE f.parts END,
         CASE WHEN s.a IN ('add_partitions', 'add_offsets') AND f.epochs > 0
                   AND f.state <> 1 THEN s.ts_ms
              WHEN s.a = 'init' THEN CAST(NULL AS BIGINT)
              ELSE f.start_ts END
  FROM fold f JOIN steps s ON s.tid = f.tid AND s.i = f.i + 1
)
SELECT f.tid AS transactional_id, f.pid AS producer_id,
       CAST(f.epochs - 1 AS INT) AS producer_epoch,
       ['Empty', 'Ongoing', 'CompleteCommit', 'CompleteAbort'][f.state + 1]
         AS transaction_state,
       f.start_ts AS txn_start_ts_ms,
       CAST(len(f.parts) AS INT) AS n_partitions,
       coalesce(array_to_string(list_sort(f.parts), ','), '') AS partitions
FROM fold f JOIN n ON n.tid = f.tid AND f.i = n.m""")
def q_txn_describe_transactions(spark, sf_dir):
    """DESCRIBE_TRANSACTIONS per-id detail (TransactionCoordinator.java:
    250-306): same deterministic coordinator-event grammar as
    txn_state_machine, extended with a partition payload on add events and
    a pid payload on init events; the fold emits producer id/epoch, admin
    state, txn start time, and the registered-partition set of the current
    transaction."""
    ev = load_table(spark, sf_dir, "events").select(
        F.concat(F.lit("txn-"), (F.col("user_id") % 12).cast("string")).alias(
            "transactional_id"
        ),
        "ts", "event_id",
        F.element_at(
            F.array(
                F.lit("init"), F.lit("add_partitions"), F.lit("add_offsets"),
                F.lit("end_commit"), F.lit("end_abort"),
            ),
            (F.col("event_id") % 5).cast("int") + 1,
        ).alias("action"),
        (F.col("event_id") % 8).cast("int").alias("partition"),
        (F.col("event_id") % 97 + 100).cast("long").alias("pid"),
    )
    return tx_ops.describe_transactions(ev)


# coordinator-janitor fixture: now = 2024-01-31T00:00:00Z (just past the
# events horizon); txn timeout 12 days (opens started before Jan 19 abort,
# later ones survive — both classes nonempty at every SF); transactional-id
# expiration 1 hour (the idle tail of the per-id last-update distribution
# expires, the active head is retained)
JANITOR_NOW_MS = 1_706_659_200_000
TXN_TIMEOUT_MS = 1_036_800_000
TXN_ID_EXPIRATION_MS = 3_600_000


@oracle(f"""WITH {TXN_CTE},
tstart AS (
  SELECT pid, txn_group,
         min(CAST(epoch_us("timestamp") // 1000 AS BIGINT)) AS start_ms
  FROM txn3 WHERE txn_status = 'open' GROUP BY pid, txn_group
),
sweep AS (
  SELECT pid, txn_group FROM tstart
  WHERE start_ms + {TXN_TIMEOUT_MS} < {JANITOR_NOW_MS}
),
flipped AS (
  SELECT t."partition", t.pid, t.txn_group, t."offset",
         CASE WHEN s.pid IS NOT NULL THEN 'abort' ELSE t.txn_status END AS st
  FROM txn3 t LEFT JOIN sweep s ON s.pid = t.pid AND s.txn_group = t.txn_group
)
SELECT "partition", pid, txn_group,
       min("offset") AS first_offset, max("offset") AS last_offset
FROM flipped WHERE st = 'abort' GROUP BY "partition", pid, txn_group""")
def q_txn_timeout_abort(spark, sf_dir):
    """Coordinator timeout-abort sweep (TransactionCoordinator.java:1034):
    open transactions older than transaction.timeout.ms flip to aborted;
    the aborted-txn index then carries their spans, so read-committed
    consumers advance past a dead producer's records."""
    txn_log = tx_ops.derive_txn_log(_log(spark, sf_dir).df)
    swept = tx_ops.abort_timed_out_transactions(
        txn_log, JANITOR_NOW_MS, TXN_TIMEOUT_MS
    )
    return tx_ops.aborted_txn_index(swept)


@oracle("""WITH RECURSIVE ev AS (
  SELECT 'txn-' || CAST(user_id % 12 AS VARCHAR) AS tid, ts, event_id,
         CASE CAST(event_id % 5 AS INT) WHEN 0 THEN 'init' WHEN 1 THEN 'add_partitions'
              WHEN 2 THEN 'add_offsets' WHEN 3 THEN 'end_commit' ELSE 'end_abort' END AS a
  FROM events
), steps AS (
  SELECT tid, a, row_number() OVER (PARTITION BY tid ORDER BY ts, event_id, a) AS i FROM ev
), n AS (
  SELECT tid, max(i) AS m FROM steps GROUP BY tid
), fold AS (
  SELECT tid, 0 AS i, 0 AS state, 0 AS epochs, 0 AS committed, 0 AS aborted, 0 AS invalid FROM n
  UNION ALL
  SELECT f.tid, f.i + 1,
         CASE WHEN s.a = 'init' THEN 0
              WHEN s.a IN ('add_partitions', 'add_offsets') AND f.epochs > 0 THEN 1
              WHEN s.a = 'end_commit' AND f.state = 1 THEN 2
              WHEN s.a = 'end_abort' AND f.state = 1 THEN 3
              ELSE f.state END,
         f.epochs + CASE WHEN s.a = 'init' THEN 1 ELSE 0 END,
         f.committed + CASE WHEN s.a = 'end_commit' AND f.state = 1 THEN 1 ELSE 0 END,
         f.aborted + CASE WHEN s.a = 'end_abort' AND f.state = 1 THEN 1 ELSE 0 END
                   + CASE WHEN s.a = 'init' AND f.state = 1 THEN 1 ELSE 0 END,
         f.invalid + CASE WHEN (s.a IN ('add_partitions', 'add_offsets') AND f.epochs = 0)
                           OR (s.a IN ('end_commit', 'end_abort') AND f.state <> 1) THEN 1 ELSE 0 END
  FROM fold f JOIN steps s ON s.tid = f.tid AND s.i = f.i + 1
), last AS (
  SELECT tid, max(CAST(epoch_us(ts) // 1000 AS BIGINT)) AS last_update_ms
  FROM ev GROUP BY tid
)
SELECT f.tid AS transactional_id,
       ['Empty', 'Ongoing', 'CompleteCommit', 'CompleteAbort'][f.state + 1] AS final_state,
       f.epochs AS epochs, f.committed AS n_committed,
       f.aborted AS n_aborted, f.invalid AS n_invalid,
       l.last_update_ms AS last_update_ms,
       (f.state <> 1 AND l.last_update_ms + 3600000 < 1706659200000) AS expired
FROM fold f JOIN n ON n.tid = f.tid AND f.i = n.m
JOIN last l ON l.tid = f.tid""")
def q_txn_id_expiry(spark, sf_dir):
    """Transactional-id expiration (TransactionConfig.java:51): idle
    non-Ongoing ids past transactional.id.expiration.ms are flagged for
    purge from coordinator state — the txn-side twin of offset expiry."""
    ev = load_table(spark, sf_dir, "events").select(
        F.concat(F.lit("txn-"), (F.col("user_id") % 12).cast("string")).alias(
            "transactional_id"
        ),
        "ts", "event_id",
        F.element_at(
            F.array(
                F.lit("init"), F.lit("add_partitions"), F.lit("add_offsets"),
                F.lit("end_commit"), F.lit("end_abort"),
            ),
            (F.col("event_id") % 5).cast("int") + 1,
        ).alias("action"),
    )
    return tx_ops.expire_transactional_ids(
        ev, JANITOR_NOW_MS, TXN_ID_EXPIRATION_MS
    )


@oracle("SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type")
def q_keyed_count(spark, sf_dir):
    return win_ops.keyed_count(load_table(spark, sf_dir, "events"), "event_type")


@oracle("""SELECT user_id,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       count(*) AS cnt
FROM events GROUP BY user_id""")
def q_keyed_reduce(spark, sf_dir):
    return win_ops.keyed_reduce(
        load_table(spark, sf_dir, "events"),
        ["user_id"],
        [_dec_sum("value").alias("total_value"), F.count("*").alias("cnt")],
    )


@oracle("""SELECT event_type, count(*) AS cnt,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       (epoch_us(ts) // 1000) - ((epoch_us(ts) // 1000) % 3600000) AS window_start_ms,
       (epoch_us(ts) // 1000) - ((epoch_us(ts) // 1000) % 3600000) + 3600000 AS window_end_ms
FROM events GROUP BY event_type, window_start_ms, window_end_ms""")
def q_tumbling_window_1h(spark, sf_dir):
    return win_ops.tumbling_window_agg(
        load_table(spark, sf_dir, "events"),
        "ts",
        "1 hour",
        ["event_type"],
        [F.count("*").alias("cnt"), _dec_sum("value").alias("total_value")],
    )


@oracle(f"""WITH e AS (
  SELECT user_id, ts, epoch_us(ts) // 1000 AS ms,
         lag(epoch_us(ts) // 1000) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ms
  FROM events
), s AS (
  SELECT user_id, ms,
         CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > {SESSION_GAP_MS} THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM e
)
SELECT user_id, session_id, min(ms) AS session_start_ms, max(ms) AS session_end_ms, count(*) AS cnt
FROM s GROUP BY user_id, session_id""")
def q_session_windows(spark, sf_dir):
    out = win_ops.session_window_agg(
        load_table(spark, sf_dir, "events"),
        ["user_id"],
        "ts",
        SESSION_GAP_MS,
        [F.count("*").alias("cnt")],
    )
    return out.withColumn("session_id", F.col("session_id").cast("long"))


@oracle(f"""WITH e AS (
  SELECT user_id, ts, value, event_id, epoch_us(ts) // 1000 AS ms,
         lag(epoch_us(ts) // 1000) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ms
  FROM events
), s AS (
  SELECT user_id, ms, value, event_id,
         CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > {SESSION_GAP_MS} THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM e
)
SELECT user_id, session_id, min(ms) AS session_start_ms, max(ms) AS session_end_ms,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       min(event_id) AS first_event
FROM s GROUP BY user_id, session_id""")
def q_session_reduce(spark, sf_dir):
    """Session-window REDUCE (shouldReduceSessionWindows,
    KStreamAggregationTest.java:550-621): value-sum per session, distinct
    from the count form."""
    out = win_ops.session_window_agg(
        load_table(spark, sf_dir, "events"),
        ["user_id"],
        "ts",
        SESSION_GAP_MS,
        [_dec_sum("value").alias("total_value"), F.min("event_id").alias("first_event")],
    )
    return out.withColumn("session_id", F.col("session_id").cast("long"))


@oracle(f"""WITH {LOG_CTE},
-- tombstone filter AFTER the latest-per-key pick: a null latest value
-- deletes the key (it must not resurrect an older non-null value)
latest AS (
  SELECT key, value, "offset" FROM log
  QUALIFY row_number() OVER (PARTITION BY key ORDER BY "partition" DESC, "offset" DESC) = 1
)
SELECT key, value, "offset" FROM latest WHERE value IS NOT NULL""")
def q_ktable_latest(spark, sf_dir):
    log = _log(spark, sf_dir).df.withColumn("key", F.col("key").cast("string"))
    return ktable_ops.ktable_latest(log, ["key"]).select(
        "key", F.col("value").cast("string").alias("value"), "offset"
    )


@oracle(f"""WITH {LOG_CTE},
latest AS (
  SELECT key, value FROM log
  QUALIFY row_number() OVER (PARTITION BY key ORDER BY "partition" DESC, "offset" DESC) = 1
),
live AS (SELECT key, value FROM latest WHERE value IS NOT NULL)
SELECT CAST(key AS BIGINT) % 5 AS grp,
       count(*) AS n_keys,
       CAST(sum(octet_length(CAST(value AS BLOB))) AS BIGINT) AS sum_len
FROM live GROUP BY 1""")
def q_table_aggregate(spark, sf_dir):
    """KGroupedTable.aggregate (KTable.groupBy + adder/subtractor): the
    latest-wins table re-keyed by key%5 and aggregated — batch form of the
    retraction-maintained Streams aggregate (the subtractor machinery
    vanishes once the compacted table is materialized first)."""
    log = _log(spark, sf_dir).df.withColumn("key", F.col("key").cast("string"))
    return ktable_ops.table_aggregate(
        log,
        ["key"],
        group_key=[(F.col("key").cast("long") % 5).alias("grp")],
        aggs=[
            F.count("*").alias("n_keys"),
            F.sum(F.octet_length("value")).alias("sum_len"),
        ],
    )


def _clicks(events):
    return events.select(
        "event_id", "event_type", (F.col("user_id") * 50).alias("ck")
    )


@oracle("""SELECT e.event_id, e.event_type, c.c_name, c.c_mktsegment
FROM (SELECT event_id, event_type, user_id * 50 AS ck FROM events) e
JOIN customer c ON e.ck = c.c_custkey""")
def q_global_join_inner(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    return ktable_ops.stream_global_table_join(
        _clicks(events), customer, F.col("ck"), "c_custkey", "inner"
    ).select("event_id", "event_type", "c_name", "c_mktsegment")


@oracle("""SELECT e.event_id, e.ck, c.c_name
FROM (SELECT event_id, user_id * 50 AS ck FROM events) e
LEFT JOIN customer c ON e.ck = c.c_custkey""")
def q_global_join_left(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    return ktable_ops.stream_global_table_join(
        _clicks(events), customer, F.col("ck"), "c_custkey", "left"
    ).select("event_id", "ck", "c_name")


@oracle("""SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(3,2))) * (1 + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) / count(*) AS avg_price,
  CAST(sum(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus""")
def q_q1_pricing_summary(spark, sf_dir):
    from starlight_for_kafka_spark.plans.spread import spread_if_narrow

    li = load_table(spark, sf_dir, "lineitem")
    disc = F.lit(1).cast("decimal(3,0)") - F.col("l_discount").cast("decimal(3,2)")
    charge = F.lit(1).cast("decimal(3,0)") + F.col("l_tax").cast("decimal(3,2)")
    price = F.col("l_extendedprice").cast("decimal(9,2)")
    # the 7-lane decimal partial aggregation is the heavy per-row leg;
    # on a 1-3-split parquet scan it serializes onto as many slots.
    # Spread AFTER the filter (shuffle survivors only; the scan predicate
    # still pushes through the exchange) keyed on l_shipdate — already in
    # the read set (~2,500 distinct days ≈ 78x the partition count) so
    # column pruning is untouched. Decimal sums are exact integer
    # arithmetic: regrouping cannot change any output bit.
    return (
        spread_if_narrow(
            li.filter(F.col("l_shipdate") <= F.lit(datetime.datetime(1998, 9, 2))),
            "l_shipdate",
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum("l_quantity", "12,2").alias("sum_qty"),
            _dec_sum("l_extendedprice", "12,2").alias("sum_base_price"),
            F.sum(price * disc).cast("double").alias("sum_disc_price"),
            F.sum(price * disc * charge).cast("double").alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(F.col("l_discount").cast("decimal(3,2)")).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@oracle("""SELECT o_orderkey,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey
LIMIT 10""")
def q_top_revenue_orders(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(9,2)") * (
        F.lit(1).cast("decimal(3,0)") - F.col("l_discount").cast("decimal(3,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@oracle(f"""WITH {DOCS_WITH_CLONES_CTE},
d AS (SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS dig FROM docs)
SELECT doc_id FROM d
QUALIFY row_number() OVER (PARTITION BY dig ORDER BY doc_id) = 1""")
def q_dedup_exact(spark, sf_dir):
    docs = _docs_with_clones(load_table(spark, sf_dir, "documents"))
    return dedup_ops.exact_dedup(docs).select("doc_id")


@oracle("""WITH corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, lang, text FROM documents WHERE doc_id % 10 = 0
), d AS (
  SELECT lang, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS dig FROM corpus
)
SELECT lang, count(*) AS n_docs, count(DISTINCT dig) AS n_distinct,
       count(*) - count(DISTINCT dig) AS n_dups,
       round((count(*) - count(DISTINCT dig)) / count(*), 6) AS dup_rate
FROM d GROUP BY lang""")
def q_dedup_stats(spark, sf_dir):
    """Per-language duplication diagnostics over a corpus with known
    exact clones — the health check run before a dedup pass."""
    docs = load_table(spark, sf_dir, "documents")
    clones = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    corpus = docs.select("doc_id", "lang", "text").unionByName(
        clones.select("doc_id", "lang", "text")
    )
    return dedup_ops.dedup_stats(corpus, "lang")


@oracle(f"""WITH {DOCS_WITH_NEAR_CTE},
w AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM docs
),
sets AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
           ELSE [] END) AS sh
  FROM w
),
postings AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sets),
shared AS (
  SELECT a.doc_id AS a, b.doc_id AS b, a.n AS na, b.n AS nb, count(*) AS inter
  FROM postings a JOIN postings b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT a, b, inter / (na + nb - inter) AS jaccard
FROM shared WHERE inter / (na + nb - inter) >= 0.6""")
def q_dedup_ngram_jaccard(spark, sf_dir):
    docs = _docs_with_near(load_table(spark, sf_dir, "documents"))
    return dedup_ops.ngram_jaccard_pairs(
        docs, threshold=0.6, shingle_k=3, shingle_mode="word"
    )


# minhash_dedup: drop any doc with a verified near-dup of smaller id.
@oracle(f"""WITH {_minhash_pipeline_cte()},
losers AS (SELECT DISTINCT b AS doc_id FROM ver)
SELECT d.doc_id FROM docs d ANTI JOIN losers l USING (doc_id)""")
def q_dedup_minhash(spark, sf_dir):
    # word 3-shingles (Broder-style w-shingling): ~6x fewer shingles than
    # char 5-grams on this corpus for the same near-dup separation
    docs = _docs_with_near(load_table(spark, sf_dir, "documents"))
    return dedup_ops.minhash_dedup(
        docs, num_hashes=16, bands=4, shingle_k=3, threshold=0.7,
        shingle_mode="word",
    ).select("doc_id")


@oracle(f"""WITH {_minhash_pipeline_cte(star_above=2)}
SELECT a, b FROM ver""")
def q_dedup_minhash_capped(spark, sf_dir):
    """The Σ cluster² guard rail composed into the MinHash pipeline
    (dedup.minhash_lsh_candidates star_above): LSH buckets above the
    threshold emit a STAR anchored at the bucket minimum — s−1 pairs, not
    s(s−1)/2 — bounding any duplicate cluster's pair emission linear in
    its size, THE capping a 100 TB corpus with mega-clusters needs.
    Emits the verified pair set itself (not the survivor list) so the
    oracle pins the capped emission topology byte-for-byte; star_above=2
    is far below production values purely so this corpus' size-3+ buckets
    actually exercise the star path."""
    docs = _docs_with_near(load_table(spark, sf_dir, "documents"))
    sigs = dedup_ops.minhash_signatures(
        docs, num_hashes=16, shingle_k=3, shingle_mode="word"
    )
    cands = dedup_ops.minhash_lsh_candidates(
        sigs, bands=4, num_hashes=16, star_above=2
    )
    return dedup_ops.jaccard_verify(
        docs, cands, shingle_k=3, threshold=0.7, shingle_mode="word"
    ).select("a", "b")


# split_leakage_safe: MinHash pipeline → transitive closure →
# per-component md5 split gate (same 98/1/1 thresholds as assign_split,
# hashed on the component representative).
@oracle(f"""WITH RECURSIVE {_MINHASH_COMPONENTS_CTE},
tagged AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
  FROM docs d LEFT JOIN comp c ON c.node = d.doc_id
)
SELECT doc_id, component,
       CASE WHEN b < 980000 THEN 'train'
            WHEN b < 990000 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, component,
         ('0x' || substr(md5('split42:' || CAST(component AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS b
  FROM tagged
)""")
def q_split_leakage_safe(spark, sf_dir):
    """Leakage-safe train/val/test split: the split hash runs on each
    doc's near-dup component representative (MinHash-LSH verified pairs →
    transitive closure), so a document and all its near-copies land in
    the same split — the composition that keeps held-out sets honest.
    Oracle replays the full MinHash pipeline + recursive-CTE closure +
    the same md5 bucket gate."""
    docs = _docs_with_near(load_table(spark, sf_dir, "documents"))
    sigs = dedup_ops.minhash_signatures(
        docs, num_hashes=16, shingle_k=3, shingle_mode="word"
    )
    cands = dedup_ops.minhash_lsh_candidates(sigs, bands=4, num_hashes=16)
    pairs = dedup_ops.jaccard_verify(
        docs, cands, shingle_k=3, threshold=0.7, shingle_mode="word"
    )
    out = sampling_ops.leakage_safe_split(docs, pairs)
    return out.select("doc_id", "component", "split")


@oracle(f"""WITH {_minhash_pipeline_cte()},
est AS (
  SELECT c.a, c.b,
         CAST(len(list_filter(range(1, 17), i -> sa.sg[i] = sb.sg[i])) AS DOUBLE) / 16 AS j_est
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.a
  JOIN sig sb ON sb.doc_id = c.b
)
SELECT a, b, j_est, j_est >= 0.5 AS near_dup FROM est""")
def q_minhash_jaccard_estimate(spark, sf_dir):
    """Signature-space Jaccard estimate for LSH candidate pairs (Broder'97
    unbiased estimator: fraction of agreeing minhash components) — the
    100 TB verify path that never re-reads document text. Oracle replays
    the identical signatures and compares component agreement."""
    docs = _docs_with_near(load_table(spark, sf_dir, "documents"))
    sigs = dedup_ops.minhash_signatures(
        docs, num_hashes=16, shingle_k=3, shingle_mode="word"
    )
    cands = dedup_ops.minhash_lsh_candidates(sigs, bands=4, num_hashes=16)
    return dedup_ops.minhash_jaccard_estimate(sigs, cands, threshold=0.5)


@oracle("""WITH stats AS (
  SELECT CAST(min(user_id) AS DOUBLE) AS mn0, CAST(max(user_id) AS DOUBLE) AS mx0,
         min("value") AS mn1, max("value") AS mx1
  FROM events
), normed AS (
  SELECT event_id,
         CASE WHEN mx0 = mn0 THEN 0
              ELSE CAST(floor((CAST(user_id AS DOUBLE) - mn0) * 65535.0 / (mx0 - mn0)) AS BIGINT) END AS n0,
         CASE WHEN mx1 = mn1 THEN 0
              ELSE CAST(floor(("value" - mn1) * 65535.0 / (mx1 - mn1)) AS BIGINT) END AS n1
  FROM events, stats
)
SELECT event_id, (((n0 >> 0) & 1) << 0) + (((n1 >> 0) & 1) << 1) + (((n0 >> 1) & 1) << 2) + (((n1 >> 1) & 1) << 3) + (((n0 >> 2) & 1) << 4) + (((n1 >> 2) & 1) << 5) + (((n0 >> 3) & 1) << 6) + (((n1 >> 3) & 1) << 7) + (((n0 >> 4) & 1) << 8) + (((n1 >> 4) & 1) << 9) + (((n0 >> 5) & 1) << 10) + (((n1 >> 5) & 1) << 11) + (((n0 >> 6) & 1) << 12) + (((n1 >> 6) & 1) << 13) + (((n0 >> 7) & 1) << 14) + (((n1 >> 7) & 1) << 15) + (((n0 >> 8) & 1) << 16) + (((n1 >> 8) & 1) << 17) + (((n0 >> 9) & 1) << 18) + (((n1 >> 9) & 1) << 19) + (((n0 >> 10) & 1) << 20) + (((n1 >> 10) & 1) << 21) + (((n0 >> 11) & 1) << 22) + (((n1 >> 11) & 1) << 23) + (((n0 >> 12) & 1) << 24) + (((n1 >> 12) & 1) << 25) + (((n0 >> 13) & 1) << 26) + (((n1 >> 13) & 1) << 27) + (((n0 >> 14) & 1) << 28) + (((n1 >> 14) & 1) << 29) + (((n0 >> 15) & 1) << 30) + (((n1 >> 15) & 1) << 31) AS zkey
FROM normed""")
def q_zorder_events(spark, sf_dir):
    """Morton Z-order key over (user_id, value), 16 bits/dim min-max
    normalized — the multi-column clustering key behind OPTIMIZE ZORDER;
    pure integer interleave over an exactly reproducible normalization, so
    the oracle computes the identical key bit-for-bit."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return layout_ops.zorder_key(ev, ["user_id", "value"]).select("event_id", "zkey")


@oracle("""WITH mem AS (
  SELECT DISTINCT 'g' || CAST(user_id % 3 AS VARCHAR) AS g,
         'm' || CAST(user_id % 24 AS VARCHAR) AS member,
         user_id % 24 AS mnum
  FROM events
), prefs AS (
  SELECT g, member,
         CASE mnum % 4
           WHEN 0 THEN ['sticky', 'range']
           WHEN 1 THEN ['range', 'sticky', 'roundrobin']
           WHEN 2 THEN ['roundrobin', 'range', 'sticky']
           ELSE ['range', 'roundrobin'] END AS protocols
  FROM mem
), pos AS (
  SELECT g, member, protocols[CAST(i AS INT)] AS protocol, CAST(i AS INT) AS pos
  FROM (SELECT g, member, protocols, unnest(range(1, len(protocols) + 1)) AS i FROM prefs)
), sizes AS (
  SELECT g, count(*) AS nm FROM prefs GROUP BY 1
), support AS (
  -- DISTINCT member: a duplicate protocol entry in one member's list is
  -- one unit of support (matches select_group_protocol's countDistinct)
  SELECT g, protocol, count(DISTINCT member) AS sup FROM pos GROUP BY 1, 2
), cands AS (
  SELECT s.g, s.protocol FROM support s JOIN sizes z USING (g) WHERE s.sup = z.nm
), votes AS (
  SELECT p.g, p.member, min_by(p.protocol, p.pos) AS protocol
  FROM pos p JOIN cands c ON c.g = p.g AND c.protocol = p.protocol
  GROUP BY 1, 2
), tally AS (
  SELECT g, protocol, count(*) AS votes FROM votes GROUP BY 1, 2
)
SELECT g AS "group", protocol, votes FROM (
  SELECT g, protocol, votes,
         row_number() OVER (PARTITION BY g ORDER BY votes DESC, protocol) AS rn
  FROM tally) WHERE rn = 1""")
def q_group_select_protocol(spark, sf_dir):
    """JOIN_GROUP protocol election (GroupMetadata.selectProtocol:361):
    candidates = intersection of all members' protocol sets, each member
    votes its first supported preference, most votes wins (deterministic
    (votes desc, protocol asc) tie-break pinned — the reference's HashMap
    order is unstable). Membership derives from events: member m{u%24}
    in group g{u%3} with preference lists keyed by member-number % 4, so
    groups mix members with conflicting first choices and the vote-split
    path is exercised."""
    ev = load_table(spark, sf_dir, "events")
    mnum = F.col("user_id") % 24
    members = (
        ev.select(
            F.concat(F.lit("g"), (F.col("user_id") % 3).cast("string")).alias(
                "group"
            ),
            F.concat(F.lit("m"), mnum.cast("string")).alias("member"),
            mnum.alias("__mnum"),
        )
        .distinct()
        .withColumn(
            "protocols",
            F.when(
                F.col("__mnum") % 4 == 0,
                F.array(F.lit("sticky"), F.lit("range")),
            )
            .when(
                F.col("__mnum") % 4 == 1,
                F.array(F.lit("range"), F.lit("sticky"), F.lit("roundrobin")),
            )
            .when(
                F.col("__mnum") % 4 == 2,
                F.array(F.lit("roundrobin"), F.lit("range"), F.lit("sticky")),
            )
            .otherwise(F.array(F.lit("range"), F.lit("roundrobin"))),
        )
        .drop("__mnum")
    )
    return group_ops.select_group_protocol(members)


# minhash_dedup_exact_groups: transitive closure over verified pairs
# (recursive CTE — near-dup components are short chains, so the closure
# is tiny), keep each component's minimum id.
@oracle(f"""WITH RECURSIVE {_MINHASH_COMPONENTS_CTE},
losers AS (SELECT node AS doc_id FROM comp WHERE node <> component)
SELECT d.doc_id FROM docs d ANTI JOIN losers l USING (doc_id)""")
def q_dedup_minhash_cc(spark, sf_dir):
    """minhash dedup with exact transitive grouping (connected components
    over verified pairs, iterative min-label propagation); oracle: the same
    pipeline + a recursive-CTE transitive closure in DuckDB."""
    docs = _docs_with_near(load_table(spark, sf_dir, "documents"))
    return dedup_ops.minhash_dedup_exact_groups(
        docs, num_hashes=16, bands=4, shingle_k=3, threshold=0.7,
        shingle_mode="word",
    ).select("doc_id")


# Cluster-size histogram over the same recursive transitive closure
# the dedup_minhash_cc oracle uses.
@oracle(f"""WITH RECURSIVE {_MINHASH_COMPONENTS_CTE},
sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
SELECT cluster_size, count(*) AS n_clusters,
       cluster_size * count(*) AS n_docs,
       cluster_size * count(*) - count(*) AS docs_dropped
FROM sizes GROUP BY cluster_size""")
def q_dedup_cluster_stats(spark, sf_dir):
    """Near-dup cluster-size distribution over the corpus-with-near-dups
    fixture: full MinHash pipeline + exact components + size histogram."""
    docs = _docs_with_near(load_table(spark, sf_dir, "documents"))
    return dedup_ops.dedup_cluster_stats(
        docs, num_hashes=16, bands=4, shingle_k=3, threshold=0.7,
        shingle_mode="word",
    )


@oracle("""WITH base AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nc_norm,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
         ' ' || lower(text) || ' ' AS padded
  FROM documents
), counted AS (
  SELECT doc_id, text, n_chars, nc_norm, n_words,
    CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5 AS INT)
      + CAST((length(padded) - length(replace(padded, ' and ', ''))) / 5 AS INT)
      + CAST((length(padded) - length(replace(padded, ' of ', ''))) / 4 AS INT)
      + CAST((length(padded) - length(replace(padded, ' to ', ''))) / 4 AS INT)
      + CAST((length(padded) - length(replace(padded, ' a ', ''))) / 3 AS INT) AS n_stop,
    CAST((length(text) - length(replace(text, '.', ''))) / 1 AS INT)
      + CAST((length(text) - length(replace(text, ',', ''))) / 1 AS INT)
      + CAST((length(text) - length(replace(text, '!', ''))) / 1 AS INT)
      + CAST((length(text) - length(replace(text, '?', ''))) / 1 AS INT)
      + CAST((length(text) - length(replace(text, ';', ''))) / 1 AS INT)
      + CAST((length(text) - length(replace(text, ':', ''))) / 1 AS INT) AS n_punct,
    length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper
  FROM base
)
SELECT doc_id,
  n_words AS n_tokens,
  CAST(ceil(n_chars / 4) AS BIGINT) AS n_subwords_est,
  (nc_norm - n_words + 1) / n_words AS mean_word_len,
  n_stop / n_words AS stop_ratio,
  CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_density,
  CASE WHEN n_chars > 0 THEN n_upper / n_chars ELSE 0.0 END AS upper_ratio,
  least(1.0, (n_stop / n_words) * 2)
    * (CASE WHEN (nc_norm - n_words + 1) / n_words >= 3 AND (nc_norm - n_words + 1) / n_words <= 10 THEN 1.0 ELSE 0.5 END)
    * (1 - least(1.0, (CASE WHEN n_chars > 0 THEN n_upper / n_chars ELSE 0.0 END) * 5)) AS quality
FROM counted""")
def q_text_stats(spark, sf_dir):
    from starlight_for_kafka_spark.plans.spread import spread_if_narrow

    # per-row regex splits/ratios are the heavy leg; spread the 1-2-split
    # corpus scan across cores (map-only otherwise — the guard no-ops on
    # a wide production scan, see plans/spread.py)
    docs = spread_if_narrow(load_table(spark, sf_dir, "documents"), "doc_id")
    out = text_ops.quality_score(text_ops.token_count(docs))
    return out.select(
        "doc_id", "n_tokens", "n_subwords_est", "mean_word_len",
        "stop_ratio", "punct_density", "upper_ratio", "quality",
    )


@oracle("""WITH norm AS (
  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM documents
)
SELECT doc_id, md5(t) AS fp_full, md5(substring(t, 1, 64)) AS fp_prefix64 FROM norm""")
def q_text_fingerprint(spark, sf_dir):
    return text_ops.fingerprint(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "fp_full", "fp_prefix64"
    )


@oracle("""WITH padded AS (
  SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents
), scores AS (
  SELECT doc_id,
    CAST((length(p) - length(replace(p, ' der ', ''))) / 5 AS INT)
      + CAST((length(p) - length(replace(p, ' und ', ''))) / 5 AS INT)
      + CAST((length(p) - length(replace(p, ' die ', ''))) / 5 AS INT) AS s_de,
    CAST((length(p) - length(replace(p, ' the ', ''))) / 5 AS INT)
      + CAST((length(p) - length(replace(p, ' and ', ''))) / 5 AS INT)
      + CAST((length(p) - length(replace(p, ' of ', ''))) / 4 AS INT) AS s_en,
    CAST((length(p) - length(replace(p, ' el ', ''))) / 4 AS INT)
      + CAST((length(p) - length(replace(p, ' la ', ''))) / 4 AS INT)
      + CAST((length(p) - length(replace(p, ' de ', ''))) / 4 AS INT) AS s_es,
    CAST((length(p) - length(replace(p, ' le ', ''))) / 4 AS INT)
      + CAST((length(p) - length(replace(p, ' la ', ''))) / 4 AS INT)
      + CAST((length(p) - length(replace(p, ' et ', ''))) / 4 AS INT) AS s_fr
  FROM padded
)
SELECT doc_id,
  CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
       ELSE 'und' END AS pred_lang
FROM scores""")
def q_text_language_id(spark, sf_dir):
    return text_ops.language_id(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "pred_lang"
    )


def _query_vec(spark, sf_dir, vec_id=0):
    emb = load_table(spark, sf_dir, "embeddings")
    return [float(x) for x in emb.filter(F.col("vec_id") == vec_id).first().embedding]


def _seed_vectors(emb: DataFrame, n: int) -> list[list[float]]:
    """Vectors 0..n-1 of ``emb`` in id order (one collect job): the fixed
    seed centroids of the IVF, Lloyd, PQ and semantic-dedup queries."""
    return [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < n).orderBy("vec_id").collect()
    ]


@oracle("""WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT vec_id,
         round(list_dot_product(embedding::DOUBLE[], qv)
               / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
  FROM embeddings, q
)
SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 10""")
def q_similarity_top10(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.brute_force_top_k(emb, _query_vec(spark, sf_dir), k=10)


@oracle("""WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM documents
), pg AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(ws[i : i + 7], ' ') AS g
  FROM w, unnest(range(1, greatest(len(ws) - 6, 1))) AS t(i)
), dg AS (
  SELECT DISTINCT doc_id, g FROM pg
), fr AS (
  SELECT g, count(*) AS n_docs FROM dg GROUP BY g
), fl AS (
  SELECT pg.doc_id, pg.pos FROM pg JOIN fr USING (g) WHERE n_docs > 1
), r1 AS (
  SELECT doc_id, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM fl
), r2 AS (
  SELECT doc_id, grp, count(*) AS run FROM r1 GROUP BY 1, 2
), runs AS (
  SELECT doc_id, max(run) AS longest FROM r2 GROUP BY 1
), gc AS (
  SELECT doc_id, count(*) AS n_grams FROM pg GROUP BY 1
), tot AS (
  SELECT d.doc_id, coalesce(gc.n_grams, 0) AS n_grams
  FROM documents d LEFT JOIN gc USING (doc_id)
)
SELECT t.doc_id, t.n_grams,
       coalesce(runs.longest, 0) AS longest_dup_run,
       CASE WHEN coalesce(runs.longest, 0) > 0 THEN runs.longest + 7 ELSE 0 END AS longest_dup_span_words
FROM tot t LEFT JOIN runs USING (doc_id)""")
def q_repeated_spans(spark, sf_dir):
    """Longest cross-document repeated passage per doc (suffix-array-free
    substring-dedup signal; exact for passages >= 8 words)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup_ops.repeated_spans(docs).select(
        "doc_id", "n_grams", "longest_dup_run", "longest_dup_span_words"
    )


@oracle("""WITH x AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT vec_id AS qid, label AS qlbl, v AS qv FROM x WHERE vec_id IN (5, 17, 42)
), scored AS (
  SELECT q.qid, x.vec_id, x.label AS neg_label,
         round(list_dot_product(x.v, q.qv)
               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(q.qv, q.qv))), 9) AS sim
  FROM x CROSS JOIN q
  WHERE x.label IS DISTINCT FROM q.qlbl
)
SELECT qid, vec_id, neg_label, sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5""")
def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining: 5 nearest different-label vectors for three
    query embeddings (contrastive-training feed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.hard_negatives(emb, [5, 17, 42], k=5)


@oracle("""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4
), sims AS (
  SELECT e.vec_id, c.cid,
         round(list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 9) AS sim
  FROM e CROSS JOIN c
)
SELECT vec_id, CAST(cid AS INT) AS ivf_cell FROM sims
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1""")
def q_similarity_ivf_cells(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_vectors(emb, 4)
    return sim_ops.ivf_assign(emb, cents).select("vec_id", "ivf_cell")


@oracle("""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4
), q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7
), cells AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           round(list_dot_product(e.v, c.cv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 9) AS sim
    FROM e CROSS JOIN c
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1
), probe AS (
  SELECT cid FROM c CROSS JOIN q
  ORDER BY round(list_dot_product(cv, qv)
                 / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 9) DESC, cid
  LIMIT 2
), scored AS (
  SELECT e.vec_id,
         round(list_dot_product(e.v, qv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
  FROM e CROSS JOIN q
  JOIN cells ON cells.vec_id = e.vec_id
  WHERE cells.cid IN (SELECT cid FROM probe)
)
SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 10""")
def q_similarity_ivf_topk(spark, sf_dir):
    """IVF probe search: nprobe=2 of 4 cells — approximate by design, but
    deterministic, so the oracle replays the identical probe logic in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_vectors(emb, 4)
    return sim_ops.ivf_top_k(emb, cents, _query_vec(spark, sf_dir, 7), k=10, nprobe=2)


@oracle("""SELECT label, dim, round(avg(x), 6) AS centroid
FROM (SELECT label, unnest(embedding)::DOUBLE AS x,
             unnest(range(len(embedding))) AS dim
      FROM embeddings) t
GROUP BY label, dim""")
def q_embedding_centroids(spark, sf_dir):
    """Per-label mean embedding (centroid training step), emitted as
    (label, dim, value) rows for exact cross-engine comparison."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = sim_ops.centroids(emb, "label")
    return out.select(
        "label", F.posexplode("centroid").alias("dim", "c")
    ).select("label", "dim", F.round("c", 6).alias("centroid"))


@oracle("""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4
), cells AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           round(list_dot_product(e.v, c.cv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 9) AS sim
    FROM e CROSS JOIN c
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1
), ex AS (
  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
         unnest(range(len(embedding))) AS dim
  FROM embeddings
)
SELECT CAST(cells.cid AS INT) AS ivf_cell, ex.dim, round(avg(ex.x), 6) AS centroid
FROM ex JOIN cells USING (vec_id)
GROUP BY 1, 2""")
def q_kmeans_step(spark, sf_dir):
    """One deterministic Lloyd iteration seeded with vectors 0..3: cosine
    assignment (9 dp) + per-cell mean re-centering."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_vectors(emb, 4)
    out = sim_ops.lloyd_step(emb, cents)
    return out.select(
        "ivf_cell", F.posexplode("centroid").alias("dim", "c")
    ).select("ivf_cell", "dim", F.round("c", 6).alias("centroid"))


# kmeans_fit (cosine, 2 rounds): both Lloyd rounds unrolled — 9 dp
# cosine assignment (ties to the lowest cell, the array_position-first
# rule), 6 dp-quantized means between rounds, keep-previous for
# emptied cells (cell indexes never shift).
@oracle(f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ex AS (SELECT vec_id, unnest(v)::DOUBLE AS x, generate_subscripts(v, 1) - 1 AS dim FROM e),
c0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4),
a1 AS (SELECT vec_id, cid FROM (
    SELECT e.vec_id, c0.cid, {_cos_sql('e.v', 'c0.cv', 9)} AS sim FROM e CROSS JOIN c0
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1),
m1 AS (SELECT a1.cid, ex.dim, round(avg(ex.x), 6) AS c
       FROM ex JOIN a1 USING (vec_id) GROUP BY 1, 2),
c1 AS (SELECT cid, list(c ORDER BY dim) AS cv FROM m1 GROUP BY cid
       UNION ALL
       SELECT cid, cv FROM c0 WHERE cid NOT IN (SELECT DISTINCT cid FROM m1)),
a2 AS (SELECT vec_id, cid FROM (
    SELECT e.vec_id, c1.cid, {_cos_sql('e.v', 'c1.cv', 9)} AS sim FROM e CROSS JOIN c1
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1),
m2 AS (SELECT a2.cid, ex.dim, round(avg(ex.x), 6) AS c
       FROM ex JOIN a2 USING (vec_id) GROUP BY 1, 2)
SELECT CAST(cid AS INT) AS ivf_cell, CAST(dim AS INT) AS dim, c AS centroid FROM m2
UNION ALL
SELECT CAST(c1.cid AS INT) AS ivf_cell,
       CAST(generate_subscripts(c1.cv, 1) - 1 AS INT) AS dim,
       unnest(c1.cv) AS centroid
FROM c1 WHERE cid NOT IN (SELECT DISTINCT cid FROM m2)""")
def q_kmeans_fit2(spark, sf_dir):
    """FULL k-means training (similarity.kmeans_fit, 2 Lloyd rounds,
    k=4, cosine): seeds are the 4 lowest vec_ids; each round is one
    map-only assignment + one (cell, dim) partial-combined mean, with
    centroids 6 dp-quantized between rounds so both engines iterate
    from identical values. The oracle unrolls both rounds (assign →
    mean → reassemble → assign → mean) with the keep-previous rule for
    emptied cells. Closes the IVF training half the probe entries
    previously took as given."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = sim_ops.kmeans_fit(emb, k=4, n_iter=2)
    rows = [
        (i, d, float(c))
        for i, cv in enumerate(cents)
        for d, c in enumerate(cv)
    ]
    return spark.createDataFrame(rows, "ivf_cell int, dim int, centroid double")


@oracle(_pq_codes_trained_oracle_sql())
def q_pq_codes_trained(spark, sf_dir):
    """The retrieval loop's TRAIN → ENCODE half with NO fixture
    codebooks: similarity.pq_train (per-subspace squared-L2 k-means,
    m=4 x ks=4, one round from the 4 lowest-id seed slices) feeds
    pq_encode over the full corpus. Oracle replays each subspace's
    Lloyd round (L2 9 dp assign, 6 dp means, keep-previous) and the
    encode argmins in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = sim_ops.pq_train(emb, m=4, ks=4, n_iter=1)
    return sim_ops.pq_encode(emb, books)


# similarity_lsh_top5: bucket every vector with 4 md5 hyperplanes,
# keep the query's (vec_id=7) bucket, exact cosine top-5 inside it.
@oracle(f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), b AS (
  SELECT vec_id, v, {_hp_bucket_sql('v', 4)} AS bkt FROM e
), q AS (
  SELECT v AS qv, bkt AS qb FROM b WHERE vec_id = 7
), scored AS (
  SELECT b.vec_id,
         round(list_dot_product(b.v, q.qv)
               / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
  FROM b, q WHERE b.bkt = q.qb
)
SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 5""")
def q_similarity_lsh_top5(spark, sf_dir):
    """ANN top-5 in the query's 4-plane LSH bucket. Recall is approximate
    by design, but the md5-derived hyperplanes make the candidate set —
    and hence the result — fully deterministic and oracle-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.lsh_top_k(emb, _query_vec(spark, sf_dir, 7), k=5, n_planes=4)


@oracle("""WITH ipx AS (
  SELECT doc_id AS id, unnest(range(216)) AS idx FROM documents WHERE doc_id % 3 = 0
), istat AS (
  SELECT id,
         sum((id*7 + idx*13) % 256) AS sum_r,
         sum((id*7 + idx*13 + 101) % 256) AS sum_g,
         sum((id*7 + idx*13 + 202) % 256) AS sum_b,
         min(least((id*7+idx*13) % 256, (id*7+idx*13+101) % 256, (id*7+idx*13+202) % 256)) AS vmin,
         max(greatest((id*7+idx*13) % 256, (id*7+idx*13+101) % 256, (id*7+idx*13+202) % 256)) AS vmax
  FROM ipx GROUP BY id
), ifeat AS (
  SELECT id, 'image' AS kind,
         CAST(CASE WHEN id % 2 = 0 THEN 661 ELSE 726 END AS BIGINT) AS n_bytes,
         [18.0, 12.0, CAST(sum_r AS DOUBLE), CAST(sum_g AS DOUBLE),
          CAST(sum_b AS DOUBLE), CAST(vmin AS DOUBLE), CAST(vmax AS DOUBLE), 3.0] AS arr
  FROM istat
), aval AS (
  SELECT id, n, i, (id*31 + i*17) % 4096 - 2048 AS v FROM (
    SELECT doc_id AS id, 20000 + (doc_id % 16) * 2048 AS n,
           unnest(range(20000 + (doc_id % 16) * 2048)) AS i
    FROM documents WHERE doc_id % 3 = 1)
), azc AS (
  SELECT id, v, lag(v) OVER (PARTITION BY id ORDER BY i) AS pv FROM aval
), astat AS (
  SELECT id, max(n) AS n, sum(v) AS s, sum(v*v) AS sq, min(v) AS vmin, max(v) AS vmax
  FROM aval GROUP BY id
), zstat AS (
  SELECT id, sum(CASE WHEN pv IS NOT NULL AND (v >= 0) <> (pv >= 0) THEN 1 ELSE 0 END) AS zc
  FROM azc GROUP BY id
), afeat AS (
  SELECT s.id, 'audio' AS kind, CAST(44 + 2 * s.n AS BIGINT) AS n_bytes,
         [8000.0, CAST(s.n AS DOUBLE), CAST(s.s AS DOUBLE), CAST(s.sq AS DOUBLE),
          CAST(s.vmin AS DOUBLE), CAST(s.vmax AS DOUBLE), CAST(z.zc AS DOUBLE), 1.0] AS arr
  FROM astat s JOIN zstat z USING (id)
), vpx AS (
  SELECT id, nf, f, unnest(range(128)) AS idx FROM (
    SELECT doc_id AS id, 25 + doc_id % 25 AS nf,
           unnest(range(25 + doc_id % 25)) AS f
    FROM documents WHERE doc_id % 3 = 2)
), vstat AS (
  SELECT id, max(nf) AS nf,
         sum((id*3 + f*29 + idx*13) % 256) AS sum_y,
         sum((id*3 + f*29 + 101 + idx*13) % 256) AS sum_u,
         sum((id*3 + f*29 + 202 + idx*13) % 256) AS sum_v
  FROM vpx GROUP BY id
), vfeat AS (
  SELECT id, 'video' AS kind, CAST(36 + nf * 390 AS BIGINT) AS n_bytes,
         [16.0, 8.0, CAST(nf AS DOUBLE), CAST(sum_y AS DOUBLE),
          CAST(sum_u AS DOUBLE), CAST(sum_v AS DOUBLE), 25.0, 3.0] AS arr
  FROM vstat
), allf AS (
  SELECT * FROM ifeat UNION ALL SELECT * FROM afeat UNION ALL SELECT * FROM vfeat
)
SELECT id AS media_id, kind, n_bytes, CAST(d.dim AS INT) AS dim,
       arr[CAST(d.dim AS INT) + 1] AS feature
FROM allf, (SELECT unnest(range(8)) AS dim) d""")
def q_multimodal_features(spark, sf_dir):
    """Multimodal decode over REAL container bytes: synthesize_media
    encodes actual WAV/PPM/BMP/Y4M payloads (functions/media_codec.py) and
    extract_features parses them back — RIFF chunk walk, PCM s16 moments,
    BGR/padding/bottom-up BMP handling, planar Y4M frame split. Sample and
    pixel values are a pure function of (media_id, index), so the oracle
    replays the decoded sums/extrema/zero-crossings in SQL without parsing
    a byte — any header-layout or byte-order bug in the codec mismatches.
    The array column is posexploded to (dim, feature) rows for a hashable
    compare shape."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.synthesize_media(docs)
    feats = mm_ops.extract_features(media)
    return feats.select(
        "media_id", "kind", "n_bytes", F.posexplode("features").alias("dim", "feature")
    )


@oracle(f"""WITH {LOG_CTE}
SELECT "partition", "offset", {_DUCK_MS.format(c='"timestamp"')} AS ts_ms,
       key, strlen(value) AS value_len
FROM log""")
def q_wire_roundtrip(spark, sf_dir):
    """Kafka RecordBatch v2 wire roundtrip: the log encoded into real
    varint-delta, CRC32C-verified record batches (applyInPandas per
    partition) and decoded back (map-only, CRC checked per batch) —
    functions/kafka_records.py implements the public protocol layout;
    reference: ByteBufUtils.java:172-278, KafkaV1EntryFormatter.java.
    The oracle recomputes the projected fields straight from the source
    log; any header-layout, varint, delta, gzip-framing, or CRC bug
    breaks parity. Batches are gzip-compressed then transcoded back to
    clear before decode, so the compression path is in the loop too.
    Timestamps project at ms, Kafka's wire precision."""
    from starlight_for_kafka_spark.sources import wire

    log = _log(spark, sf_dir).df
    gz = wire.encode_wire_batches(log, max_records_per_batch=50, compression="gzip")
    batches = wire.transcode_batches(gz, compression=None)
    decoded = wire.decode_wire_batches(batches)
    return decoded.select(
        "partition",
        "offset",
        F.unix_millis("timestamp").alias("ts_ms"),
        F.col("key").cast("string").alias("key"),
        F.octet_length("value").alias("value_len"),
    )


@oracle(f"""WITH {LOG_CTE}
SELECT "partition", "offset", {_DUCK_MS.format(c='"timestamp"')} AS ts_ms,
       key, strlen(value) AS value_len
FROM log""")
def q_wire_legacy_ingest(spark, sf_dir):
    """Legacy MessageSet v0/v1 ingest (AbstractEntryFormatter.java:248-281
    read side): the log down-converted to v1 message sets (headers
    dropped, per-message CRC32) then ingested BACK into typed rows through
    ingest_message_sets — the path a replay of a pre-0.11 dump takes.
    Even partitions route through lz4 WRAPPER messages (the KAFKA-3160
    legacy framing), odd through plain sets, so both the compressed-
    wrapper decode and the lz4 legacy frame codec sit under this oracle.
    The oracle recomputes the projected fields from the source log at ms
    precision; any legacy-layout, CRC, frame, or timestamp-sentinel bug
    breaks parity."""
    from starlight_for_kafka_spark.sources import wire

    log = _log(spark, sf_dir).df
    # parity split BEFORE the encode kernel (round 10, guide §1.2/#1):
    # offsets and batch grouping are both windowed PER PARTITION, so
    # filtering whole partitions first is result-identical — while
    # filtering the encoded batches after (the old shape) ran the
    # Arrow encode kernel over the FULL log in each branch and threw
    # half the work away twice (plan had two full-log MapInPandas
    # encode subtrees; oracle re-verified identical)
    even = wire.down_convert_batches(
        wire.encode_wire_batches(
            log.filter(F.col("partition") % 2 == 0),
            max_records_per_batch=50,
        ),
        to_magic=1,
        compression="lz4",
    )
    odd = wire.down_convert_batches(
        wire.encode_wire_batches(
            log.filter(F.col("partition") % 2 == 1),
            max_records_per_batch=50,
        ),
        to_magic=1,
    )
    typed = wire.ingest_message_sets(even.unionByName(odd))
    return typed.select(
        "partition",
        "offset",
        F.unix_millis("timestamp").alias("ts_ms"),
        F.col("key").cast("string").alias("key"),
        F.octet_length("value").alias("value_len"),
    )


@oracle(f"""WITH {LOG_CTE}
SELECT "partition", "offset", {_DUCK_MS.format(c='"timestamp"')} AS ts_ms,
       key, strlen(value) AS value_len
FROM log WHERE "partition" < 2""")
def q_wire_transcode_codecs(spark, sf_dir):
    """Full Kafka codec chain (KopLogValidator.java:495-520 source/target
    codecs): the log encoded snappy (snappy-java framing), transcoded
    snappy→lz4 (LZ4 frame)→zstd→gzip→clear, then decoded. Every hop
    decompresses with one codec and recompresses with the next, so a
    framing bug in ANY of the four codecs breaks parity with the oracle,
    which recomputes the projection straight from the source log."""
    from starlight_for_kafka_spark.sources import wire

    log = _log(spark, sf_dir).df.filter(F.col("partition") < 2)
    b = wire.encode_wire_batches(log, max_records_per_batch=50, compression="snappy")
    # fused chain: all four hops inside ONE Arrow-batched kernel pass
    # (separate calls would serialize every blob through Arrow per hop)
    b = wire.transcode_batches(b, compression=["lz4", "zstd", "gzip", None])
    decoded = wire.decode_wire_batches(b)
    return decoded.select(
        "partition",
        "offset",
        F.unix_millis("timestamp").alias("ts_ms"),
        F.col("key").cast("string").alias("key"),
        F.octet_length("value").alias("value_len"),
    )


@oracle(f"""WITH {LOG_CTE},
f AS (
  SELECT "partition", "offset",
         CASE WHEN "offset" % 53 = 7 THEN "timestamp" - INTERVAL 1 HOUR
              ELSE "timestamp" END AS ts0
  FROM log WHERE "offset" % 97 <> 5
),
x AS (
  SELECT "partition", "offset",
         lag("offset") OVER (PARTITION BY "partition" ORDER BY "offset") AS po,
         lag(ts0) OVER (PARTITION BY "partition" ORDER BY "offset") AS pt,
         ts0 AS ts
  FROM f
)
SELECT "partition", count(*) AS n_records,
       min("offset") AS log_start_offset,
       max("offset") + 1 AS log_end_offset,
       CAST(sum(CASE WHEN po IS NOT NULL AND "offset" <> po + 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_offset_gaps,
       CAST(sum(CASE WHEN po IS NOT NULL AND "offset" = po THEN 1 ELSE 0 END) AS BIGINT) AS n_duplicate_offsets,
       CAST(sum(CASE WHEN pt IS NOT NULL AND ts < pt THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_regressions,
       (max("offset") - min("offset") + 1 = count(*)
        AND sum(CASE WHEN po IS NOT NULL AND "offset" = po THEN 1 ELSE 0 END) = 0) AS dense
FROM x GROUP BY "partition\"""")
def q_log_integrity(spark, sf_dir):
    """Log-invariant audit over a log with injected corruption — holes
    (every offset ≡ 5 mod 97 removed) and out-of-order timestamps (every
    offset ≡ 7 mod 53 shifted back an hour): gap / duplicate /
    ts-regression counters and the density verdict per partition, all
    counters provably nonzero."""
    from starlight_for_kafka_spark.sources.logtable import check_log_integrity

    log = (
        _log(spark, sf_dir)
        .df.filter(F.col("offset") % 97 != 5)
        .withColumn(
            "timestamp",
            F.when(
                F.col("offset") % 53 == 7,
                F.col("timestamp") - F.expr("INTERVAL 1 HOUR"),
            ).otherwise(F.col("timestamp")),
        )
    )
    return check_log_integrity(log)


@oracle(f"""WITH {LOG_CTE},
v AS (
  SELECT "partition",
    CASE WHEN epoch_us("timestamp") // 1000 < {VALIDATE_NOW_MS - VALIDATE_DIFF_MS}
           OR epoch_us("timestamp") // 1000 > {VALIDATE_NOW_MS + VALIDATE_DIFF_MS}
         THEN '{TS_ERR}'
         WHEN CAST(key AS BIGINT) % 7 = 0 THEN '{KEY_ERR}'
         ELSE 'OK' END AS _error
  FROM log
)
SELECT "partition", _error, count(*) AS cnt FROM v GROUP BY "partition", _error""")
def q_produce_validation(spark, sf_dir):
    """KopLogValidator semantics: compacted topics need keys; timestamps must
    sit within max.message.time.difference.ms of 'now'."""
    from starlight_for_kafka_spark.sources.logtable import validate_records

    log = _log(spark, sf_dir).df
    recs = log.withColumn(
        "key",
        F.when(
            F.col("key").cast("string").cast("bigint") % 7 == 0,
            F.lit(None).cast("binary"),
        ).otherwise(F.col("key")),
    )
    validated = validate_records(
        recs, compacted=True,
        max_timestamp_diff_ms=VALIDATE_DIFF_MS, now_ms=VALIDATE_NOW_MS,
    )
    return validated.groupBy(
        "partition", F.coalesce(F.col("_error"), F.lit("OK")).alias("_error")
    ).agg(F.count("*").alias("cnt"))


@oracle(f"""WITH {LOG_CTE}
SELECT "partition", max("offset") + 1 AS log_end_offset,
       2000 AS fetch_offset,
       2000 > max("offset") + 1 AS out_of_range
FROM log GROUP BY "partition\"""")
def q_offset_out_of_range(spark, sf_dir):
    lt = _log(spark, sf_dir)
    leo = lt.df.groupBy("partition").agg((F.max("offset") + 1).alias("log_end_offset"))
    return leo.select(
        "partition", "log_end_offset",
        F.lit(2000).alias("fetch_offset"),
        (F.lit(2000) > F.col("log_end_offset")).alias("out_of_range"),
    )


@oracle(f"""WITH {COMMITS_CTE}
SELECT "group", topic, "partition", "offset"
FROM commits WHERE commit_ts >= TIMESTAMP '2024-01-15 00:00:00'
QUALIFY row_number() OVER (PARTITION BY "group", topic, "partition" ORDER BY commit_ts DESC, "offset" DESC) = 1""")
def q_offset_expire(spark, sf_dir):
    commits = group_ops.derive_commits_from_events(load_table(spark, sf_dir, "events"))
    live = group_ops.expire_offsets(commits, TS_CUTOFF)
    return group_ops.committed_offsets(live).select("group", "topic", "partition", "offset")


@oracle(f"""WITH {COMMITS_CTE},
tc AS (
  SELECT *, CASE WHEN "partition" IN (2, 5) AND "offset" % 7 = 0 THEN 'open'
                 WHEN "offset" % 7 = 1 THEN 'abort'
                 WHEN "offset" % 2 = 0 THEN 'none' ELSE 'commit' END AS txn_status
  FROM commits WHERE "group" = 'g1'
), latest AS (
  SELECT "group", topic, "partition", "offset" FROM tc
  WHERE txn_status IN ('none', 'commit')
  QUALIFY row_number() OVER (PARTITION BY "group", topic, "partition"
                             ORDER BY commit_ts DESC, "offset" DESC) = 1
), pending AS (
  SELECT DISTINCT "group", topic, "partition", true AS unstable
  FROM tc WHERE txn_status = 'open'
)
SELECT "group", topic, "partition",
       coalesce(unstable, false) AS unstable,
       CASE WHEN coalesce(unstable, false) THEN NULL ELSE "offset" END AS "offset"
FROM latest FULL OUTER JOIN pending USING ("group", topic, "partition")""")
def q_offset_fetch_stable(spark, sf_dir):
    """OFFSET_FETCH require_stable (KIP-447): partitions 2 and 5 carry
    in-flight transactional commits -> unstable, offset withheld; aborted
    txn commits never materialize; the rest answer latest-wins."""
    commits = group_ops.derive_commits_from_events(load_table(spark, sf_dir, "events"))
    status = (
        F.when(
            F.col("partition").isin(2, 5) & (F.col("offset") % 7 == 0), "open"
        )
        .when(F.col("offset") % 7 == 1, "abort")
        .when(F.col("offset") % 2 == 0, "none")
        .otherwise("commit")
    )
    return group_ops.offset_fetch_stable(
        commits.withColumn("txn_status", status), "g1"
    )


@oracle(f"""WITH {COMMITS_CTE}
SELECT DISTINCT "group" FROM commits WHERE "group" <> 'g2'""")
def q_delete_group(spark, sf_dir):
    commits = group_ops.derive_commits_from_events(load_table(spark, sf_dir, "events"))
    return group_ops.list_groups(group_ops.delete_group(commits, "g2"))


@oracle(f"""WITH {LOG_CTE},
latest AS (
  SELECT key, value AS latest_value FROM log
  QUALIFY row_number() OVER (PARTITION BY key ORDER BY "partition" DESC, "offset" DESC) = 1
),
counts AS (SELECT key, count(*) AS n_events FROM log GROUP BY key)
SELECT key, latest_value, n_events FROM latest JOIN counts USING (key)""")
def q_table_table_join(spark, sf_dir):
    """KTable ⋈ KTable: latest-value view joined with a count view (both are
    changelog-derived tables in Streams terms)."""
    log = _log(spark, sf_dir).df.withColumn("key", F.col("key").cast("string"))
    latest = ktable_ops.ktable_latest(log, ["key"]).select(
        "key", F.col("value").cast("string").alias("latest_value")
    )
    counts = win_ops.keyed_count(log, "key").withColumnRenamed("cnt", "n_events")
    return ktable_ops.table_table_join(latest, counts, "key").select(
        "key", "latest_value", "n_events"
    )


@oracle("""SELECT o_orderkey, o_custkey, c_name,
       c_nationkey IS NOT NULL AS matched
FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
  ON o_custkey = c_custkey""")
def q_ktable_fk_join(spark, sf_dir):
    """KIP-213 foreign-key KTable join: orders (left table, FK o_custkey in
    the value) ⋈ customer (right table, PK c_custkey) restricted to
    acctbal>5000 so the left join exercises real non-matches; result stays
    keyed by the left PK (o_orderkey)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select("c_custkey", "c_name", "c_nationkey")
    )
    return ktable_ops.ktable_fk_join(
        orders, cust, "o_custkey", "c_custkey",
        payload=["c_name", "c_nationkey"], how="left",
    ).select(
        "o_orderkey", "o_custkey", "c_name",
        F.col("c_nationkey").isNotNull().alias("matched"),
    )


@oracle("""WITH w AS (
  SELECT event_type, count(*) AS cnt,
         (epoch_us(ts) // 1000) - ((epoch_us(ts) // 1000) % 3600000) AS window_start_ms,
         (epoch_us(ts) // 1000) - ((epoch_us(ts) // 1000) % 3600000) + 3600000 AS window_end_ms
  FROM events GROUP BY event_type, window_start_ms, window_end_ms
),
st AS (SELECT max(epoch_us(ts) // 1000) AS stream_time_ms FROM events)
SELECT event_type, cnt, window_start_ms, window_end_ms
FROM w, st WHERE window_end_ms + 1800000 <= stream_time_ms""")
def q_suppress_final(spark, sf_dir):
    """Emit-final windowed count: tumbling 1h per event_type, 30-minute
    grace — windows still open w.r.t. stream-time (max event ts) are
    withheld, exactly Streams' suppress(untilWindowCloses)."""
    return win_ops.suppress_final(
        load_table(spark, sf_dir, "events"),
        "ts", "1 hour",
        ["event_type"],
        [F.count("*").alias("cnt")],
        grace_ms=1_800_000,
    )


@oracle("""WITH b AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 'purchase'
              WHEN value >= 100 THEN 'big' END AS branch, value
  FROM events
)
SELECT branch, count(*) AS cnt,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM b WHERE branch IS NOT NULL GROUP BY branch""")
def q_stream_branch(spark, sf_dir):
    """KStream#split first-match-wins router + per-branch aggregate; no
    default branch, so unmatched records drop (KStream#branch contract)."""
    ev = load_table(spark, sf_dir, "events")
    branched = win_ops.branch_streams(
        ev,
        [
            ("purchase", F.col("event_type") == "purchase"),
            ("big", F.col("value") >= 100),
        ],
    )
    return branched.groupBy("branch").agg(
        F.count("*").alias("cnt"), _dec_sum("value").alias("total_value")
    )


@oracle("""WITH j AS (SELECT unnest([0, 1]) AS j),
e AS (SELECT event_type, value, epoch_us(ts) // 1000 AS ms FROM events)
SELECT event_type, count(*) AS cnt,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       (ms // 3600000 - j) * 3600000 AS window_start_ms,
       (ms // 3600000 - j) * 3600000 + 7200000 AS window_end_ms
FROM e CROSS JOIN j
GROUP BY event_type, window_start_ms""")
def q_sliding_window_2h1h(spark, sf_dir):
    return win_ops.sliding_window_agg(
        load_table(spark, sf_dir, "events"),
        "ts", "2 hours", "1 hour",
        ["event_type"],
        [F.count("*").alias("cnt"), _dec_sum("value").alias("total_value")],
    )


@oracle(f"""WITH {LOG_CTE}
SELECT "partition", "offset", CAST(json_extract_string(value, '$.k') AS INT) AS k
FROM log""")
def q_typed_view(spark, sf_dir):
    log = _log(spark, sf_dir).df
    tv = reg_ops.typed_view(log, "k int")
    return tv.select("partition", "offset", F.col("typed.k").alias("k"))


def _built_registry(spark):
    reg = reg_ops.create_registry(spark)
    reg = reg_ops.register_schema(reg, "user-value", "AVRO", SCHEMA_USER_V1)
    reg = reg_ops.register_schema(reg, "user-value", "AVRO", SCHEMA_USER_V2)
    reg = reg_ops.register_schema(reg, "click-value", "AVRO", SCHEMA_CLICK_V1)
    reg = reg_ops.register_schema(reg, "user-value", "AVRO", SCHEMA_USER_V3)
    return reg


@oracle(f"""SELECT * FROM (VALUES
  ('click-value', 1, 3, 'AVRO', '{SCHEMA_CLICK_V1}'),
  ('user-value', 3, 4, 'AVRO', '{SCHEMA_USER_V3}')
) AS t(subject, version, id, type, definition)""")
def q_registry_subjects(spark, sf_dir):
    return reg_ops.latest_schemas(_built_registry(spark))


# hand-derived truth table — deliberately NOT generated from the
# engine's check_compatibility (that would be circular)
@oracle("""SELECT * FROM (VALUES
  ('NONE', 'add_field_no_default', true),
  ('NONE', 'type_change', true),
  ('NONE', 'add_field_with_default', true),
  ('BACKWARD', 'add_field_no_default', false),
  ('BACKWARD', 'type_change', false),
  ('BACKWARD', 'add_field_with_default', true),
  ('FORWARD', 'add_field_no_default', true),
  ('FORWARD', 'type_change', false),
  ('FORWARD', 'add_field_with_default', true),
  ('FULL', 'add_field_no_default', false),
  ('FULL', 'type_change', false),
  ('FULL', 'add_field_with_default', true),
  ('BACKWARD_TRANSITIVE', 'add_field_no_default', false),
  ('BACKWARD_TRANSITIVE', 'type_change', false),
  ('BACKWARD_TRANSITIVE', 'add_field_with_default', true),
  ('FORWARD_TRANSITIVE', 'add_field_no_default', true),
  ('FORWARD_TRANSITIVE', 'type_change', false),
  ('FORWARD_TRANSITIVE', 'add_field_with_default', true),
  ('FULL_TRANSITIVE', 'add_field_no_default', false),
  ('FULL_TRANSITIVE', 'type_change', false),
  ('FULL_TRANSITIVE', 'add_field_with_default', true)
) AS t(mode, candidate, compatible)""")
def q_registry_compat(spark, sf_dir):
    """Compatibility verdict matrix over a fixed history [USER_V1, USER_V2];
    oracle is the hand-derived truth table (not the same code path)."""
    history = [SCHEMA_USER_V1, SCHEMA_USER_V2]
    cands = {
        "add_field_no_default": CAND_NO_DEFAULT,
        "type_change": CAND_TYPE_CHANGE,
        "add_field_with_default": SCHEMA_USER_V3,
    }
    modes = [
        "NONE", "BACKWARD", "FORWARD", "FULL",
        "BACKWARD_TRANSITIVE", "FORWARD_TRANSITIVE", "FULL_TRANSITIVE",
    ]
    rows = [
        (m, name, reg_ops.check_compatibility(m, d, history))
        for m in modes
        for name, d in cands.items()
    ]
    return spark.createDataFrame(rows, "mode string, candidate string, compatible boolean")


@oracle("""SELECT * FROM (VALUES
  ('user-none', 'NONE', 'no_default', true),
  ('user-none', 'NONE', 'with_default', true),
  ('user-none', 'NONE', 'type_change', true),
  ('user-backward', 'BACKWARD', 'no_default', false),
  ('user-backward', 'BACKWARD', 'with_default', true),
  ('user-backward', 'BACKWARD', 'type_change', false),
  ('user-forward', 'FORWARD', 'no_default', true),
  ('user-forward', 'FORWARD', 'with_default', true),
  ('user-forward', 'FORWARD', 'type_change', false),
  ('user-full', 'FULL', 'no_default', false),
  ('user-full', 'FULL', 'with_default', true),
  ('user-full', 'FULL', 'type_change', false)
) AS t(subject, mode, candidate, accepted)""")
def q_registry_subject_config(spark, sf_dir):
    """Per-subject compatibility config (ConfigResource.java GET/PUT
    /config/{subject}; MemorySchemaStorage.java:133-151 resolves the
    subject's stored mode — default NONE per :187 — at registration).
    Each subject replays the same candidate sequence with mode=None so
    register_schema reads the mode from the config table; accepted
    schemas join the subject's history, so later verdicts check against
    the evolved latest version exactly as the real registry would."""
    cfg = reg_ops.create_config(spark)
    cfg = reg_ops.set_compatibility(cfg, "user-backward", "BACKWARD")
    cfg = reg_ops.set_compatibility(cfg, "user-forward", "FORWARD")
    cfg = reg_ops.set_compatibility(cfg, "user-full", "FULL")
    cands = [
        ("no_default", CAND_NO_DEFAULT),
        ("with_default", SCHEMA_USER_V3),
        ("type_change", CAND_TYPE_CHANGE),
    ]
    rows = []
    for subject in ["user-none", "user-backward", "user-forward", "user-full"]:
        reg = reg_ops.create_registry(spark)
        reg = reg_ops.register_schema(
            reg, subject, "AVRO", SCHEMA_USER_V1, mode=None, config=cfg
        )
        mode = reg_ops.get_compatibility(cfg, subject)
        for name, cand in cands:
            try:
                reg = reg_ops.register_schema(
                    reg, subject, "AVRO", cand, mode=None, config=cfg
                )
                rows.append((subject, mode, name, True))
            except ValueError:
                rows.append((subject, mode, name, False))
    return spark.createDataFrame(
        rows, "subject string, mode string, candidate string, accepted boolean"
    )


SCHEMA_INNER_V1 = '{"type":"record","name":"Inner","fields":[{"name":"x","type":"int"}]}'
SCHEMA_OUTER_REF = (
    '{"type":"record","name":"Outer","fields":[{"name":"id","type":"long"},'
    '{"name":"inner","type":"Inner"}]}'
)


@oracle("""SELECT * FROM (VALUES
  ('inner-value', 1, 1, 'AVRO', false),
  ('outer-value', 1, 2, 'AVRO', true),
  ('__unresolvable_rejected__', 0, 0, '', true)
) AS t(subject, version, id, type, inlined)""")
def q_registry_references(spark, sf_dir):
    """Schema references (SubjectResource.CreateSchemaRequest.references):
    Outer registers against inner-value/latest, the referenced Inner
    definition is inlined into the stored schema, and an unresolvable
    reference is rejected at registration."""
    reg = reg_ops.create_registry(spark)
    reg = reg_ops.register_schema(reg, "inner-value", "AVRO", SCHEMA_INNER_V1, mode="NONE")
    reg = reg_ops.register_schema(
        reg, "outer-value", "AVRO", SCHEMA_OUTER_REF, mode="NONE",
        references=[{"name": "Inner", "subject": "inner-value", "version": "latest"}],
    )
    try:
        reg_ops.register_schema(
            reg, "bad-value", "AVRO", SCHEMA_OUTER_REF, mode="NONE",
            references=[{"name": "Inner", "subject": "missing", "version": 1}],
        )
        bad_rejected = False
    except ValueError:
        bad_rejected = True
    listing = reg.select(
        "subject", "version", "id", "type",
        F.col("definition").contains('"name": "Inner"').alias("inlined"),
    )
    flag = spark.createDataFrame(
        [("__unresolvable_rejected__", 0, 0, "", bad_rejected)], listing.schema
    )
    return listing.unionByName(flag)


AVRO_NESTED_V1 = (
    '{"type":"record","name":"Outer","fields":['
    '{"name":"a","type":"long"},'
    '{"name":"inner","type":{"type":"record","name":"Inner","fields":['
    '{"name":"x","type":"int"}]}}]}'
)
PROTO_V1 = """message Evt {
  optional int64 id = 1;
  optional string name = 2;
}"""
PROTO_ONEOF_V1 = """message Evt {
  optional int64 id = 1;
  oneof ident {
    string name = 2;
  }
}"""
JSON_V1 = (
    '{"type":"object","properties":{"id":{"type":"integer"},'
    '"name":{"type":"string"}},"required":["id"]}'
)


@oracle("""SELECT * FROM (VALUES
  ('user-value', 1, 1, 3),
  ('user-value', 3, 4, 3)
) AS t(subject, version, id, latest_version)""")
def q_registry_delete(spark, sf_dir):
    """Registry deletion surface: drop the click-value subject entirely
    and user-value's v2, then list what remains plus the per-subject
    latest — version numbers are never compacted (Confluent semantics)."""
    reg = _built_registry(spark)
    reg, _deleted = reg_ops.delete_subject(reg, "click-value")
    reg = reg_ops.delete_version(reg, "user-value", 2)
    latest = reg_ops.latest_schemas(reg).select(
        "subject", F.col("version").alias("latest_version")
    )
    return reg.join(latest, "subject").select(
        "subject", "version", "id", "latest_version"
    )


@oracle("""SELECT * FROM (VALUES
  ('AVRO', 'BACKWARD', 'nested_promote', true),
  ('AVRO', 'FORWARD', 'nested_promote', false),
  ('AVRO', 'FULL', 'nested_promote', false),
  ('AVRO', 'BACKWARD', 'union_widen', true),
  ('AVRO', 'FORWARD', 'union_widen', false),
  ('AVRO', 'FULL', 'union_widen', false),
  ('AVRO', 'BACKWARD', 'nested_add_no_default', false),
  ('AVRO', 'FORWARD', 'nested_add_no_default', true),
  ('AVRO', 'FULL', 'nested_add_no_default', false),
  ('JSON', 'BACKWARD', 'relax_int_to_number', true),
  ('JSON', 'FORWARD', 'relax_int_to_number', false),
  ('JSON', 'FULL', 'relax_int_to_number', false),
  ('JSON', 'BACKWARD', 'add_required', false),
  ('JSON', 'FORWARD', 'add_required', true),
  ('JSON', 'FULL', 'add_required', false),
  ('PROTOBUF', 'BACKWARD', 'add_field', true),
  ('PROTOBUF', 'FORWARD', 'add_field', false),
  ('PROTOBUF', 'FULL', 'add_field', false),
  ('PROTOBUF', 'BACKWARD', 'type_change', false),
  ('PROTOBUF', 'FORWARD', 'type_change', false),
  ('PROTOBUF', 'FULL', 'type_change', false),
  ('PROTOBUF', 'BACKWARD', 'remove_reserved', true),
  ('PROTOBUF', 'FORWARD', 'remove_reserved', false),
  ('PROTOBUF', 'FULL', 'remove_reserved', false),
  ('PROTOBUF', 'BACKWARD', 'remove_unreserved', false),
  ('PROTOBUF', 'FORWARD', 'remove_unreserved', false),
  ('PROTOBUF', 'FULL', 'remove_unreserved', false),
  ('PROTOBUF', 'BACKWARD', 'widen_uint64', true),
  ('PROTOBUF', 'FORWARD', 'widen_uint64', false),
  ('PROTOBUF', 'FULL', 'widen_uint64', false),
  ('PROTOBUF', 'BACKWARD', 'widen_cross_group', false),
  ('PROTOBUF', 'FORWARD', 'widen_cross_group', false),
  ('PROTOBUF', 'FULL', 'widen_cross_group', false),
  ('PROTOBUF', 'BACKWARD', 'string_to_bytes', true),
  ('PROTOBUF', 'FORWARD', 'string_to_bytes', false),
  ('PROTOBUF', 'FULL', 'string_to_bytes', false),
  ('PROTOBUF', 'BACKWARD', 'move_single_to_new_oneof', true),
  ('PROTOBUF', 'FORWARD', 'move_single_to_new_oneof', false),
  ('PROTOBUF', 'FULL', 'move_single_to_new_oneof', false),
  ('PROTOBUF', 'BACKWARD', 'move_both_to_new_oneof', false),
  ('PROTOBUF', 'FORWARD', 'move_both_to_new_oneof', false),
  ('PROTOBUF', 'FULL', 'move_both_to_new_oneof', false),
  ('PROTOBUF', 'BACKWARD', 'oneof_add_field', true),
  ('PROTOBUF', 'FORWARD', 'oneof_add_field', false),
  ('PROTOBUF', 'FULL', 'oneof_add_field', false),
  ('PROTOBUF', 'BACKWARD', 'oneof_remove_field', false),
  ('PROTOBUF', 'FORWARD', 'oneof_remove_field', false),
  ('PROTOBUF', 'FULL', 'oneof_remove_field', false),
  ('PROTOBUF', 'BACKWARD', 'oneof_move_out', false),
  ('PROTOBUF', 'FORWARD', 'oneof_move_out', false),
  ('PROTOBUF', 'FULL', 'oneof_move_out', false),
  ('PROTOBUF', 'BACKWARD', 'oneof_move_existing_in', false),
  ('PROTOBUF', 'FORWARD', 'oneof_move_existing_in', false),
  ('PROTOBUF', 'FULL', 'oneof_move_existing_in', false)
) AS t(schema_type, mode, candidate, compatible)""")
def q_registry_compat_full(spark, sf_dir):
    """Per-type compatibility verdicts over fixed histories — AVRO full
    resolution (nested-record promotion, union widening, nested add
    without default), JSON Schema structural widening, and PROTOBUF
    field-number rules with only-BACKWARD support (reference:
    CompatibilityChecker.createChecker:125-136, Mode.SUPPORTED_FOR_PROTOBUF
    :148-149). Oracle = the hand-derived truth table, not this code path."""
    cases = {
        "AVRO": (
            [AVRO_NESTED_V1],
            {
                "nested_promote": AVRO_NESTED_V1.replace(
                    '{"name":"x","type":"int"}', '{"name":"x","type":"long"}'
                ),
                "union_widen": AVRO_NESTED_V1.replace(
                    '{"name":"a","type":"long"}', '{"name":"a","type":["null","long"]}'
                ),
                "nested_add_no_default": AVRO_NESTED_V1.replace(
                    '{"name":"x","type":"int"}',
                    '{"name":"x","type":"int"},{"name":"y","type":"int"}',
                ),
            },
        ),
        "JSON": (
            [JSON_V1],
            {
                "relax_int_to_number": JSON_V1.replace(
                    '"id":{"type":"integer"}', '"id":{"type":"number"}'
                ),
                "add_required": JSON_V1.replace(
                    '"required":["id"]', '"required":["id","email"]'
                ).replace(
                    '"name":{"type":"string"}',
                    '"name":{"type":"string"},"email":{"type":"string"}',
                ),
            },
        ),
        "PROTOBUF": (
            [PROTO_V1],
            {
                "add_field": PROTO_V1.replace(
                    "}", "  optional int32 n = 3;\n}"
                ),
                "type_change": PROTO_V1.replace(
                    "optional string name = 2;", "optional int32 name = 2;"
                ),
                "remove_reserved": PROTO_V1.replace(
                    "optional string name = 2;", "reserved 2;"
                ),
                "remove_unreserved": PROTO_V1.replace(
                    "  optional string name = 2;\n", ""
                ),
                # wire-group widening (public protobuf language guide):
                # int64 -> uint64 shares the varint group; -> sint64
                # crosses into the zigzag group; string -> bytes shares
                # the length-delimited group
                "widen_uint64": PROTO_V1.replace(
                    "optional int64 id = 1;", "optional uint64 id = 1;"
                ),
                "widen_cross_group": PROTO_V1.replace(
                    "optional int64 id = 1;", "optional sint64 id = 1;"
                ),
                "string_to_bytes": PROTO_V1.replace(
                    "optional string name = 2;", "optional bytes name = 2;"
                ),
                # oneof moves: ONE existing field into a NEW oneof is the
                # documented safe refactor; fusing TWO existing fields
                # into one new oneof is breaking
                "move_single_to_new_oneof": (
                    "message Evt {\n  optional int64 id = 1;\n"
                    "  oneof ident {\n    string name = 2;\n  }\n}"
                ),
                "move_both_to_new_oneof": (
                    "message Evt {\n  oneof ident {\n"
                    "    int64 id = 1;\n    string name = 2;\n  }\n}"
                ),
            },
        ),
        # second PROTOBUF history: a schema that already HAS a oneof, for
        # the existing-oneof evolution rules
        "PROTOBUF#oneof": (
            [PROTO_ONEOF_V1],
            {
                "oneof_add_field": PROTO_ONEOF_V1.replace(
                    "    string name = 2;",
                    "    string name = 2;\n    bytes alt = 3;",
                ),
                "oneof_remove_field": PROTO_ONEOF_V1.replace(
                    "  oneof ident {\n    string name = 2;\n  }\n",
                    "  reserved 2;\n",
                ),
                "oneof_move_out": PROTO_ONEOF_V1.replace(
                    "  oneof ident {\n    string name = 2;\n  }\n",
                    "  optional string name = 2;\n",
                ),
                "oneof_move_existing_in": (
                    "message Evt {\n  oneof ident {\n    int64 id = 1;\n"
                    "    string name = 2;\n  }\n}"
                ),
            },
        ),
    }
    rows = [
        (
            stype.split("#")[0],
            mode,
            name,
            reg_ops.check_compatibility(
                mode, cand, history, stype.split("#")[0]
            ),
        )
        for stype, (history, cands) in cases.items()
        for mode in ("BACKWARD", "FORWARD", "FULL")
        for name, cand in cands.items()
    ]
    return spark.createDataFrame(
        rows, "schema_type string, mode string, candidate string, compatible boolean"
    )


@oracle("""SELECT doc_id,
       CAST(doc_id % 4 + 1 AS INT) AS schema_id,
       strlen(text) AS payload_len,
       substring(text, 1, 16) AS payload_prefix
FROM documents""")
def q_registry_wire(spark, sf_dir):
    """Confluent wire-format round-trip: 0x00 + int32 id + payload
    (ByteBufUtils.prependSchemaId:301-312), then strip back."""
    docs = load_table(spark, sf_dir, "documents")
    sid = (F.col("doc_id") % 4 + 1).cast("int")
    enc = reg_ops.prepend_schema_id(F.col("text").cast("binary"), sid)
    out_sid, payload = reg_ops.strip_schema_id(enc)
    return docs.select(
        "doc_id",
        out_sid.alias("schema_id"),
        F.length(payload).alias("payload_len"),
        payload.cast("string").substr(1, 16).alias("payload_prefix"),
    )


AVRO_ORDER_V1 = (
    '{"type":"record","name":"Order","fields":['
    '{"name":"orderkey","type":"long"},{"name":"custkey","type":"long"},'
    '{"name":"price_int","type":"int"},{"name":"status","type":"string"},'
    '{"name":"legacy_note","type":"string"}]}'
)
AVRO_ORDER_V2 = (
    '{"type":"record","name":"Order","fields":['
    '{"name":"orderkey","type":"long"},{"name":"custkey","type":"long"},'
    '{"name":"price_int","type":"long"},{"name":"status","type":"string"},'
    '{"name":"tag","type":["null","string"],"default":null}]}'
)
AVRO_ORDER_READER = (
    '{"type":"record","name":"Order","fields":['
    '{"name":"orderkey","type":"long"},{"name":"custkey","type":"long"},'
    '{"name":"price_int","type":"long"},{"name":"status","type":"string"},'
    '{"name":"tag","type":["null","string"],"default":null},'
    '{"name":"channel","type":"string","default":"web"}]}'
)


@oracle("""SELECT
  CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS INT) AS schema_id,
  o_orderkey AS orderkey,
  o_custkey AS custkey,
  CAST(floor(o_totalprice) AS BIGINT) AS price_int,
  o_orderstatus AS status,
  CASE WHEN o_orderkey % 2 = 0 THEN NULL
       WHEN o_orderkey % 3 = 0 THEN NULL
       ELSE o_orderpriority END AS tag,
  'web' AS channel
FROM orders""")
def q_typed_view_avro(spark, sf_dir):
    """Real Confluent-framed Avro wire round-trip with schema RESOLUTION:
    orders are encoded per-row under two different writer schemas (v1 has
    an int price and a legacy field; v2 a long price and a nullable tag),
    then decoded against a v3 reader — exercising int→long promotion,
    writer-only field skipping, union branches, and reader defaults
    (functions/avro_codec.py; reference ByteBufUtils.java:301-312 +
    SchemaRegistryTest.java). The oracle recomputes the resolved values
    straight from the source columns — any framing/codec bug breaks it."""
    orders = load_table(spark, sf_dir, "orders")
    rec1 = (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .select(
            F.lit(1).cast("int").alias("schema_id"),
            F.struct(
                F.col("o_orderkey").alias("orderkey"),
                F.col("o_custkey").alias("custkey"),
                F.floor("o_totalprice").cast("int").alias("price_int"),
                F.col("o_orderstatus").alias("status"),
                F.concat(F.lit("note-"), F.col("o_orderkey")).alias("legacy_note"),
            ).alias("record"),
        )
    )
    rec2 = (
        orders.filter(F.col("o_orderkey") % 2 == 1)
        .select(
            F.lit(2).cast("int").alias("schema_id"),
            F.struct(
                F.col("o_orderkey").alias("orderkey"),
                F.col("o_custkey").alias("custkey"),
                F.floor("o_totalprice").alias("price_int"),
                F.col("o_orderstatus").alias("status"),
                F.when(F.col("o_orderkey") % 3 == 0, F.lit(None).cast("string"))
                .otherwise(F.col("o_orderpriority"))
                .alias("tag"),
            ).alias("record"),
        )
    )
    schemas = {1: AVRO_ORDER_V1, 2: AVRO_ORDER_V2}
    enc = reg_ops.avro_encode(rec1, schemas).unionByName(reg_ops.avro_encode(rec2, schemas))
    dec = reg_ops.avro_decode(enc, schemas, AVRO_ORDER_READER)
    return dec.select(
        "schema_id",
        F.col("typed.orderkey").alias("orderkey"),
        F.col("typed.custkey").alias("custkey"),
        F.col("typed.price_int").alias("price_int"),
        F.col("typed.status").alias("status"),
        F.col("typed.tag").alias("tag"),
        F.col("typed.channel").alias("channel"),
    )


@oracle("""WITH norm AS (
  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM documents
), sets AS (
  SELECT doc_id,
         list_distinct(CASE WHEN length(t) >= 4
                            THEN [substring(t, i, 4) FOR i IN range(1, length(t) - 2)]
                            ELSE [] END) AS sh
  FROM norm
), hashes AS (
  SELECT doc_id,
         ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS h1,
         ('0x' || substr(md5(unnest(sh)), 16, 1))::BIGINT AS h2
  FROM sets
), votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN b < 60 THEN (CASE WHEN (h1 >> b) & 1 = 1 THEN 1 ELSE -1 END)
                  ELSE (CASE WHEN (h2 >> (b - 60)) & 1 = 1 THEN 1 ELSE -1 END) END) AS v
  FROM hashes CROSS JOIN (SELECT unnest(range(64)) AS b) bits
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN v > 0 AND b >= 32 THEN 1::BIGINT << (b - 32) ELSE 0 END) AS BIGINT) AS simhash_hi,
       CAST(sum(CASE WHEN v > 0 AND b < 32 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash_lo
FROM votes GROUP BY doc_id""")
def q_dedup_simhash(spark, sf_dir):
    # heavy map: spread the fingerprint pass over every core (the corpus
    # arrives as a couple of parquet splits — see simhash64's docstring)
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return dedup_ops.simhash64(docs, shingle_k=4)


@oracle("""WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
), norm AS (
  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM docs
), sets AS (
  SELECT doc_id,
         list_distinct(CASE WHEN length(t) >= 4
                            THEN [substring(t, i, 4) FOR i IN range(1, length(t) - 2)]
                            ELSE [] END) AS sh
  FROM norm
), hashes AS (
  SELECT doc_id,
         ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS h1,
         ('0x' || substr(md5(unnest(sh)), 16, 1))::BIGINT AS h2
  FROM sets
), votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN b < 60 THEN (CASE WHEN (h1 >> b) & 1 = 1 THEN 1 ELSE -1 END)
                  ELSE (CASE WHEN (h2 >> (b - 60)) & 1 = 1 THEN 1 ELSE -1 END) END) AS v
  FROM hashes CROSS JOIN (SELECT unnest(range(64)) AS b) bits
  GROUP BY doc_id, b
), fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 AND b >= 32 THEN 1::BIGINT << (b - 32) ELSE 0 END) AS BIGINT) AS simhash_hi,
         CAST(sum(CASE WHEN v > 0 AND b < 32 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash_lo
  FROM votes GROUP BY doc_id
), blocks AS (
  SELECT doc_id, simhash_hi, simhash_lo,
         simhash_lo & 65535 AS b0, (simhash_lo >> 16) & 65535 AS b1,
         simhash_hi & 65535 AS b2, (simhash_hi >> 16) & 65535 AS b3
  FROM fp
), cand AS (
  SELECT x.doc_id AS a, x.simhash_hi AS ha, x.simhash_lo AS la,
         y.doc_id AS b, y.simhash_hi AS hb, y.simhash_lo AS lb
  FROM blocks x JOIN blocks y ON x.b0 = y.b0 AND x.doc_id < y.doc_id
  WHERE x.b0 NOT IN (SELECT b0 FROM blocks GROUP BY b0 HAVING count(*) > 200)
  UNION ALL
  SELECT x.doc_id AS a, x.simhash_hi AS ha, x.simhash_lo AS la,
         y.doc_id AS b, y.simhash_hi AS hb, y.simhash_lo AS lb
  FROM blocks x JOIN blocks y ON x.b1 = y.b1 AND x.doc_id < y.doc_id
  WHERE x.b1 NOT IN (SELECT b1 FROM blocks GROUP BY b1 HAVING count(*) > 200)
  UNION ALL
  SELECT x.doc_id AS a, x.simhash_hi AS ha, x.simhash_lo AS la,
         y.doc_id AS b, y.simhash_hi AS hb, y.simhash_lo AS lb
  FROM blocks x JOIN blocks y ON x.b2 = y.b2 AND x.doc_id < y.doc_id
  WHERE x.b2 NOT IN (SELECT b2 FROM blocks GROUP BY b2 HAVING count(*) > 200)
  UNION ALL
  SELECT x.doc_id AS a, x.simhash_hi AS ha, x.simhash_lo AS la,
         y.doc_id AS b, y.simhash_hi AS hb, y.simhash_lo AS lb
  FROM blocks x JOIN blocks y ON x.b3 = y.b3 AND x.doc_id < y.doc_id
  WHERE x.b3 NOT IN (SELECT b3 FROM blocks GROUP BY b3 HAVING count(*) > 200)
)
SELECT a, b,
       CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS INT) AS hamming
FROM (SELECT DISTINCT a, b, ha, hb, la, lb FROM cand)
WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 3""")
def q_simhash_near_dups(spark, sf_dir):
    """SimHash hamming<=3 near-dup pairs over the corpus-with-clones
    fixture (4-block pigeonhole candidates, XOR-popcount verify)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return dedup_ops.simhash_near_dups(docs.unionByName(clones))


@oracle("""WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
), norm AS (
  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM docs
), sets AS (
  SELECT doc_id,
         list_distinct(CASE WHEN length(t) >= 4
                            THEN [substring(t, i, 4) FOR i IN range(1, length(t) - 2)]
                            ELSE [] END) AS sh
  FROM norm
), hashes AS (
  SELECT doc_id,
         ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS h1,
         ('0x' || substr(md5(unnest(sh)), 16, 1))::BIGINT AS h2
  FROM sets
), votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN b < 60 THEN (CASE WHEN (h1 >> b) & 1 = 1 THEN 1 ELSE -1 END)
                  ELSE (CASE WHEN (h2 >> (b - 60)) & 1 = 1 THEN 1 ELSE -1 END) END) AS v
  FROM hashes CROSS JOIN (SELECT unnest(range(64)) AS b) bits
  GROUP BY doc_id, b
), fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 AND b >= 32 THEN 1::BIGINT << (b - 32) ELSE 0 END) AS BIGINT) AS simhash_hi,
         CAST(sum(CASE WHEN v > 0 AND b < 32 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash_lo
  FROM votes GROUP BY doc_id
), blocks AS (
  SELECT doc_id, simhash_hi, simhash_lo,
         simhash_lo & 65535 AS b0, (simhash_lo >> 16) & 65535 AS b1,
         simhash_hi & 65535 AS b2, (simhash_hi >> 16) & 65535 AS b3
  FROM fp
), s0 AS (
  SELECT b0 AS bv, count(*) AS bs, min(doc_id) AS anchor,
         arg_min(simhash_hi, doc_id) AS ah, arg_min(simhash_lo, doc_id) AS al
  FROM blocks GROUP BY 1 HAVING count(*) <= 200
), s1 AS (
  SELECT b1 AS bv, count(*) AS bs, min(doc_id) AS anchor,
         arg_min(simhash_hi, doc_id) AS ah, arg_min(simhash_lo, doc_id) AS al
  FROM blocks GROUP BY 1 HAVING count(*) <= 200
), s2 AS (
  SELECT b2 AS bv, count(*) AS bs, min(doc_id) AS anchor,
         arg_min(simhash_hi, doc_id) AS ah, arg_min(simhash_lo, doc_id) AS al
  FROM blocks GROUP BY 1 HAVING count(*) <= 200
), s3 AS (
  SELECT b3 AS bv, count(*) AS bs, min(doc_id) AS anchor,
         arg_min(simhash_hi, doc_id) AS ah, arg_min(simhash_lo, doc_id) AS al
  FROM blocks GROUP BY 1 HAVING count(*) <= 200
), cand AS (
  SELECT x.doc_id AS a, x.simhash_hi AS ha, x.simhash_lo AS la,
         y.doc_id AS b, y.simhash_hi AS hb, y.simhash_lo AS lb
  FROM blocks x JOIN s0 s ON x.b0 = s.bv AND s.bs <= 4
  JOIN blocks y ON x.b0 = y.b0 AND x.doc_id < y.doc_id
  UNION ALL
  SELECT s.anchor, s.ah, s.al, x.doc_id, x.simhash_hi, x.simhash_lo
  FROM blocks x JOIN s0 s ON x.b0 = s.bv AND s.bs > 4 AND x.doc_id <> s.anchor
  UNION ALL
  SELECT x.doc_id, x.simhash_hi, x.simhash_lo, y.doc_id, y.simhash_hi, y.simhash_lo
  FROM blocks x JOIN s1 s ON x.b1 = s.bv AND s.bs <= 4
  JOIN blocks y ON x.b1 = y.b1 AND x.doc_id < y.doc_id
  UNION ALL
  SELECT s.anchor, s.ah, s.al, x.doc_id, x.simhash_hi, x.simhash_lo
  FROM blocks x JOIN s1 s ON x.b1 = s.bv AND s.bs > 4 AND x.doc_id <> s.anchor
  UNION ALL
  SELECT x.doc_id, x.simhash_hi, x.simhash_lo, y.doc_id, y.simhash_hi, y.simhash_lo
  FROM blocks x JOIN s2 s ON x.b2 = s.bv AND s.bs <= 4
  JOIN blocks y ON x.b2 = y.b2 AND x.doc_id < y.doc_id
  UNION ALL
  SELECT s.anchor, s.ah, s.al, x.doc_id, x.simhash_hi, x.simhash_lo
  FROM blocks x JOIN s2 s ON x.b2 = s.bv AND s.bs > 4 AND x.doc_id <> s.anchor
  UNION ALL
  SELECT x.doc_id, x.simhash_hi, x.simhash_lo, y.doc_id, y.simhash_hi, y.simhash_lo
  FROM blocks x JOIN s3 s ON x.b3 = s.bv AND s.bs <= 4
  JOIN blocks y ON x.b3 = y.b3 AND x.doc_id < y.doc_id
  UNION ALL
  SELECT s.anchor, s.ah, s.al, x.doc_id, x.simhash_hi, x.simhash_lo
  FROM blocks x JOIN s3 s ON x.b3 = s.bv AND s.bs > 4 AND x.doc_id <> s.anchor
)
SELECT a, b,
       CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS INT) AS hamming
FROM (SELECT DISTINCT a, b, ha, hb, la, lb FROM cand)
WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 3""")
def q_simhash_near_dups_capped(spark, sf_dir):
    """simhash_near_dups with the Σ bucket² star cap (star_above=4):
    block buckets larger than the cap emit anchor-star candidates only —
    |bucket| rows instead of |bucket|² — the linear-candidate path for
    boilerplate-heavy corpora (dedup.py simhash_near_dups star_above).
    The oracle replays the per-block size/anchor topology in SQL."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return dedup_ops.simhash_near_dups(docs.unionByName(clones), star_above=4)


def _emb_with_near(emb):
    pert = (
        emb.filter(F.col("vec_id") % 20 == 0)
        .withColumn("vec_id", F.col("vec_id") + 1_000_000)
        .withColumn(
            "embedding",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x, i: F.when(i == F.lit(0), x * 1.1).otherwise(x),
            ),
        )
    )
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    return base.unionByName(pert.select("vec_id", "embedding"))


@oracle("""WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), pert AS (
  SELECT vec_id + 1000000 AS vec_id,
         [CASE WHEN i = 1 THEN v[i] * 1.1 ELSE v[i] END FOR i IN range(1, len(v) + 1)] AS v
  FROM base WHERE vec_id % 20 = 0
), allv AS (
  SELECT * FROM base UNION ALL SELECT * FROM pert
), pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
)
SELECT a, b, cos FROM pairs WHERE cos >= 0.95""")
def q_dedup_embedding(spark, sf_dir):
    emb = _emb_with_near(load_table(spark, sf_dir, "embeddings"))
    pairs = dedup_ops.embedding_cosine_dups(emb, threshold=0.95, n_planes=0)
    return pairs.select("a", "b", F.round("cos", 6).alias("cos"))


# dedup_embedding_lsh: same base+perturbed corpus as dedup_embedding,
# candidate pairs restricted to equal 4-plane LSH buckets.
@oracle(f"""WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), pert AS (
  SELECT vec_id + 1000000 AS vec_id,
         [CASE WHEN i = 1 THEN v[i] * 1.1 ELSE v[i] END FOR i IN range(1, len(v) + 1)] AS v
  FROM base WHERE vec_id % 20 = 0
), allv AS (
  SELECT * FROM base UNION ALL SELECT * FROM pert
), bk AS (
  SELECT vec_id, v, {_hp_bucket_sql('v', 4)} AS bkt FROM allv
), pairs AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
         round(list_dot_product(x.v, y.v)
               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS cos
  FROM bk x JOIN bk y ON x.bkt = y.bkt AND x.vec_id < y.vec_id
)
SELECT a, b, cos FROM pairs WHERE cos >= 0.95""")
def q_dedup_embedding_lsh(spark, sf_dir):
    """LSH-bucketed near-dup pairs. The hyperplane signs are md5-derived
    (operators/similarity.py:hyperplane_bucket), so the bucketing — and
    therefore the exact candidate set — is reproducible in DuckDB; the
    oracle replays the identical ±1 projection fold per plane."""
    emb = _emb_with_near(load_table(spark, sf_dir, "embeddings"))
    pairs = dedup_ops.embedding_cosine_dups(emb, threshold=0.95, n_planes=4)
    return pairs.select("a", "b", F.round("cos", 6).alias("cos"))


# dedup_embedding_lsh_auto: same corpus as dedup_embedding_lsh, but
# the plane count is DERIVED from the corpus count exactly like
# similarity.auto_plane_count(n, target_bucket=16): n<=16 -> 1, else
# clamp(ceil(log2(n/16)), 1, 24).
@oracle(f"""WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), pert AS (
  SELECT vec_id + 1000000 AS vec_id,
         [CASE WHEN i = 1 THEN v[i] * 1.1 ELSE v[i] END FOR i IN range(1, len(v) + 1)] AS v
  FROM base WHERE vec_id % 20 = 0
), allv AS (
  SELECT * FROM base UNION ALL SELECT * FROM pert
), np AS (
  SELECT CASE WHEN count(*) <= 16 THEN 1
              ELSE greatest(1, least(24, CAST(ceil(log2(count(*) / 16.0)) AS INT)))
         END AS p
  FROM allv
), bk AS (
  SELECT vec_id, v, {_hp_bucket_dyn_sql('v', '(SELECT p FROM np)')} AS bkt FROM allv
), pairs AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
         round(list_dot_product(x.v, y.v)
               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS cos
  FROM bk x JOIN bk y ON x.bkt = y.bkt AND x.vec_id < y.vec_id
)
SELECT a, b, cos, (SELECT p FROM np) AS n_planes
FROM pairs WHERE cos >= 0.95""")
def q_dedup_embedding_lsh_auto(spark, sf_dir):
    """Auto-sized LSH bucketing (similarity.auto_plane_count): the plane
    count derives from the corpus count targeting expected bucket
    occupancy ≤ 16, so within-bucket quadratic work stays bounded at
    100× corpus growth with no caller tuning. The oracle derives the
    SAME p from the same count inside SQL (dynamic nested-lambda bucket
    expression), so the auto choice itself is under the correctness
    gate — 525 vectors → p=6 here, deliberately different from
    dedup_embedding_lsh's fixed p=4."""
    emb = _emb_with_near(load_table(spark, sf_dir, "embeddings"))
    # derive p the same way embedding_cosine_dups(n_planes=None) does and
    # EMIT it, so the auto derivation itself is hash-compared against the
    # oracle's SQL-side derivation (identical pair sets alone could pass
    # with two different-but-lossless p choices)
    p = sim_ops.auto_plane_count(emb.count(), target_bucket=16)
    pairs = dedup_ops.embedding_cosine_dups(
        emb, threshold=0.95, n_planes=p
    )
    return pairs.select(
        "a", "b", F.round("cos", 6).alias("cos"),
        F.lit(p).alias("n_planes"),
    )


@oracle("""WITH padded AS (
  SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM documents
), scores AS (
  SELECT doc_id, text,
    CAST((length(p) - length(replace(p, ' der ', ''))) / 5 AS INT)
      + CAST((length(p) - length(replace(p, ' und ', ''))) / 5 AS INT)
      + CAST((length(p) - length(replace(p, ' die ', ''))) / 5 AS INT) AS s_de,
    CAST((length(p) - length(replace(p, ' the ', ''))) / 5 AS INT)
      + CAST((length(p) - length(replace(p, ' and ', ''))) / 5 AS INT)
      + CAST((length(p) - length(replace(p, ' of ', ''))) / 4 AS INT) AS s_en,
    CAST((length(p) - length(replace(p, ' el ', ''))) / 4 AS INT)
      + CAST((length(p) - length(replace(p, ' la ', ''))) / 4 AS INT)
      + CAST((length(p) - length(replace(p, ' de ', ''))) / 4 AS INT) AS s_es,
    CAST((length(p) - length(replace(p, ' le ', ''))) / 4 AS INT)
      + CAST((length(p) - length(replace(p, ' la ', ''))) / 4 AS INT)
      + CAST((length(p) - length(replace(p, ' et ', ''))) / 4 AS INT) AS s_fr
  FROM padded
), lang AS (
  SELECT doc_id, text,
    CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
         WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
         WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
         WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
         ELSE 'und' END AS pred_lang
  FROM scores
)
SELECT pred_lang, rk, doc_id, n_chars FROM (
  SELECT pred_lang, doc_id, length(text) AS n_chars,
         row_number() OVER (PARTITION BY pred_lang ORDER BY length(text) DESC, doc_id) AS rk
  FROM lang
) WHERE rk <= 3""")
def q_top_docs_per_lang(spark, sf_dir):
    """Grouped top-k: the 3 longest docs per predicted language (rank per
    group + filter — the per-key top-N every analytics surface needs)."""
    from pyspark.sql import Window

    docs = text_ops.language_id(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("pred_lang").orderBy(
        F.length("text").desc(), F.col("doc_id")
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("pred_lang", "rk", "doc_id", F.length("text").alias("n_chars"))
    )


Q5_SQL = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))
                * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@oracle(Q5_SQL)
def q_sql_surface_q5(spark, sf_dir):
    """The engine's user-facing query surface IS Spark SQL (SURVEY §2.6):
    register the testdata as views and run a TPC-H Q5-shaped join chain as
    raw SQL text — identical text runs on the DuckDB oracle."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q5_SQL)


Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders    ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


Q3_SQL = """
SELECT l_orderkey,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))
                * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15'
  AND l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


Q10_SQL = """
SELECT c_custkey, c_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))
                * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       CAST(sum(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(9,2))) > 200
)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


Q2_SQL = """
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM part, supplier, lineitem, nation, region
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
  AND p_size <= 10 AND p_type = 'LARGE'
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND l_extendedprice / l_quantity = (
      SELECT min(l2.l_extendedprice / l2.l_quantity)
      FROM lineitem l2, supplier s2, nation n2, region r2
      WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
        AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
        AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year, CAST(sum(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(9,2))
           * (1 - CAST(l_discount AS DECIMAL(3,2))) AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
    AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


Q8_SQL = """
SELECT o_year,
       round(CAST(coalesce(sum(CASE WHEN nation = 'NATION_3' THEN volume END), 0)
                  AS DOUBLE) / CAST(sum(volume) AS DOUBLE), 9) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(9,2))
           * (1 - CAST(l_discount AS DECIMAL(3,2))) AS volume,
         n2.n_name AS nation
  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey
    AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
    AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
    AND s_nationkey = n2.n_nationkey
    AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
    AND p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
"""


Q9_SQL = """
SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(9,2))
           * (1 - CAST(l_discount AS DECIMAL(3,2)))
           - CAST(p_retailprice AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2))
           AS amount
  FROM part, supplier, lineitem, orders, nation
  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
    AND p_name LIKE '%widget%'
) profit
GROUP BY nation, o_year
"""


Q11_SQL = """
SELECT l_partkey, CAST(sum(value) AS DOUBLE) AS part_value
FROM (
  SELECT l_partkey, CAST(l_extendedprice AS DECIMAL(9,2))
                      * CAST(l_quantity AS DECIMAL(9,2)) AS value
  FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = 'NATION_5'
) sup
GROUP BY l_partkey
HAVING CAST(sum(value) AS DOUBLE) > (
  SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))
                  * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) * 0.001
  FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = 'NATION_5')
"""


Q12_SQL = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
  AND l_returnflag IN ('A', 'N')
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
"""


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


Q17_SQL = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) / 7.0
         AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey AND p_brand = 'Brand#3' AND p_type = 'SMALL'
  AND l_quantity < (
    SELECT 0.2 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                  / count(*))
    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


Q20_SQL = """
SELECT s_name, s_acctbal
FROM supplier, nation
WHERE s_suppkey IN (
    SELECT l_suppkey FROM lineitem, part
    WHERE l_partkey = p_partkey AND p_name LIKE 'small%'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > 40
  )
  AND s_nationkey = n_nationkey AND n_name = 'NATION_7'
"""


Q22_SQL = """
SELECT cntrycode, count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM (
  SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode, c_acctbal, c_custkey
  FROM customer
  WHERE c_nationkey % 10 IN (1, 3, 5, 7)
    AND c_acctbal > (
      SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
      FROM customer c2
      WHERE c2.c_acctbal > 0.0 AND c2.c_nationkey % 10 IN (1, 3, 5, 7))
    AND NOT EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT')
) custsale
GROUP BY cntrycode
"""


@oracle(Q2_SQL)
def q_sql_surface_q2(spark, sf_dir):
    """TPC-H Q2 shape: min-unit-price supplier per qualifying part: correlated scalar MIN subquery over a 4-table join (partsupp adapted to the lineitem supply relation).
    Same SQL text runs on both engines."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q2_SQL)


@oracle(Q7_SQL)
def q_sql_surface_q7(spark, sf_dir):
    """TPC-H Q7 shape: volume shipping between a nation pair, grouped by ship year: 6-table join with a symmetric nation-pair disjunction.
    Same SQL text runs on both engines."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q7_SQL)


@oracle(Q8_SQL)
def q_sql_surface_q8(spark, sf_dir):
    """TPC-H Q8 shape: market share of one supplier nation inside a region per order year: conditional-sum ratio over an 8-table join.
    Same SQL text runs on both engines."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q8_SQL)


@oracle(Q9_SQL)
def q_sql_surface_q9(spark, sf_dir):
    """TPC-H Q9 shape: product-type profit per nation and year (supply cost adapted to p_retailprice), LIKE-filtered part join.
    Same SQL text runs on both engines."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q9_SQL)


@oracle(Q11_SQL)
def q_sql_surface_q11(spark, sf_dir):
    """TPC-H Q11 shape: important part values for one nation with a scalar-subquery HAVING threshold (partsupp adapted to lineitem supply value).
    Same SQL text runs on both engines."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q11_SQL)


@oracle(Q12_SQL)
def q_sql_surface_q12(spark, sf_dir):
    """TPC-H Q12 shape: priority line counts per line status (shipmode adapted to returnflag classes): conditional-sum pivot over the order join.
    Same SQL text runs on both engines."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q12_SQL)


@oracle(Q13_SQL)
def q_sql_surface_q13(spark, sf_dir):
    """TPC-H Q13 shape: customer order-count distribution: LEFT JOIN with an extra ON filter, agg-of-agg (comment filter adapted to priority).
    Same SQL text runs on both engines."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q13_SQL)


@oracle(Q16_SQL)
def q_sql_surface_q16(spark, sf_dir):
    """TPC-H Q16 shape: supplier count per part attribute combo with a NOT IN exclusion subquery (partsupp adapted to lineitem).
    Same SQL text runs on both engines."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q16_SQL)


@oracle(Q17_SQL)
def q_sql_surface_q17(spark, sf_dir):
    """TPC-H Q17 shape: small-quantity-order revenue: correlated per-part 0.2*avg quantity threshold subquery.
    Same SQL text runs on both engines."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q17_SQL)


@oracle(Q20_SQL)
def q_sql_surface_q20(spark, sf_dir):
    """TPC-H Q20 shape: suppliers shipping excess volume of a part-name family: IN over a grouped HAVING subquery.
    Same SQL text runs on both engines."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q20_SQL)


@oracle(Q22_SQL)
def q_sql_surface_q22(spark, sf_dir):
    """TPC-H Q22 shape: acctbal of rich never-ordered customers per country code: NOT EXISTS anti-join + uncorrelated scalar AVG subquery (phone prefix adapted to nationkey mod).
    Same SQL text runs on both engines."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q22_SQL)


@oracle(Q21_SQL)
def q_sql_surface_q21(spark, sf_dir):
    """TPC-H Q21 shape: the only-supplier-who-was-late query — correlated
    EXISTS (left-semi) plus NOT EXISTS (null-aware left-anti) in one
    block, the hardest decorrelation shape in the dialect."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q21_SQL)


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


Q14_SQL = """
SELECT 100 * CAST(sum(CASE WHEN p_type = 'PROMO'
               THEN CAST(l_extendedprice AS DECIMAL(9,2))
                    * (1 - CAST(l_discount AS DECIMAL(3,2))) END) AS DOUBLE)
         / CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))
                    * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
"""


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))
                  * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


Q19_SQL = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))
                * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 25)
   OR (p_brand = 'Brand#3'  AND l_quantity BETWEEN 20 AND 35 AND p_size BETWEEN 1 AND 35)
"""


@oracle(Q4_SQL)
def q_sql_surface_q4(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS correlated semi-join (late-shipping orders
    per priority) — Catalyst plans the EXISTS as a left-semi hash join."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q4_SQL)


@oracle(Q14_SQL)
def q_sql_surface_q14(spark, sf_dir):
    """TPC-H Q14 shape: promo revenue ratio (conditional aggregate over a
    fact-dim join; exact DECIMAL sums, one double division)."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q14_SQL)


@oracle(Q15_SQL)
def q_sql_surface_q15(spark, sf_dir):
    """TPC-H Q15 shape: top supplier via scalar subquery over a CTE
    (agg-of-agg; the revenue view computed once, reused twice)."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q15_SQL)


@oracle(Q19_SQL)
def q_sql_surface_q19(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive multi-branch predicate over a join —
    the pushdown/NAAJ stress; one-row exact DECIMAL revenue."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q19_SQL)


ROLLUP_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@oracle(ROLLUP_SQL)
def q_sql_surface_rollup(spark, sf_dir):
    """GROUP BY ROLLUP super-aggregates (a surface the reference's broker
    has no analog for, SURVEY §2.6 — free on the Spark SQL engine)."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(ROLLUP_SQL)


CUBE_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
       coalesce(o_orderpriority, 'ALL') AS orderpriority,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@oracle(CUBE_SQL)
def q_sql_surface_cube(spark, sf_dir):
    """GROUP BY CUBE — the full grouping-sets lattice (all four subsets of
    the two keys), the sibling super-aggregate surface to ROLLUP."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(CUBE_SQL)


@oracle(Q10_SQL)
def q_sql_surface_q10(spark, sf_dir):
    """TPC-H Q10-shaped (returned-item reporting): date-windowed fact scan,
    returnflag filter, 4-way join, revenue top-20."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q10_SQL)


@oracle(Q18_SQL)
def q_sql_surface_q18(spark, sf_dir):
    """TPC-H Q18-shaped (large-volume customers): HAVING-filtered semi-join
    of orders against their own lineitem aggregate."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q18_SQL)


@oracle(Q3_SQL)
def q_sql_surface_q3(spark, sf_dir):
    """TPC-H Q3-shaped (shipping-priority top-k; o_orderpriority stands in
    for the synthetic schema's missing o_shippriority): selective dim
    filter → fact join → agg → global top-10. Exercises join reordering +
    TakeOrderedAndProject; identical SQL text runs on the DuckDB oracle."""
    from starlight_for_kafka_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(Q3_SQL)


@oracle("""WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 4 < 2
), incoming AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 4 >= 1
), seen AS (
  SELECT DISTINCT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS dig FROM corpus
), fresh AS (
  SELECT i.doc_id, md5(regexp_replace(lower(i.text), '\\s+', ' ', 'g')) AS dig
  FROM incoming i
  WHERE NOT EXISTS (
    SELECT 1 FROM seen s WHERE s.dig = md5(regexp_replace(lower(i.text), '\\s+', ' ', 'g'))
  )
)
SELECT doc_id FROM fresh
QUALIFY row_number() OVER (PARTITION BY dig ORDER BY doc_id) = 1""")
def q_dedup_incremental(spark, sf_dir):
    """Incremental ingestion: dedup an incoming batch (docs 2..3 quarters of
    the corpus + clones of the first quarter) against the existing corpus
    (first half)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 4 < 2)
    incoming = docs.filter(F.col("doc_id") % 4 >= 1)  # overlaps corpus on %4==1
    return dedup_ops.incremental_dedup(incoming, corpus).select("doc_id")


# incremental_minhash_dedup with star_above=4, max_bucket=None:
# combined-occupancy buckets ≤4 emit the full corpus×batch product;
# >4 emit each batch row against the bucket's MIN corpus id (no pair
# when the bucket holds no corpus row). Within-batch candidates replay
# minhash_lsh_candidates' star: batch-occupancy ≤4 cliques (a<b),
# >4 anchor stars (min batch id vs every other member).
@oracle(f"""WITH rev AS (
  SELECT doc_id,
         array_to_string(list_reverse(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')), ' ') AS rtext
  FROM documents
),
newdocs AS (
  SELECT doc_id + r * 1000000 AS doc_id, text || ' crawl tail' AS text
  FROM documents CROSS JOIN (SELECT unnest([2, 3, 4, 5, 6]) AS r)
  WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + 9000000, rtext FROM rev WHERE doc_id % 40 = 21
),
docs AS (
  SELECT doc_id, text, 0 AS is_new FROM documents
  UNION ALL
  SELECT doc_id, text, 1 FROM newdocs
),
w AS (
  SELECT doc_id, is_new,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM docs
),
s AS (
  SELECT doc_id, is_new,
         list_distinct(CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
           ELSE [] END) AS sset
  FROM w
),
h AS (
  SELECT doc_id, is_new,
         list_transform(sset, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {_MINHASH_P}) AS hs
  FROM s
),
sig AS (SELECT doc_id, is_new, [{_MINHASH_SIG}] AS sg FROM h),
banded AS (
  SELECT doc_id, is_new, bt.band,
         CASE bt.band WHEN 0 THEN bk[1] WHEN 1 THEN bk[2]
                      WHEN 2 THEN bk[3] ELSE bk[4] END AS bucket
  FROM (SELECT doc_id, is_new, [{_MINHASH_BANDS}] AS bk FROM sig) t
  CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) bt
),
sized AS (
  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bs,
         sum(CASE WHEN is_new = 1 THEN 1 ELSE 0 END)
             OVER (PARTITION BY band, bucket) AS bs_new
  FROM banded
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM sized x JOIN sized y USING (band, bucket)
  WHERE x.is_new = 0 AND y.is_new = 1 AND x.bs <= 4
  UNION
  SELECT DISTINCT anc.a, y.doc_id AS b
  FROM (SELECT band, bucket, min(doc_id) AS a
        FROM sized WHERE is_new = 0 GROUP BY 1, 2) anc
  JOIN sized y USING (band, bucket)
  WHERE y.is_new = 1 AND y.bs > 4
  UNION
  SELECT DISTINCT x.doc_id, y.doc_id
  FROM sized x JOIN sized y USING (band, bucket)
  WHERE x.is_new = 1 AND y.is_new = 1 AND x.doc_id < y.doc_id
    AND x.bs_new <= 4
  UNION
  SELECT DISTINCT anc.a, y.doc_id
  FROM (SELECT band, bucket, min(doc_id) AS a
        FROM sized WHERE is_new = 1 GROUP BY 1, 2) anc
  JOIN sized y USING (band, bucket)
  WHERE y.is_new = 1 AND y.doc_id != anc.a AND y.bs_new > 4
),
ver AS (
  SELECT c.a, c.b FROM cand c
  JOIN s sa ON sa.doc_id = c.a
  JOIN s sb ON sb.doc_id = c.b
  WHERE CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
        / (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset))) >= 0.7
),
losers AS (SELECT DISTINCT b AS doc_id FROM ver)
SELECT n.doc_id FROM newdocs n ANTI JOIN losers l USING (doc_id)""")
def q_dedup_minhash_incremental_star(spark, sf_dir):
    """The STARRED incremental probe (round 9): a recurring crawl's
    most-duplicated doc makes every probe bucket hot, and the drop-only
    cap admits it — star_above pairs each batch row in a hot bucket
    with the bucket's minimum corpus id instead (linear cost, recall
    kept). Fixture: 5 identical near-clones of every doc_id%50==0
    corpus doc (hot buckets of 5-6 > star_above=4 — both the cross
    anchor-star and the within-batch star fire) plus unique reversed
    docs that must survive. Oracle replays combined-occupancy cross
    cliques/stars and batch-occupancy within cliques/stars exactly."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 50 == 0)
    clones = None
    for r in range(2, 7):
        c = base.select(
            (F.col("doc_id") + r * 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" crawl tail")).alias("text"),
        )
        clones = c if clones is None else clones.unionByName(c)
    rev = F.array_join(F.reverse(words(F.col("text"))), " ")
    fresh = docs.filter(F.col("doc_id") % 40 == 21).select(
        (F.col("doc_id") + 9_000_000).alias("doc_id"), rev.alias("text")
    )
    new = clones.unionByName(fresh)
    return dedup_ops.incremental_minhash_dedup(
        new, docs, num_hashes=16, bands=4, shingle_k=3,
        threshold=0.7, shingle_mode="word",
        max_bucket=None, star_above=4,
    ).select("doc_id")


# incremental_minhash_dedup: the asymmetric MinHash pipeline —
# corpus side never self-pairs; cross candidates capped by COMBINED
# bucket occupancy, within-batch candidates by BATCH-only occupancy
# (exactly the two caps dedup.incremental_minhash_dedup applies);
# survivors are batch docs with no verified senior partner.
@oracle(f"""WITH rev AS (
  SELECT doc_id,
         array_to_string(list_reverse(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')), ' ') AS rtext
  FROM documents
),
newdocs AS (
  SELECT doc_id + 2000000 AS doc_id, text || ' extra token' AS text
  FROM documents WHERE doc_id % 25 = 0
  UNION ALL
  SELECT doc_id + 3000000, rtext FROM rev WHERE doc_id % 40 = 7
  UNION ALL
  SELECT doc_id + 4000000, rtext FROM rev WHERE doc_id % 40 = 7
  UNION ALL
  SELECT doc_id + 5000000, rtext FROM rev WHERE doc_id % 40 = 21
),
docs AS (
  SELECT doc_id, text, 0 AS is_new FROM documents
  UNION ALL
  SELECT doc_id, text, 1 FROM newdocs
),
w AS (
  SELECT doc_id, is_new,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM docs
),
s AS (
  SELECT doc_id, is_new,
         list_distinct(CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
           ELSE [] END) AS sset
  FROM w
),
h AS (
  SELECT doc_id, is_new,
         list_transform(sset, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {_MINHASH_P}) AS hs
  FROM s
),
sig AS (SELECT doc_id, is_new, [{_MINHASH_SIG}] AS sg FROM h),
banded AS (
  SELECT doc_id, is_new, bt.band,
         CASE bt.band WHEN 0 THEN bk[1] WHEN 1 THEN bk[2]
                      WHEN 2 THEN bk[3] ELSE bk[4] END AS bucket
  FROM (SELECT doc_id, is_new, [{_MINHASH_BANDS}] AS bk FROM sig) t
  CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) bt
),
sized AS (
  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bs,
         sum(CASE WHEN is_new = 1 THEN 1 ELSE 0 END)
             OVER (PARTITION BY band, bucket) AS bs_new
  FROM banded
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM sized x JOIN sized y USING (band, bucket)
  WHERE x.is_new = 0 AND y.is_new = 1 AND x.bs <= 200
  UNION
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM sized x JOIN sized y USING (band, bucket)
  WHERE x.is_new = 1 AND y.is_new = 1 AND x.doc_id < y.doc_id
    AND x.bs_new <= 200
),
ver AS (
  SELECT c.a, c.b FROM cand c
  JOIN s sa ON sa.doc_id = c.a
  JOIN s sb ON sb.doc_id = c.b
  WHERE CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
        / (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset))) >= 0.7
),
losers AS (SELECT DISTINCT b AS doc_id FROM ver)
SELECT n.doc_id FROM newdocs n ANTI JOIN losers l USING (doc_id)""")
def q_dedup_minhash_incremental(spark, sf_dir):
    """Incremental NEAR dedup (dedup.py incremental_minhash_dedup): an
    incoming batch is deduped against the existing corpus WITHOUT any
    corpus self-join — the recurring-crawl shape. Batch fixture: near-dup
    clones of corpus docs (+2M, ' extra token' — must drop against the
    corpus), within-batch duplicate pairs of word-reversed texts
    (+3M/+4M — reversal destroys the word 3-shingles so they clear the
    corpus but collide with each other; the smaller id survives), and
    unique word-reversed docs (+5M — all survive). The oracle replays the
    full asymmetric pipeline: combined-occupancy cap for cross pairs,
    batch-only occupancy for within-batch pairs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rev = F.array_join(F.reverse(words(F.col("text"))), " ")
    near = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
    )
    dup_a = docs.filter(F.col("doc_id") % 40 == 7).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), rev.alias("text")
    )
    dup_b = docs.filter(F.col("doc_id") % 40 == 7).select(
        (F.col("doc_id") + 4_000_000).alias("doc_id"), rev.alias("text")
    )
    fresh = docs.filter(F.col("doc_id") % 40 == 21).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), rev.alias("text")
    )
    new = near.unionByName(dup_a).unionByName(dup_b).unionByName(fresh)
    return dedup_ops.incremental_minhash_dedup(
        new, docs, num_hashes=16, bands=4, shingle_k=3,
        threshold=0.7, shingle_mode="word",
    ).select("doc_id")


def _fuzzy_bench_fixture(spark, sf_dir):
    """Shared fixture for the fuzzy-decontamination entries: corpus =
    documents as-is; benchmark = every 50th doc + ' eval answer token'
    (a paraphrase-level leak — word 3-shingle Jaccard stays >= 0.7, so
    the corpus original MUST be flagged) plus word-reversed %50==13 docs
    (reversal destroys word shingles — clean eval items, flag nothing).
    Benchmark ids offset so ids stay unique across both inputs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rev = F.array_join(F.reverse(words(F.col("text"))), " ")
    leak = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 7_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" eval answer token")).alias("text"),
    )
    clean = docs.filter(F.col("doc_id") % 50 == 13).select(
        (F.col("doc_id") + 8_000_000).alias("doc_id"), rev.alias("text")
    )
    return docs, leak.unionByName(clean)


@oracle(_decontaminate_fuzzy_oracle_sql())
def q_decontaminate_fuzzy(spark, sf_dir):
    """NEAR-dup benchmark decontamination (dedup.fuzzy_decontaminate):
    MinHash-LSH candidates against a BROADCAST benchmark, exact-Jaccard
    verify on the candidate sliver, corpus side map-only end to end —
    the FineWeb/Llama-style eval scrub that catches lightly-edited
    leaks exact n-gram matching (benchmark_contamination) misses. The
    oracle replays signatures, banding, the bench-side hot-bucket cap,
    and the verify threshold with the same md5 hash family."""
    docs, bench = _fuzzy_bench_fixture(spark, sf_dir)
    return dedup_ops.fuzzy_decontaminate(
        docs, bench, num_hashes=16, bands=4, shingle_k=3,
        threshold=0.7, shingle_mode="word",
    ).select("doc_id")


# identical parameters + stored-vs-recomputed signatures are
# value-identical, so the stored path shares the oracle
@oracle(_decontaminate_fuzzy_oracle_sql())
def q_decontaminate_fuzzy_stored(spark, sf_dir):
    """The PRODUCTION shape of the eval scrub (dedup.fuzzy_decontaminate
    with ``corpus_signatures``): corpus MinHash signatures live AT REST
    next to the corpus (computed once at ingest via minhash_signatures,
    stored columnar), so the probe side never re-reads or re-shingles
    corpus text — candidate discovery is a parquet column scan into a
    broadcast probe. First call per (sf_dir) writes the signature table
    to a temp parquet (the ingest-time cost, paid once); subsequent
    calls — and every bench pass after the cold one — read it back,
    which is exactly what a recurring scrub against a stored corpus
    pays. Same fixture, parameters, and result set as
    q_decontaminate_fuzzy, so the two share an oracle."""
    import os
    import re
    import tempfile

    docs, bench = _fuzzy_bench_fixture(spark, sf_dir)
    tag = re.sub(r"[^A-Za-z0-9.]+", "-", sf_dir.strip("/"))
    path = os.path.join(tempfile.gettempdir(), f"slk-fuzzy-sigs-{tag}")
    marker = os.path.join(path, "_SUCCESS")

    def _write():
        dedup_ops.minhash_signatures(
            docs, "text", "doc_id", 16, 3, "word"
        ).write.mode("overwrite").parquet(path)

    if not os.path.exists(marker):
        _write()
    sigs = spark.read.parquet(path)
    # staleness probe: a cached table written by an OLDER signature
    # implementation would silently change the result — recompute ONE
    # doc's signature (two tiny jobs) and rewrite the cache on mismatch
    probe = dedup_ops.minhash_signatures(
        docs.orderBy("doc_id").limit(1), "text", "doc_id", 16, 3, "word"
    ).first()
    if probe is not None:
        cached = sigs.filter(F.col("doc_id") == probe["doc_id"]).first()
        if cached is None or list(cached["signature"]) != list(probe["signature"]):
            _write()
            sigs = spark.read.parquet(path)
    return dedup_ops.fuzzy_decontaminate(
        docs, bench, num_hashes=16, bands=4, shingle_k=3,
        threshold=0.7, shingle_mode="word", corpus_signatures=sigs,
    ).select("doc_id")


# contamination_pairs: the verified pair set itself (report mode).
@oracle(f"""WITH {_fuzzy_decontaminate_cte()}
SELECT corpus_id, bench_id, jaccard FROM ver""")
def q_contamination_pairs(spark, sf_dir):
    """Leak attribution (dedup.fuzzy_decontaminate mode='report'): the
    verified (corpus_id, bench_id, jaccard) contamination pairs — which
    eval item leaks, and how many corpus docs each one taints. Same
    fixture and pipeline as decontaminate_fuzzy; emitting the pair set
    pins the candidate topology and the exact-Jaccard verify values."""
    docs, bench = _fuzzy_bench_fixture(spark, sf_dir)
    return dedup_ops.fuzzy_decontaminate(
        docs, bench, num_hashes=16, bands=4, shingle_k=3,
        threshold=0.7, shingle_mode="word", mode="report",
    ).select("corpus_id", "bench_id", "jaccard")


@oracle(_filter_funnel_oracle_sql())
def q_filter_funnel(spark, sf_dir):
    """Quality-pipeline attrition report (text.filter_funnel): four
    chained gates over documents — min length, known language, word-
    count band — with per-stage rows_in/removed/rows_out and the
    removed_solely uniqueness signal (docs failing ONLY that gate).
    One corpus scan, one partial-combined aggregation, report reshaped
    in-plan; the governance pass run before committing a 100 TB filter
    job. Word count matches the text_stats recipe exactly (split on
    \\s+ over trimmed text) so both engines count identically."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return text_ops.filter_funnel(
        docs,
        [
            ("min_chars", F.length("text") >= 200),
            ("lang_known", F.col("lang").isin("en", "es", "de", "fr")),
            ("min_words", n_words >= 30),
            ("max_words", n_words <= 2000),
        ],
    )


# dedup_minhash_by_lang: the minhash pipeline with the policy
# column (lang) in every bucket key — candidates, caps, and pairs all
# scoped within the cell, exactly like minhash_lsh_candidates
# partition_cols.
@oracle(f"""WITH corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, lang, text || ' extra token'
  FROM documents WHERE doc_id % 20 = 0
  UNION ALL
  SELECT doc_id + 2000000, 'xx-' || lang, text
  FROM documents WHERE doc_id % 20 = 5
),
w AS (
  SELECT doc_id, lang,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM corpus
),
s AS (
  SELECT doc_id, lang,
         list_distinct(CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
           ELSE [] END) AS sset
  FROM w
),
h AS (
  SELECT doc_id, lang,
         list_transform(sset, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {_MINHASH_P}) AS hs
  FROM s
),
sig AS (SELECT doc_id, lang, [{_MINHASH_SIG}] AS sg FROM h),
banded AS (
  SELECT doc_id, lang, bt.band,
         CASE bt.band WHEN 0 THEN bk[1] WHEN 1 THEN bk[2]
                      WHEN 2 THEN bk[3] ELSE bk[4] END AS bucket
  FROM (SELECT doc_id, lang, [{_MINHASH_BANDS}] AS bk FROM sig) t
  CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) bt
),
sized AS (
  SELECT *, count(*) OVER (PARTITION BY lang, band, bucket) AS bs
  FROM banded
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM (SELECT * FROM sized WHERE bs <= 200) x
  JOIN (SELECT * FROM sized WHERE bs <= 200) y USING (lang, band, bucket)
  WHERE x.doc_id < y.doc_id
),
ver AS (
  SELECT c.a, c.b FROM cand c
  JOIN s sa ON sa.doc_id = c.a
  JOIN s sb ON sb.doc_id = c.b
  WHERE CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
        / (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset))) >= 0.7
),
losers AS (SELECT DISTINCT b AS doc_id FROM ver)
SELECT c.doc_id FROM corpus c ANTI JOIN losers l USING (doc_id)""")
def q_dedup_minhash_by_lang(spark, sf_dir):
    """Partition-scoped near dedup (dedup.minhash_dedup partition_cols):
    policy columns ride into the LSH bucket identity so cross-cell pairs
    are never emitted. Fixture: same-lang near-dup clones (+1M, ' extra
    token' — must drop) and IDENTICAL-text clones under a different lang
    (+2M, 'xx-'-prefixed lang — must SURVIVE: their only near-dups live
    in another cell). The oracle replays the pipeline with lang in every
    bucket key."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    same = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "lang",
        F.concat("text", F.lit(" extra token")).alias("text"),
    )
    cross = docs.filter(F.col("doc_id") % 20 == 5).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.lit("xx-"), F.col("lang")).alias("lang"),
        "text",
    )
    corpus = docs.unionByName(same).unionByName(cross)
    return dedup_ops.minhash_dedup(
        corpus, num_hashes=16, bands=4, shingle_k=3, threshold=0.7,
        shingle_mode="word", partition_cols=["lang"],
    ).select("doc_id")


# snapshot_delta: digest both snapshots, one full-outer join, the
# four-way CASE — digests are md5 over the repo-standard normalized
# text (ASCII corpus: DuckDB md5(varchar) == Spark md5(cast binary)).
@oracle("""WITH rev AS (
  SELECT doc_id,
         array_to_string(list_reverse(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')), ' ') AS rtext
  FROM documents
),
new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 2 THEN text || ' revised content' ELSE text END AS text
  FROM documents WHERE doc_id % 10 != 1
  UNION ALL
  SELECT doc_id + 9000000, rtext FROM rev WHERE doc_id % 10 = 3
),
o AS (SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS old_digest FROM documents),
n AS (SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS new_digest FROM new)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN old_digest = new_digest THEN 'unchanged'
            ELSE 'changed' END AS status,
       old_digest, new_digest
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""")
def q_snapshot_delta(spark, sf_dir):
    """Crawl-snapshot diff (dedup.snapshot_delta): both snapshots reduce
    to (id, normalized-content digest), one co-partitioned full-outer
    join classifies added/removed/changed/unchanged. Fixture: the new
    snapshot drops doc_id%10==1 (removed), appends ' revised content'
    to %10==2 (changed), keeps the rest verbatim (unchanged), and adds
    word-reversed %10==3 clones at +9M ids (added)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rev = F.array_join(F.reverse(words(F.col("text"))), " ")
    kept = docs.filter(F.col("doc_id") % 10 != 1)
    changed = F.when(
        F.col("doc_id") % 10 == 2,
        F.concat(F.col("text"), F.lit(" revised content")),
    ).otherwise(F.col("text"))
    added = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 9_000_000).alias("doc_id"), rev.alias("text")
    )
    new = kept.select("doc_id", changed.alias("text")).unionByName(added)
    return dedup_ops.snapshot_delta(docs, new)


# threshold_sweep over stop_ratio: the text_stats stopword replace
# arithmetic, conditional sums per threshold, one aggregate row
# reshaped to four report rows.
@oracle(
    """WITH scored AS (
  SELECT nw,
         (CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5 AS INT)
          + CAST((length(padded) - length(replace(padded, ' and ', ''))) / 5 AS INT)
          + CAST((length(padded) - length(replace(padded, ' of ', ''))) / 4 AS INT)
          + CAST((length(padded) - length(replace(padded, ' to ', ''))) / 4 AS INT)
          + CAST((length(padded) - length(replace(padded, ' a ', ''))) / 3 AS INT)) / nw AS sr
  FROM (
    SELECT len(regexp_split_to_array(trim(text), '\\s+')) AS nw,
           ' ' || lower(text) || ' ' AS padded
    FROM documents
  )
),
agg AS (SELECT count(*)::BIGINT AS n, CAST(sum(nw) AS BIGINT) AS w, """
    + ", ".join(
        f"CAST(sum(CASE WHEN sr >= {t} THEN 1 ELSE 0 END) AS BIGINT) AS p{i}, "
        f"CAST(sum(CASE WHEN sr >= {t} THEN nw ELSE 0 END) AS BIGINT) AS wp{i}"
        for i, t in enumerate(STOP_RATIO_CUTS)
    )
    + " FROM scored)\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS DOUBLE) AS threshold, n AS n_total, p{i} AS n_pass, "
        f"p{i} / n AS pass_rate, w AS weight_total, wp{i} AS weight_pass FROM agg"
        for i, t in enumerate(STOP_RATIO_CUTS)
    )
)
def q_threshold_sweep(spark, sf_dir):
    """Quality-cut calibration (text.threshold_sweep): survivor counts
    AND surviving token mass at four stop-ratio thresholds in one
    corpus pass — the report read before picking a 100 TB filter's cut
    point. Score = quality_score's stop_ratio, weight = token_count's
    n_tokens; the oracle replays both recipes (the text_stats padded
    replace-count arithmetic) plus the conditional sums."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = text_ops.quality_score(text_ops.token_count(docs))
    return text_ops.threshold_sweep(
        scored, "stop_ratio", list(STOP_RATIO_CUTS), weight_col="n_tokens"
    )


@oracle(_filter_funnel_oracle_sql(weighted=True))
def q_filter_funnel_weighted(spark, sf_dir):
    """The weighted funnel (text.filter_funnel weight_col): same four
    gates as filter_funnel plus token-mass attrition per stage —
    weight_in/weight_removed/weight_out — because a gate removing 1% of
    docs can still remove 30% of tokens. Weight = token_count's
    n_tokens; the oracle extends the funnel sums with the conditional
    weight sums."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    weighted = docs.withColumn("n_tokens", n_words.cast("long"))
    return text_ops.filter_funnel(
        weighted,
        [
            ("min_chars", F.length("text") >= 200),
            ("lang_known", F.col("lang").isin("en", "es", "de", "fr")),
            ("min_words", n_words >= 30),
            ("max_words", n_words <= 2000),
        ],
        weight_col="n_tokens",
    )


def _bpe_merges(docs: DataFrame) -> list[tuple[str, str]]:
    """The 3 merges bpe_train learns on ``docs`` (one collect job), as the
    (left, right) pairs bpe_apply, bpe_tokenize and bpe_vocab take."""
    learned = text_ops.bpe_train(docs, n_merges=3).collect()
    return [(r["left"], r["right"]) for r in learned]


@oracle(_bpe_apply_oracle_sql())
def q_bpe_apply(spark, sf_dir):
    """Tokenize with the learned merges (text.bpe_apply): trains 3
    merges on documents, collects the 3-row merge table (control-plane),
    then tokenizes every document against the trained vocab — merge
    folds run once per distinct word, the doc side is one
    (doc, word)-keyed agg + one word join. The oracle folds the same
    three argmax merges into the vocab and replays the join."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = _bpe_merges(docs)
    return text_ops.bpe_apply(docs, merges)


# the Pandas-UDF tokenizer and the expression fold coincide on
# trained merge lists, so they share one oracle
@oracle(_bpe_apply_oracle_sql())
def q_bpe_tokenize(spark, sf_dir):
    """Production-vocab BPE tokenization (text.bpe_tokenize): the
    Arrow-batched mapInPandas kernel that applies an arbitrarily long
    merge list (min-rank iterative per word, per-partition word cache,
    broadcast ranks) — the 32k-merge scale path. Driven here with the
    same 3 trained merges as q_bpe_apply so the bounded-k expression
    oracle pins the kernel exactly (the two application orders coincide
    on trained merge lists)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = _bpe_merges(docs)
    return text_ops.bpe_tokenize(docs, merges, emit="counts")


# driver-gradeable shapes: the array column is serialized to one
# chr(31)-joined string exactly as the Spark entry does (pandas
# canonicalization cannot sort list cells)
@oracle(
    # tokens are scrubbed of embedded chr(31) before the join —
    # mirrors the Spark entry exactly — so the separator is
    # provably absent from every element (injective encoding)
    "SELECT doc_id, n_words, array_to_string("
    "list_transform(tokens, t -> replace(t, chr(31), ' ')), chr(31))"
    " AS tokens_ser"
    f" FROM ({_bpe_tokenize_tokens_oracle_sql()})"
)
def q_bpe_tokenize_tokens(spark, sf_dir):
    """The kernel's emit="tokens" path: per-doc BPE token sequences (word
    order preserved) under the 3 trained merges — what a downstream
    packing/n-gram stage consumes. Oracle rebuilds each word's symbol
    list from the trained-vocab fold and flattens in word-position
    order. The operator returns `tokens array<string>`; THIS ENTRY
    serializes it to one unit-separator-joined string (`tokens_ser`)
    because the driver's canonicalizer (pandas sort_values over all
    columns) cannot factorize list cells — the serialization is
    order-preserving and provably injective: U+001F is NOT regex
    whitespace (it survives the tokenizer's \\s+ split), so each token
    is scrubbed of any embedded U+001F before joining — identically on
    both sides — making the separator guaranteed absent from every
    joined element."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = _bpe_merges(docs)
    out = text_ops.bpe_tokenize(docs, merges, emit="tokens")
    return out.select(
        "doc_id",
        "n_words",
        F.concat_ws(
            "\x1f",
            F.transform("tokens", lambda t: F.regexp_replace(t, "\x1f", " ")),
        ).alias("tokens_ser"),
    )


@oracle(
    "SELECT doc_id, n_words, array_to_string("
    "list_transform(token_ids, x -> CAST(x AS VARCHAR)), chr(31)) AS ids_ser"
    # the tokens replay joined to the vocab replay, ids reassembled in
    # token-position order
    f""" FROM (WITH toks AS ({_bpe_tokenize_tokens_oracle_sql()}),
voc AS ({_bpe_vocab_oracle_sql()}),
tk AS (
  SELECT doc_id, n_words, unnest(tokens) AS token,
         generate_subscripts(tokens, 1) AS pos
  FROM toks
)
SELECT tk.doc_id, any_value(tk.n_words) AS n_words,
       list(coalesce(v.token_id, -1) ORDER BY tk.pos) AS token_ids
FROM tk LEFT JOIN voc v USING (token)
GROUP BY tk.doc_id)"""
)
def q_bpe_tokenize_ids(spark, sf_dir):
    """The MODEL-INPUT form of the tokenizer loop: per-doc token-ID
    arrays under the trained merges and the frequency-ranked vocab
    (text.bpe_tokenize emit="ids" — the vocab dict is collected from
    bpe_vocab, vocab-sized, and ships with the merge ranks in one
    broadcast). Oracle replays the fold, the word-order flatten, and
    the vocab-rank id lookup."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = _bpe_merges(docs)
    vocab = {
        r["token"]: int(r["token_id"])
        for r in text_ops.bpe_vocab(docs, merges).collect()
    }
    out = text_ops.bpe_tokenize(docs, merges, emit="ids", vocab=vocab)
    # `token_ids array<bigint>` -> one US-joined decimal string: list
    # cells crash the driver's pandas canonicalizer, int->string is
    # format-identical in Spark and DuckDB.
    return out.select(
        "doc_id",
        "n_words",
        F.concat_ws(
            "\x1f", F.transform("token_ids", lambda x: x.cast("string"))
        ).alias("ids_ser"),
    )


@oracle(_bpe_vocab_oracle_sql())
def q_bpe_vocab(spark, sf_dir):
    """Frequency-ranked token-id vocabulary under the trained merges
    (text.bpe_vocab): the broadcast table a tokenize-to-IDS pipeline
    ships — distinct tokens with corpus counts and deterministic dense
    ids. Oracle replays the trained-vocab fold, the token explode, and
    the (count desc, token) rank."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = _bpe_merges(docs)
    return text_ops.bpe_vocab(docs, merges)


# pack_bpe_sequences: the train → tokenize → pack loop closed —
# per-doc REAL BPE token counts (the same trained-vocab fold + join
# replay as bpe_apply) flow into pack_sequences' sharded prefix sum.
# Wordless docs never enter the stream (the tokenize join drops them),
# matching the kernel's skip.
@oracle(
    "WITH "
    + ",\n".join(_bpe_ctes(3, fold_last=True) + [_BPE_DOCW_CTE, """tok AS (
  SELECT d.doc_id, CAST(sum(d.occ * len(v.syms)) AS BIGINT) AS n_tokens
  FROM docw d JOIN w3 v USING (word)
  GROUP BY d.doc_id
)"""])
    + """
, c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (
           ORDER BY doc_id % 32, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_tok
  FROM tok
)
SELECT doc_id, n_tokens, CAST(start_tok AS BIGINT) AS start_tok,
       CAST(start_tok // 2048 AS BIGINT) AS pack_id,
       CAST((start_tok + n_tokens - 1) // 2048 - start_tok // 2048 + 1 AS INT) AS n_packs_spanned
FROM c"""
)
def q_pack_bpe_sequences(spark, sf_dir):
    """The tokenizer loop closed END TO END: train merges on the corpus
    (bpe_train), tokenize-to-count with the production kernel
    (bpe_tokenize), pack the REAL token counts into fixed-capacity
    sequences (sampling.pack_sequences' sharded parallel prefix sum) —
    the capacity planning a pretraining run does with its actual
    tokenizer, not whitespace counts. Oracle replays the trained-vocab
    fold, the count join, and the pack cumsum in one SQL chain."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = _bpe_merges(docs)
    counts = text_ops.bpe_tokenize(docs, merges, emit="counts")
    return sampling_ops.pack_sequences(counts, "n_tokens", 2048).select(
        "doc_id", "n_tokens", "start_tok", "pack_id", "n_packs_spanned"
    )


@oracle(_bpe_train_oracle_sql())
def q_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training (text.bpe_train): the full
    merge LOOP — word-frequency collapse once, then per-round pair
    argmax + greedy left-to-right fold on the Zipf-small vocab table.
    Three rounds over documents; the oracle unrolls the three rounds as
    CTE chains (pair counts → deterministic argmax → list_reduce fold),
    pinning the learned merge table end to end."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    return text_ops.bpe_train(docs, n_merges=3)


@oracle("""WITH base AS (
  SELECT source, lang, text,
         length(text) AS n_chars,
         length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nc_norm,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
         ' ' || lower(text) || ' ' AS padded,
         md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS digest
  FROM documents
), scored AS (
  SELECT source, lang, n_chars, n_words, digest,
    least(1.0, ((
      CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5 AS INT)
      + CAST((length(padded) - length(replace(padded, ' and ', ''))) / 5 AS INT)
      + CAST((length(padded) - length(replace(padded, ' of ', ''))) / 4 AS INT)
      + CAST((length(padded) - length(replace(padded, ' to ', ''))) / 4 AS INT)
      + CAST((length(padded) - length(replace(padded, ' a ', ''))) / 3 AS INT)
    ) / n_words) * 2)
    * (CASE WHEN (nc_norm - n_words + 1) / n_words >= 3
             AND (nc_norm - n_words + 1) / n_words <= 10 THEN 1.0 ELSE 0.5 END)
    * (1 - least(1.0, (CASE WHEN n_chars > 0
        THEN length(regexp_replace(text, '[^A-Z]', '', 'g')) / n_chars
        ELSE 0.0 END) * 5)) AS quality
  FROM base
)
SELECT source, lang,
  count(*) AS n_docs,
  count(DISTINCT digest) AS n_unique,
  CAST(sum(n_words) AS BIGINT) AS total_tokens,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  quantile_cont(n_chars, 0.5) AS median_chars,
  quantile_cont(n_chars, 0.9) AS p90_chars,
  round(avg(quality), 6) AS mean_quality,
  CAST(sum(CASE WHEN quality < 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
  round(1.0 - count(DISTINCT digest) / CAST(count(*) AS DOUBLE), 9) AS dup_rate
FROM scored
GROUP BY source, lang""")
def q_corpus_card(spark, sf_dir):
    """Per-(source, lang) dataset datasheet (text.corpus_card): volume,
    exact-dup rate from content digests, exact length percentiles,
    quality mass — one scan, one partial-combining aggregation. Oracle
    replays the quality composite, the digest distinct-count, and
    quantile_cont per slice."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.corpus_card(docs)


# the heap trainer is semantics-identical to the distributed
# loop, so it shares the same unrolled-round oracle
@oracle(_bpe_train_oracle_sql())
def q_bpe_train_local(spark, sf_dir):
    """PRODUCTION BPE trainer (text.bpe_train_local): one distributed
    word-frequency collapse (the only corpus-sized step), then the
    standard driver-side incremental heap trainer — per-round cost
    O(affected words), not one shuffle+collect per merge, which is what
    makes a 32k-merge vocabulary trainable. Semantics identical to
    bpe_train (same argmax, tie-break, greedy fold), so it shares the
    distributed loop's 3-round CTE-unrolled oracle — the driver pins
    the two trainers equal on the real corpus."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    return text_ops.bpe_train_local(docs, n_merges=3)


@oracle("""WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN trim(repeat('alpha beta gamma delta epsilon zeta eta theta ', CAST(doc_id % 3 + 2 AS INT)))
              ELSE text END AS text
  FROM documents
), w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM src
), t AS (
  SELECT doc_id, ws,
         unnest(range(0, greatest(1, CAST(ceil(len(ws) / 8.0) AS BIGINT)))) AS line_no
  FROM w
), l AS (
  SELECT doc_id, line_no,
         array_to_string(ws[line_no * 8 + 1 : line_no * 8 + 8], ' ') AS line
  FROM t
), firsts AS (
  SELECT doc_id, line, min(line_no) AS fo FROM l GROUP BY 1, 2
), agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, ' ' ORDER BY fo) AS cleaned_text
  FROM firsts GROUP BY doc_id
), nl AS (
  SELECT doc_id, greatest(1, CAST(ceil(len(ws) / 8.0) AS BIGINT)) AS n_lines FROM w
)
SELECT nl.doc_id, nl.n_lines, agg.n_kept, agg.cleaned_text,
       md5(agg.cleaned_text) AS cleaned_md5
FROM nl JOIN agg USING (doc_id)""")
def q_dedup_lines_in_doc(spark, sf_dir):
    """Within-document repeated-line removal (text.py dedup_lines_in_doc —
    the per-page half of the C4 line rules, pure map / zero shuffle).
    Fixture: every 10th doc is replaced by ONE 8-word sentence tiled
    2-4 times, so its tiles are provably identical (n_kept=1 with
    n_lines=2..4) while the rest of the corpus exercises the
    no-duplicate path end-to-end (tiling, reassembly, digest)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sent = "alpha beta gamma delta epsilon zeta eta theta "
    fixture = F.when(
        F.col("doc_id") % 10 == 0,
        F.expr(f"trim(repeat('{sent}', cast(doc_id % 3 + 2 as int)))"),
    ).otherwise(F.col("text"))
    return text_ops.dedup_lines_in_doc(docs.withColumn("text", fixture))


@oracle("""WITH docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 20 = 0
              THEN text || ' contact bob@example.com or +1 (555) 123-4567'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
  regexp_matches(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}') AS had_email,
  regexp_matches(text, '[0-9][0-9 ()+.-]{6,}[0-9]') AS had_phone,
  md5(regexp_replace(
        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '[0-9][0-9 ()+.-]{6,}[0-9]', '<PHONE>', 'g')) AS scrub_digest
FROM docs""")
def q_scrub_pii(spark, sf_dir):
    """PII scrub pass: every 20th doc gets a synthetic email+phone appended,
    then the scrubber must flag and redact them (digest compared, not the
    full text, to keep the result compact)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 20 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact bob@example.com or +1 (555) 123-4567"),
            ),
        ).otherwise(F.col("text")),
    )
    out = text_ops.scrub_pii(docs)
    return out.select(
        "doc_id", "had_email", "had_phone",
        F.md5(F.col("scrubbed_text").cast("binary")).alias("scrub_digest"),
    )


@oracle("""SELECT lang,
  count(*) AS n_docs,
  count(DISTINCT source) AS n_sources,
  quantile_cont(n_chars, 0.5) AS median_chars,
  quantile_cont(n_chars, 0.9) AS p90_chars,
  CAST(sum(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)) AS BIGINT) AS total_tokens
FROM documents
GROUP BY lang""")
def q_corpus_stats(spark, sf_dir):
    """Corpus analytics surface: per-language doc counts, distinct sources,
    exact median/p90 length, token volume. Exact percentile is the audit
    mode; at 100 TB swap in approx_percentile (t-digest, mergeable) — same
    query shape, sketch-bounded memory."""
    docs = text_ops.token_count(load_table(spark, sf_dir, "documents"))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.expr("percentile(n_chars, 0.5)").alias("median_chars"),
        F.expr("percentile(n_chars, 0.9)").alias("p90_chars"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@oracle("""SELECT doc_id, source FROM (
  SELECT doc_id, source, row_number() OVER (
    PARTITION BY source
    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id
  ) AS rn
  FROM documents
) WHERE rn <= 15""")
def q_cap_per_source(spark, sf_dir):
    """Per-source cap: at most 15 docs per source, hash-ordered so the kept
    subset is a uniform deterministic sample of each source."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling_ops.cap_per_group(docs, ["source"], "doc_id", 15).select(
        "doc_id", "source"
    )


@oracle("""SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         percent_rank() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS pr
  FROM documents
) WHERE pr <= 0.25""")
def q_quantile_filter(spark, sf_dir):
    """Per-language quantile filter: keep the top 25% of docs by length
    (exact windowed mode; the approx sketch mode is the 100 TB path)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling_ops.quantile_filter(
        docs, ["lang"], "n_chars", 0.25, "doc_id", mode="exact"
    ).select("doc_id", "lang", "n_chars")


@oracle("""WITH cuts AS (
  SELECT lang, quantile_disc(n_chars, 0.75) AS cut FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN cuts c USING (lang)
WHERE d.n_chars >= c.cut""")
def q_quantile_filter_approx(spark, sf_dir):
    """Per-language quantile filter on the 100 TB path: per-group threshold
    from the approx_percentile sketch, broadcast back, two linear scans —
    no per-group sort. Oracle-exact at this SF because the sketch's rank
    error is bounded by n/accuracy < 1 row for groups under 10k rows, so
    the cut equals the discrete 75th percentile DuckDB computes."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling_ops.quantile_filter(
        docs, ["lang"], "n_chars", 0.25, "doc_id", mode="approx"
    ).select("doc_id", "lang", "n_chars")


@oracle("""WITH bq AS (
  SELECT vec_id,
         CAST((SELECT coalesce(sum(CASE WHEN CAST(embedding[i + 33] AS DOUBLE) > 0
                      THEN 1::BIGINT << i ELSE 0 END), 0)
               FROM range(0, 32) t(i)) AS BIGINT) AS bq_hi,
         CAST((SELECT coalesce(sum(CASE WHEN CAST(embedding[i + 1] AS DOUBLE) > 0
                      THEN 1::BIGINT << i ELSE 0 END), 0)
               FROM range(0, 32) t(i)) AS BIGINT) AS bq_lo
  FROM embeddings
)
SELECT vec_id, bq_hi, bq_lo FROM bq""")
def q_binarize_embeddings(spark, sf_dir):
    """Sign quantization: 64 dims -> two 32-bit halves (8 bytes/vector)."""
    return sim_ops.binarize_embeddings(load_table(spark, sf_dir, "embeddings"))


@oracle("""WITH bq AS (
  SELECT vec_id,
         CAST((SELECT coalesce(sum(CASE WHEN CAST(embedding[i + 33] AS DOUBLE) > 0
                      THEN 1::BIGINT << i ELSE 0 END), 0)
               FROM range(0, 32) t(i)) AS BIGINT) AS bq_hi,
         CAST((SELECT coalesce(sum(CASE WHEN CAST(embedding[i + 1] AS DOUBLE) > 0
                      THEN 1::BIGINT << i ELSE 0 END), 0)
               FROM range(0, 32) t(i)) AS BIGINT) AS bq_lo
  FROM embeddings
), x AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT vec_id AS qid, v AS qv FROM x WHERE vec_id IN (100, 200, 300)
), exact_top AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, x.vec_id,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             round(list_dot_product(x.v, q.qv)
                   / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(q.qv, q.qv))), 9) DESC,
             x.vec_id) AS rn
    FROM x CROSS JOIN q
  ) WHERE rn <= 10
), qc AS (
  SELECT vec_id AS qid, bq_hi AS q_hi, bq_lo AS q_lo FROM bq WHERE vec_id IN (100, 200, 300)
), ham_top AS (
  SELECT qid, vec_id FROM (
    SELECT qc.qid, bq.vec_id,
           row_number() OVER (PARTITION BY qc.qid ORDER BY
             bit_count(xor(bq.bq_hi, qc.q_hi)) + bit_count(xor(bq.bq_lo, qc.q_lo)),
             bq.vec_id) AS rn
    FROM bq CROSS JOIN qc
  ) WHERE rn <= 10
), hits AS (
  SELECT e.qid, count(*) AS n_hits
  FROM exact_top e JOIN ham_top h USING (qid, vec_id) GROUP BY e.qid
)
SELECT q2.qid, coalesce(hits.n_hits, 0) AS n_hits,
       coalesce(hits.n_hits, 0) / 10.0 AS recall_at_k
FROM (SELECT DISTINCT qid FROM qc) q2 LEFT JOIN hits USING (qid)""")
def q_binary_recall(spark, sf_dir):
    """Recall@10 of symmetric hamming search vs exact cosine for three
    queries — the sign-quantization acceptance harness."""
    return sim_ops.binary_recall(
        load_table(spark, sf_dir, "embeddings"), [100, 200, 300], k=10
    )


def _pq_fixture(spark, sf_dir):
    """Codebooks from the first 8 corpus vectors (4 subspaces x 16 dims):
    deterministic, data-derived, reproducible in SQL by joining vec_id<8."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = {
        int(r[0]): [float(v) for v in r[1]]
        for r in emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    }
    books = [
        [rows[c][j * 16 : (j + 1) * 16] for c in range(8)] for j in range(4)
    ]
    return emb, books


@oracle("""WITH cb AS (
  SELECT vec_id AS c, embedding FROM embeddings WHERE vec_id < 8
), pqd AS (
  SELECT e.vec_id, cb.c, CAST(t.i // 16 AS INT) AS j,
         (CAST(e.embedding[t.i + 1] AS DOUBLE) - CAST(cb.embedding[t.i + 1] AS DOUBLE))
       * (CAST(e.embedding[t.i + 1] AS DOUBLE) - CAST(cb.embedding[t.i + 1] AS DOUBLE)) AS sq
  FROM embeddings e, cb, unnest(range(0, 64)) AS t(i)
), pqdist AS (
  SELECT vec_id, j, c, round(sum(sq), 9) AS dist FROM pqd GROUP BY 1, 2, 3
), chosen AS (
  SELECT vec_id, j, c, dist FROM (
    SELECT vec_id, j, c, dist,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
    FROM pqdist
  ) WHERE rn = 1
)
SELECT vec_id,
       CAST(max(CASE WHEN j = 0 THEN c END) AS INT) AS code_0,
       CAST(max(CASE WHEN j = 1 THEN c END) AS INT) AS code_1,
       CAST(max(CASE WHEN j = 2 THEN c END) AS INT) AS code_2,
       CAST(max(CASE WHEN j = 3 THEN c END) AS INT) AS code_3,
       round(sum(dist), 9) AS recon_sq_err
FROM chosen GROUP BY vec_id""")
def q_pq_encode(spark, sf_dir):
    """Product-quantize the corpus: 64-dim floats -> 4 codes (+ squared
    reconstruction error), map-only."""
    emb, books = _pq_fixture(spark, sf_dir)
    return sim_ops.pq_encode(emb, books)


@oracle("""WITH cb AS (
  SELECT vec_id AS c, embedding FROM embeddings WHERE vec_id < 8
), pqd AS (
  SELECT e.vec_id, cb.c, CAST(t.i // 16 AS INT) AS j,
         (CAST(e.embedding[t.i + 1] AS DOUBLE) - CAST(cb.embedding[t.i + 1] AS DOUBLE))
       * (CAST(e.embedding[t.i + 1] AS DOUBLE) - CAST(cb.embedding[t.i + 1] AS DOUBLE)) AS sq
  FROM embeddings e, cb, unnest(range(0, 64)) AS t(i)
), pqdist AS (
  SELECT vec_id, j, c, round(sum(sq), 9) AS dist FROM pqd GROUP BY 1, 2, 3
), chosen AS (
  SELECT vec_id, j, c, dist FROM (
    SELECT vec_id, j, c, dist,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
    FROM pqdist
  ) WHERE rn = 1
), qlut AS (
  SELECT q.vec_id AS qid, cb.c, CAST(t.i // 16 AS INT) AS j,
         round(sum((CAST(q.embedding[t.i + 1] AS DOUBLE) - CAST(cb.embedding[t.i + 1] AS DOUBLE))
                 * (CAST(q.embedding[t.i + 1] AS DOUBLE) - CAST(cb.embedding[t.i + 1] AS DOUBLE))), 9) AS lv
  FROM embeddings q, cb, unnest(range(0, 64)) AS t(i)
  WHERE q.vec_id IN (100, 200, 300)
  GROUP BY 1, 2, 3
)
SELECT c2.vec_id, round(sum(l.lv), 9) AS adc_dist
FROM chosen c2 JOIN qlut l ON c2.j = l.j AND c2.c = l.c AND l.qid = 100
GROUP BY c2.vec_id
ORDER BY adc_dist, c2.vec_id LIMIT 10""")
def q_pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance top-10 for the vec_id=100 query: the scan
    reads 4 codes per row + a broadcast LUT, never the float vectors."""
    emb, books = _pq_fixture(spark, sf_dir)
    q = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 100).select("embedding").collect()[0][0]
    ]
    return sim_ops.pq_adc_top_k(emb, books, q, k=10).select("vec_id", "adc_dist")


@oracle("""WITH cb AS (
  SELECT vec_id AS c, embedding FROM embeddings WHERE vec_id < 8
), pqd AS (
  SELECT e.vec_id, cb.c, CAST(t.i // 16 AS INT) AS j,
         (CAST(e.embedding[t.i + 1] AS DOUBLE) - CAST(cb.embedding[t.i + 1] AS DOUBLE))
       * (CAST(e.embedding[t.i + 1] AS DOUBLE) - CAST(cb.embedding[t.i + 1] AS DOUBLE)) AS sq
  FROM embeddings e, cb, unnest(range(0, 64)) AS t(i)
), pqdist AS (
  SELECT vec_id, j, c, round(sum(sq), 9) AS dist FROM pqd GROUP BY 1, 2, 3
), chosen AS (
  SELECT vec_id, j, c, dist FROM (
    SELECT vec_id, j, c, dist,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
    FROM pqdist
  ) WHERE rn = 1
), qlut AS (
  SELECT q.vec_id AS qid, cb.c, CAST(t.i // 16 AS INT) AS j,
         round(sum((CAST(q.embedding[t.i + 1] AS DOUBLE) - CAST(cb.embedding[t.i + 1] AS DOUBLE))
                 * (CAST(q.embedding[t.i + 1] AS DOUBLE) - CAST(cb.embedding[t.i + 1] AS DOUBLE))), 9) AS lv
  FROM embeddings q, cb, unnest(range(0, 64)) AS t(i)
  WHERE q.vec_id IN (100, 200, 300)
  GROUP BY 1, 2, 3
), qv AS (
  SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id IN (100, 200, 300)
), exd AS (
  SELECT qv.qid, e.vec_id,
         round(sum((CAST(e.embedding[t.i + 1] AS DOUBLE) - CAST(qv.embedding[t.i + 1] AS DOUBLE))
                 * (CAST(e.embedding[t.i + 1] AS DOUBLE) - CAST(qv.embedding[t.i + 1] AS DOUBLE))), 9) AS d
  FROM embeddings e, qv, unnest(range(0, 64)) AS t(i)
  GROUP BY 1, 2
), exact_top AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
    FROM exd
  ) WHERE rn <= 10
), adc AS (
  SELECT l.qid, c2.vec_id, round(sum(l.lv), 9) AS adc_dist
  FROM chosen c2 JOIN qlut l ON c2.j = l.j AND c2.c = l.c
  GROUP BY 1, 2
), adc_top AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rn
    FROM adc
  ) WHERE rn <= 10
)
, hitc AS (
  SELECT e2.qid, count(*) AS n_hits
  FROM exact_top e2 JOIN adc_top a USING (qid, vec_id)
  GROUP BY e2.qid
)
SELECT q2.qid, coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) / 10.0 AS recall_at_k
FROM (SELECT DISTINCT qid FROM qlut) q2 LEFT JOIN hitc h USING (qid)""")
def q_pq_recall(spark, sf_dir):
    """Recall@10 of PQ-ADC vs exact L2 for three queries — the codebook
    acceptance harness (companion to quantization_recall / ann_recall)."""
    emb, books = _pq_fixture(spark, sf_dir)
    return sim_ops.pq_recall(emb, books, [100, 200, 300], k=10)


# ann_recall: replay the whole harness — brute-force truth, LSH
# bucket, Hamming-1 multi-probe, IVF nprobe=2 — and report n_hit /
# recall@10 per (method, query).
@oracle(f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 17, 42, 99, 123)
), scored AS (
  SELECT q.qid, e.vec_id, {_cos_sql('e.v', 'q.qv', 6)} AS sim FROM e, q
), truth AS (
  SELECT qid, vec_id FROM scored
  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) <= 10
), b AS (
  SELECT vec_id, {_hp_bucket_sql('v', 4)} AS bkt FROM e
), qbk AS (
  SELECT q.qid, b.bkt AS qb FROM q JOIN b ON b.vec_id = q.qid
), lsh_top AS (
  SELECT s.qid, s.vec_id FROM scored s
  JOIN b ON b.vec_id = s.vec_id JOIN qbk ON qbk.qid = s.qid
  WHERE b.bkt = qbk.qb
  QUALIFY row_number() OVER (PARTITION BY s.qid ORDER BY s.sim DESC, s.vec_id) <= 10
), probe_top AS (
  SELECT s.qid, s.vec_id FROM scored s
  JOIN b ON b.vec_id = s.vec_id JOIN qbk ON qbk.qid = s.qid
  WHERE bit_count(xor(b.bkt, qbk.qb)) <= 1
  QUALIFY row_number() OVER (PARTITION BY s.qid ORDER BY s.sim DESC, s.vec_id) <= 10
), c AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 4
), cells AS (
  SELECT t.vec_id, CAST(t.cid AS INT) AS ivf_cell FROM (
    SELECT e.vec_id, c.cid, {_cos_sql('e.v', 'c.cv', 9)} AS sim FROM e CROSS JOIN c
  ) t
  QUALIFY row_number() OVER (PARTITION BY t.vec_id ORDER BY t.sim DESC, t.cid) = 1
), qcells AS (
  SELECT t.qid, CAST(t.cid AS INT) AS cid FROM (
    SELECT q.qid, c.cid, {_cos_sql('q.qv', 'c.cv', 9)} AS sim FROM q CROSS JOIN c
  ) t
  QUALIFY row_number() OVER (PARTITION BY t.qid ORDER BY t.sim DESC, t.cid) <= 2
), ivf_top AS (
  SELECT s.qid, s.vec_id FROM scored s
  JOIN cells ON cells.vec_id = s.vec_id
  JOIN qcells ON qcells.qid = s.qid AND qcells.cid = cells.ivf_cell
  QUALIFY row_number() OVER (PARTITION BY s.qid ORDER BY s.sim DESC, s.vec_id) <= 10
), h_lsh AS (
  SELECT t.qid, count(*) AS n_hit FROM truth t JOIN lsh_top m USING (qid, vec_id) GROUP BY t.qid
), h_probe AS (
  SELECT t.qid, count(*) AS n_hit FROM truth t JOIN probe_top m USING (qid, vec_id) GROUP BY t.qid
), h_ivf AS (
  SELECT t.qid, count(*) AS n_hit FROM truth t JOIN ivf_top m USING (qid, vec_id) GROUP BY t.qid
)
SELECT 'lsh' AS method, q.qid, coalesce(h.n_hit, 0) AS n_hit,
       coalesce(h.n_hit, 0) / 10.0 AS recall
FROM q LEFT JOIN h_lsh h USING (qid)
UNION ALL
SELECT 'lsh_probe', q.qid, coalesce(h.n_hit, 0), coalesce(h.n_hit, 0) / 10.0
FROM q LEFT JOIN h_probe h USING (qid)
UNION ALL
SELECT 'ivf', q.qid, coalesce(h.n_hit, 0), coalesce(h.n_hit, 0) / 10.0
FROM q LEFT JOIN h_ivf h USING (qid)""")
def q_ann_recall(spark, sf_dir):
    """Recall@10 of the LSH bucket, multi-probe LSH, and IVF probe indexes
    vs exact brute force, per query — deterministic (md5 hyperplanes,
    9-dp-rounded centroid assignment), so the oracle replays the full
    harness in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_vectors(emb, 4)
    return sim_ops.ann_recall(
        emb, [0, 17, 42, 99, 123], cents, k=10, n_planes=4, nprobe=2
    )


@oracle("""WITH nw AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), base AS (
  SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) / len(w) AS ttr FROM nw
), bg AS (
  SELECT doc_id, unnest(CASE WHEN len(w) >= 2
    THEN [array_to_string(w[i:i+1], ' ') FOR i IN range(1, len(w))]
    ELSE [] END) AS bigram
  FROM nw
), cnt AS (
  SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2
), top AS (
  SELECT doc_id, max(c) AS top_c FROM cnt GROUP BY 1
)
SELECT b.doc_id, b.n_words, b.ttr,
       coalesce(t.top_c / (b.n_words - 1), 0.0) AS top_bigram_frac,
       (coalesce(t.top_c / (b.n_words - 1), 0.0) > 0.12 OR b.ttr < 0.3) AS repetitive
FROM base b LEFT JOIN top t USING (doc_id)""")
def q_repetition_score(spark, sf_dir):
    """Gopher-style repetition filter inputs: type-token ratio (map-only)
    and top-bigram fraction (explode + two partial-combining aggs)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # thresholds tuned to this corpus's distribution so the flag actually
    # fires (Gopher defaults never trigger on uniform synthetic text)
    out = text_ops.repetition_score(
        docs, max_top_bigram_frac=0.12, min_ttr=0.3
    )
    return out.select("doc_id", "n_words", "ttr", "top_bigram_frac", "repetitive")


@oracle("""WITH c AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
), t AS (SELECT sum(n_docs) AS tot FROM c),
r AS (
  SELECT source, n_docs, tot, pow(n_docs / CAST(tot AS DOUBLE), 0.5) AS w_raw
  FROM c, t
)
SELECT source, n_docs,
       round(w_raw / sum(w_raw) OVER (), 9) AS weight,
       round(w_raw / sum(w_raw) OVER () * tot / n_docs, 9) AS epochs
FROM r""")
def q_mixture_weights(spark, sf_dir):
    """Temperature-scaled (alpha=0.5) mixture weights per source: the
    corpus-reweighting table a sampler consumes."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling_ops.mixture_weights(docs, "source", alpha=0.5)


@oracle("""WITH e AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
), s AS (
  SELECT vec_id, x,
         CASE WHEN list_max(list_transform(x, v -> abs(v))) > 0
              THEN list_max(list_transform(x, v -> abs(v))) / 127.0
              ELSE 1.0 END AS scale
  FROM e
), q AS (
  SELECT vec_id, x, scale,
         list_transform(x, v -> greatest(-127.0, least(127.0, floor(v / scale + 0.5)))) AS qd
  FROM s
)
SELECT vec_id, round(scale, 9) AS scale,
       array_to_string(list_transform(qd, v -> CAST(CAST(v AS INTEGER) AS VARCHAR)), chr(31)) AS q_ser,
       round(list_max([abs(x[i] - qd[i] * scale) FOR i IN range(1, len(x) + 1)]), 9) AS max_err
FROM q""")
def q_quantize_embeddings(spark, sf_dir):
    """Int8 symmetric quantization of the embedding corpus: codes, scale,
    worst-case reconstruction error per vector. The operator emits
    `q array<int>`; this entry serializes the codes to one US-joined
    decimal string (`q_ser`) because list cells are ungradeable by the
    driver's pandas canonicalizer — int→string is format-identical in
    Spark and DuckDB, so the comparison stays exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = sim_ops.quantize_embeddings(emb)
    return out.select(
        "vec_id",
        "scale",
        F.concat_ws(
            "\x1f", F.transform("q", lambda x: x.cast("string"))
        ).alias("q_ser"),
        "max_err",
    )


@oracle("""WITH nw AS (
  SELECT source,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), g AS (
  SELECT DISTINCT source, unnest(CASE WHEN len(w) >= 8
    THEN [array_to_string(w[i:i+7], ' ') FOR i IN range(1, len(w) - 6)]
    ELSE [] END) AS g
  FROM nw
), sizes AS (
  SELECT source, count(*) AS n FROM g GROUP BY 1
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
  FROM g a JOIN g b USING (g) WHERE a.source < b.source GROUP BY 1, 2
)
SELECT x.source AS src_a, y.source AS src_b, x.n AS n_a, y.n AS n_b,
       coalesce(i.n_common, 0) AS n_common,
       coalesce(i.n_common, 0) / CAST(x.n + y.n - coalesce(i.n_common, 0) AS DOUBLE) AS jaccard
FROM sizes x
JOIN sizes y ON x.source < y.source
LEFT JOIN inter i ON i.src_a = x.source AND i.src_b = y.source""")
def q_source_overlap(spark, sf_dir):
    """Cross-source word-8-gram Jaccard matrix: which corpus slices overlap
    and by how much (corpus-level contamination audit)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.source_overlap(docs, "source", "text", ngram_k=8)


@oracle("""WITH nw AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), b AS (
  SELECT doc_id, w, len(w) AS n_words,
         greatest(1, CAST(floor((len(w) - 8 + 23) / 24.0) AS INT)) AS nc
  FROM nw
), c AS (
  SELECT doc_id, w, n_words, unnest(range(0, nc)) AS chunk_id FROM b
)
SELECT doc_id, chunk_id,
       least(32, n_words - (chunk_id * 24 + 1) + 1) AS n_chunk_tokens,
       md5(array_to_string(w[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')) AS chunk_digest
FROM c""")
def q_chunk_documents(spark, sf_dir):
    """Context-window chunking: 32-word chunks, 8-word overlap; digest of
    each chunk compared so the result stays compact."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = text_ops.chunk_documents(docs, chunk_tokens=32, overlap=8)
    return out.select(
        "doc_id", "chunk_id", "n_chunk_tokens",
        F.md5(F.col("chunk_text").cast("binary")).alias("chunk_digest"),
    )


@oracle("""WITH terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*) AS df_docs FROM tf GROUP BY 1
), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, tf * ln(n_docs / CAST(df_docs AS DOUBLE)) AS tfidf
  FROM tf JOIN dfreq USING (term), n
), ranked AS (
  SELECT doc_id, term, tf, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, tf, round(tfidf, 6) AS tfidf, rank FROM ranked WHERE rank <= 3""")
def q_tfidf_terms(spark, sf_dir):
    """Top-3 characteristic terms per doc by tf·idf (keyword extraction)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = text_ops.tfidf_top_terms(docs, top_k=3)
    return out.select(
        "doc_id", "term", "tf", F.round("tfidf", 6).alias("tfidf"), "rank"
    )


@oracle("""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
), s AS (
  SELECT vec_id, x,
         CASE WHEN list_max(list_transform(x, v -> abs(v))) > 0
              THEN list_max(list_transform(x, v -> abs(v))) / 127.0
              ELSE 1.0 END AS scale
  FROM e
), dq AS (
  SELECT vec_id,
         list_transform(x, v -> greatest(-127.0, least(127.0, floor(v / scale + 0.5))) * scale) AS dx
  FROM s
), q AS (
  SELECT vec_id AS qid, x AS qv FROM e WHERE vec_id IN (0, 17, 42, 99, 123)
), fullr AS (
  SELECT qid, vec_id,
         row_number() OVER (PARTITION BY qid ORDER BY
           list_dot_product(x, qv) / (sqrt(list_dot_product(x, x)) * sqrt(list_dot_product(qv, qv))) DESC,
           vec_id) AS rn
  FROM e, q
), deqr AS (
  SELECT qid, vec_id,
         row_number() OVER (PARTITION BY qid ORDER BY
           list_dot_product(dx, qv) / (sqrt(list_dot_product(dx, dx)) * sqrt(list_dot_product(qv, qv))) DESC,
           vec_id) AS rn
  FROM dq, q
)
SELECT f.qid, count(d.vec_id) AS n_hit, count(d.vec_id) / 10.0 AS recall
FROM fullr f
LEFT JOIN deqr d ON d.qid = f.qid AND d.vec_id = f.vec_id AND d.rn <= 10
WHERE f.rn <= 10
GROUP BY f.qid""")
def q_quantization_recall(spark, sf_dir):
    """Recall@10 of int8-quantized cosine search vs full precision, per
    query — the accept/reject gate for the 4x-compressed ANN corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.quantization_recall(emb, [0, 17, 42, 99, 123], k=10)


@oracle("""WITH terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
), model AS (
  SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1
), tot AS (
  SELECT sum(cnt) AS tot_tokens, count(*) AS vocab FROM model
), scored AS (
  SELECT doc_id, tf,
         tf * ln((cnt + 1) / CAST(tot_tokens + vocab AS DOUBLE)) AS lp
  FROM tf JOIN model USING (term), tot
), per_doc AS (
  SELECT doc_id, sum(tf) AS n_tokens, sum(lp) / sum(tf) AS avg_lp
  FROM scored GROUP BY 1
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(avg_lp, 6) AS avg_logprob,
       round(exp(-avg_lp), 6) AS ppl,
       exp(-avg_lp) > 33 AS high_ppl
FROM per_doc""")
def q_unigram_logprob(spark, sf_dir):
    """LM-perplexity quality proxy: per-doc avg unigram logprob + ppl,
    flagging the high-perplexity tail (threshold sits inside this corpus's
    29-40 ppl range so the flag is exercised)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = text_ops.unigram_logprob(docs)
    return out.select(
        "doc_id", "n_tokens",
        F.round("avg_logprob", 6).alias("avg_logprob"),
        F.round("ppl", 6).alias("ppl"),
        (F.col("ppl") > 33).alias("high_ppl"),
    )


@oracle("""WITH base AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nc_norm,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
         ' ' || lower(text) || ' ' AS padded
  FROM documents
), counted AS (
  SELECT doc_id, n_chars, nc_norm, n_words,
    CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5 AS INT)
      + CAST((length(padded) - length(replace(padded, ' and ', ''))) / 5 AS INT)
      + CAST((length(padded) - length(replace(padded, ' of ', ''))) / 4 AS INT)
      + CAST((length(padded) - length(replace(padded, ' to ', ''))) / 4 AS INT)
      + CAST((length(padded) - length(replace(padded, ' a ', ''))) / 3 AS INT) AS n_stop,
    CAST((length(text) - length(replace(text, '.', ''))) AS INT)
      + CAST((length(text) - length(replace(text, ',', ''))) AS INT)
      + CAST((length(text) - length(replace(text, '!', ''))) AS INT)
      + CAST((length(text) - length(replace(text, '?', ''))) AS INT)
      + CAST((length(text) - length(replace(text, ';', ''))) AS INT)
      + CAST((length(text) - length(replace(text, ':', ''))) AS INT) AS n_punct,
    length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper
  FROM base
), z AS (
  SELECT doc_id,
         -1.0 + ((nc_norm - n_words + 1) / n_words) * 0.2
              + (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 2.0
              + (n_stop / n_words) * 4.0
              + (CASE WHEN n_chars > 0 THEN n_upper / n_chars ELSE 0.0 END) * (-3.0) AS z
  FROM counted
)
SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS clf_score,
       round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep
FROM z""")
def q_quality_classifier(spark, sf_dir):
    """Logistic quality gate over the heuristic features (FineWeb-Edu-style
    classifier stage; weights are a stand-in head, plan is the product)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text_ops.quality_classifier(docs).select("doc_id", "clf_score", "keep")


@oracle("""WITH ta AS (
  SELECT unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents WHERE lang = 'en'
), tb AS (
  SELECT unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents WHERE lang <> 'en'
), ma AS (SELECT term, count(*) AS ca FROM ta GROUP BY 1),
mb AS (SELECT term, count(*) AS cb FROM tb GROUP BY 1),
j AS (
  SELECT coalesce(ma.term, mb.term) AS term,
         coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
  FROM ma FULL OUTER JOIN mb ON ma.term = mb.term
), tot AS (
  SELECT sum(ca) AS tot_a, sum(cb) AS tot_b, count(*) AS vocab FROM j
), p AS (
  SELECT term, tot_a, tot_b, vocab,
         (ca + CAST(0.5 AS DOUBLE)) / (tot_a + CAST(0.5 AS DOUBLE) * vocab) AS pa,
         (cb + CAST(0.5 AS DOUBLE)) / (tot_b + CAST(0.5 AS DOUBLE) * vocab) AS pb
  FROM j, tot
), c AS (
  SELECT term, tot_a, tot_b, vocab,
         pa * ln(pa / pb) AS kab, pb * ln(pb / pa) AS kba
  FROM p
), f AS (
  SELECT vocab, tot_a AS tokens_a, tot_b AS tokens_b,
         list_reduce(list_transform(list_sort(list(struct_pack(t := term, k := kab))), x -> x.k), (a, b) -> a + b) AS kl_ab,
         list_reduce(list_transform(list_sort(list(struct_pack(t := term, k := kba))), x -> x.k), (a, b) -> a + b) AS kl_ba
  FROM c GROUP BY 1, 2, 3
)
SELECT vocab, CAST(tokens_a AS BIGINT) AS tokens_a,
       CAST(tokens_b AS BIGINT) AS tokens_b,
       round(kl_ab, 6) AS kl_ab, round(kl_ba, 6) AS kl_ba,
       round(kl_ab + kl_ba, 6) AS jeffreys
FROM f""")
def q_corpus_drift(spark, sf_dir):
    """Jeffreys divergence between the en slice and the rest — corpus
    drift monitoring over smoothed unigram models."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter(F.col("lang") == "en").select("text")
    b = docs.filter(F.col("lang") != "en").select("text")
    return text_ops.corpus_drift(a, b)


@oracle("""WITH ws AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), toks AS (
  SELECT doc_id, i - 1 AS pos, w[i] AS w,
         CASE WHEN i > 1 THEN w[i - 1] END AS prev
  FROM ws, unnest(range(1, len(w) + 1)) AS t(i)
), uni AS (
  SELECT w, count(*) AS uc FROM toks GROUP BY 1
), ut AS (
  SELECT sum(uc) AS tot, count(*) AS vocab FROM uni
), bi AS (
  SELECT prev, w, count(*) AS bc FROM toks WHERE prev IS NOT NULL GROUP BY 1, 2
), ctx AS (
  SELECT prev, sum(bc) AS cc FROM bi GROUP BY 1
), sc AS (
  SELECT t.doc_id, t.pos,
         CASE WHEN t.prev IS NULL THEN ln((uc + 1) / CAST(tot + vocab AS DOUBLE))
              ELSE ln(CAST(0.7 AS DOUBLE) * ((coalesce(bc, 0) + 1) / CAST(cc + vocab AS DOUBLE))
                      + (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))
                        * ((uc + 1) / CAST(tot + vocab AS DOUBLE))) END AS lp
  FROM toks t
  JOIN uni USING (w)
  LEFT JOIN bi ON bi.prev = t.prev AND bi.w = t.w
  LEFT JOIN ctx ON ctx.prev = t.prev, ut
), agg AS (
  SELECT doc_id, count(*) AS n_tokens,
         list_reduce(list_transform(list_sort(list(struct_pack(p := pos, l := lp))), x -> x.l),
                     (a, b) -> a + b) / count(*) AS raw_avg
  FROM sc GROUP BY doc_id
)
SELECT doc_id, n_tokens, round(raw_avg, 6) AS avg_logprob,
       round(exp(-raw_avg), 6) AS ppl
FROM agg""")
def q_bigram_logprob(spark, sf_dir):
    """Interpolated bigram-LM score per doc (the KenLM-shaped upgrade of
    unigram_logprob): sequence-level quality, 6 dp."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text_ops.bigram_logprob(docs)


@oracle("""WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM documents
), t AS (
  SELECT doc_id, ws,
         unnest(range(0, greatest(1, CAST(ceil(len(ws) / 8.0) AS BIGINT)))) AS line_no
  FROM w
), l AS (
  SELECT doc_id, line_no,
         array_to_string(ws[line_no * 8 + 1 : line_no * 8 + 8], ' ') AS line
  FROM t
), m AS (
  SELECT doc_id, line_no, line,
         row_number() OVER (
           PARTITION BY ('0x' || substr(md5(line), 1, 15))::BIGINT
           ORDER BY doc_id, line_no) = 1 AS kept
  FROM l
)
SELECT doc_id, count(*) AS n_lines,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(CASE WHEN kept THEN line END, ' ' ORDER BY line_no), '')) AS cleaned_md5
FROM m GROUP BY doc_id""")
def q_line_dedup(spark, sf_dir):
    """C4-style corpus-level duplicate-line removal (8-word tiles as lines):
    per doc, tiles kept vs removed + md5 of the reassembled text."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text_ops.line_dedup(docs).select(
        "doc_id", "n_lines", "n_kept", "cleaned_md5"
    )


@oracle("""WITH terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
), model AS (
  SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1
), tot AS (
  SELECT sum(cnt) AS tot_tokens, count(*) AS vocab FROM model
), scored AS (
  SELECT doc_id, tf,
         tf * ln((cnt + 1) / CAST(tot_tokens + vocab AS DOUBLE)) AS lp
  FROM tf JOIN model USING (term), tot
), per_doc AS (
  SELECT doc_id, round(sum(lp) / sum(tf), 6) AS avg_logprob
  FROM scored GROUP BY 1
), sc AS (
  SELECT d.doc_id, d.lang, p.avg_logprob
  FROM documents d JOIN per_doc p USING (doc_id)
), th AS (
  SELECT lang, quantile_disc(avg_logprob, 1.0/3) AS t1,
         quantile_disc(avg_logprob, 2.0/3) AS t2
  FROM sc GROUP BY lang
)
SELECT doc_id, lang, avg_logprob,
       CASE WHEN avg_logprob > t2 THEN 'head'
            WHEN avg_logprob > t1 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sc JOIN th USING (lang)""")
def q_ccnet_bucket(spark, sf_dir):
    """CCNet head/middle/tail: per-language terciles of the unigram-LM
    score. approx_percentile is exact here (groups << accuracy), matching
    DuckDB's quantile_disc."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return text_ops.ccnet_bucket(docs).select(
        "doc_id", "lang", "avg_logprob", "bucket"
    )


@oracle("""WITH w AS (
  SELECT doc_id, lang,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM documents
), gi AS (
  SELECT doc_id, (lang = 'en') AS is_t, ws, unnest(range(1, len(ws))) AS i FROM w
), hb AS (
  SELECT doc_id, is_t,
         ('0x' || substr(md5(array_to_string(ws[i : i + 1], ' ')), 1, 15))::BIGINT % 256 AS b
  FROM gi
), pdb AS (
  SELECT doc_id, b, count(*) AS tf FROM hb GROUP BY 1, 2
), raw AS (
  SELECT b, count(*) AS raw_cnt FROM hb GROUP BY 1
), tgt AS (
  SELECT b, count(*) AS tgt_cnt FROM hb WHERE is_t GROUP BY 1
), tot AS (
  SELECT count(*) AS raw_tot, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tgt_tot FROM hb
), dist AS (
  SELECT r.b,
         ln((coalesce(tgt_cnt, 0) + 1) / CAST(tgt_tot + 256 AS DOUBLE))
         - ln((raw_cnt + 1) / CAST(raw_tot + 256 AS DOUBLE)) AS log_ratio
  FROM raw r LEFT JOIN tgt USING (b), tot
), contrib AS (
  SELECT doc_id, tf, b, tf * log_ratio AS c FROM pdb JOIN dist USING (b)
)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       round(list_reduce(
         list_transform(list_sort(list(struct_pack(b := b, c := c))), x -> x.c),
         (acc, x) -> acc + x), 6) AS log_weight
FROM contrib GROUP BY doc_id""")
def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights toward the en slice: hashed word-bigram
    (256 buckets, md5) target/raw log-ratios, per-doc sorted-fold sum."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    out = text_ops.dsir_weights(docs, F.col("lang") == "en")
    return out.select(
        "doc_id", "n_bigrams", F.round("log_weight", 6).alias("log_weight")
    )


@oracle("""WITH nrm AS (
  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 5
           THEN [CAST('0x' || substr(md5(substr(t, i, 5)), 1, 15) AS BIGINT)
                 FOR i IN range(1, len(t) - 3)]
           ELSE [] END AS hs
  FROM nrm
), wins AS (
  SELECT doc_id,
         CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
              ELSE [list_min(hs[i:i+3]) FOR i IN range(1, greatest(1, len(hs) - 3) + 1)]
         END AS ws
  FROM g
), fps AS (
  SELECT doc_id, list_sort(list_distinct(ws)) AS fps FROM wins
)
SELECT doc_id, len(fps) AS n_fps,
       md5(array_to_string(fps, ',')) AS fp_digest
FROM fps""")
def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprint sets (k=5 char grams, w=4 windows): count and
    digest of each doc's sorted fingerprint set."""
    # heavy map (per-char md5 + windowed mins): spread over every core —
    # the corpus arrives as a couple of parquet splits (same rationale as
    # dedup_simhash; 20s -> ~2s at sf0.1 on local[32])
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    out = text_ops.winnow_fingerprints(docs, k=5, w=4)
    return out.select(
        "doc_id", "n_fps",
        F.md5(
            F.concat_ws(
                ",", F.transform(F.col("fps"), lambda x: x.cast("string"))
            ).cast("binary")
        ).alias("fp_digest"),
    )


@oracle("""WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
), bnorm AS (
  SELECT regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents WHERE doc_id % 10 = 0
), bgrams AS (
  SELECT DISTINCT unnest(CASE WHEN len(w) >= 8
    THEN [array_to_string(w[i:i+7], ' ') FOR i IN range(1, len(w) - 6)]
    ELSE [] END) AS g
  FROM bnorm
), cnorm AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM corpus
), csets AS (
  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 8
    THEN [array_to_string(w[i:i+7], ' ') FOR i IN range(1, len(w) - 6)]
    ELSE [] END) AS sh
  FROM cnorm
), cgrams AS (
  SELECT doc_id, len(sh) AS n_ngrams, unnest(sh) AS g FROM csets WHERE len(sh) > 0
), per AS (
  SELECT c.doc_id, c.n_ngrams, count(b.g) AS n_overlap
  FROM cgrams c LEFT JOIN bgrams b USING (g) GROUP BY 1, 2
  UNION ALL
  SELECT doc_id, 0, 0 FROM csets WHERE len(sh) = 0
)
SELECT doc_id, n_ngrams, n_overlap,
       round(CASE WHEN n_ngrams > 0 THEN n_overlap / n_ngrams ELSE 0 END, 6) AS contamination,
       (CASE WHEN n_ngrams > 0 THEN n_overlap / n_ngrams ELSE 0 END) >= 0.5 AS contaminated
FROM per""")
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: every 10th doc plays the eval set; the
    corpus is the rest plus exact clones of the eval docs — clones must be
    flagged (ratio 1.0), clean docs stay near 0."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    benchmark = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0).unionByName(
        benchmark.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    out = dedup_ops.benchmark_contamination(corpus, benchmark, ngram_k=8, threshold=0.5)
    return out.select(
        "doc_id", "n_ngrams", "n_overlap",
        F.round("contamination", 6).alias("contamination"),
        "contaminated",
    )


@oracle("""WITH t AS (
  SELECT CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n FROM documents
)
SELECT (n // 64) * 64 AS bucket_lo, (n // 64) * 64 + 63 AS bucket_hi,
       count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens
FROM t GROUP BY 1, 2""")
def q_token_length_histogram(spark, sf_dir):
    """Doc token-length distribution in 64-token buckets (the capacity-
    picking input for pack_sequences): bucket bounds, doc count, token
    mass. Map-side bucket + one tiny agg."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n")
    )
    return (
        toks.withColumn("bucket_lo", (F.expr("n DIV 64") * 64))
        .groupBy("bucket_lo")
        .agg(F.count("*").alias("n_docs"), F.sum("n").alias("total_tokens"))
        .withColumn("bucket_hi", F.col("bucket_lo") + 63)
        .select("bucket_lo", "bucket_hi", "n_docs", "total_tokens")
    )


@oracle("""WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (
           ORDER BY doc_id % 32, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_tok
  FROM t
), packed AS (
  SELECT doc_id, n_tokens, start_tok,
         start_tok // 2048 AS pack_id,
         (start_tok + n_tokens - 1) // 2048 - start_tok // 2048 + 1 AS n_packs_spanned
  FROM c
), per_pack AS (
  SELECT pack_id, count(*) AS docs_starting FROM packed GROUP BY 1
), agg1 AS (
  SELECT count(*) AS n_docs, sum(n_tokens) AS total_tokens,
         sum(CASE WHEN n_packs_spanned > 1 THEN 1 ELSE 0 END) AS boundary_crossers,
         CAST(ceil(max(start_tok + n_tokens) / CAST(2048 AS DOUBLE)) AS BIGINT) AS n_packs
  FROM packed
), agg2 AS (
  SELECT count(*) AS packs_with_starts, max(docs_starting) AS max_docs_per_pack FROM per_pack
)
SELECT n_docs, CAST(total_tokens AS BIGINT) AS total_tokens, n_packs,
       CAST(boundary_crossers AS BIGINT) AS boundary_crossers,
       boundary_crossers / CAST(n_docs AS DOUBLE) AS crosser_frac,
       total_tokens / CAST(n_packs * 2048 AS DOUBLE) AS fill_frac,
       packs_with_starts, max_docs_per_pack
FROM agg1, agg2""")
def q_packing_stats(spark, sf_dir):
    """Packing-efficiency report at capacity 2048: boundary-crosser and
    fill fractions over the whitespace-token stream."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    return sampling_ops.packing_stats(toks, "n_tokens", 2048)


@oracle("""SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 <
      CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 WHEN 'es' THEN 2500
                WHEN 'fr' THEN 2500 WHEN 'zh' THEN 1000 ELSE 0 END""")
def q_sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling: per-language keep rates, hash-gated
    on doc_id so the sample is reproducible across runs and engines."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling_ops.stratified_sample(
        docs,
        "lang",
        {"en": 0.5, "de": 0.25, "es": 0.25, "fr": 0.25, "zh": 0.1},
        "doc_id",
    ).select("doc_id", "lang")


@oracle("""WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (
           ORDER BY doc_id % 32, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_tok
  FROM t
)
SELECT doc_id, n_tokens, CAST(start_tok AS BIGINT) AS start_tok,
       CAST(start_tok // 2048 AS BIGINT) AS pack_id,
       CAST((start_tok + n_tokens - 1) // 2048 - start_tok // 2048 + 1 AS INT) AS n_packs_spanned
FROM c""")
def q_pack_sequences(spark, sf_dir):
    """Sequence packing: concat-and-chunk the corpus into 2048-token packs
    via a sharded parallel prefix sum (order = (doc_id % 32, doc_id))."""
    docs = text_ops.token_count(load_table(spark, sf_dir, "documents"))
    return sampling_ops.pack_sequences(
        docs.select("doc_id", "n_tokens"), "n_tokens", capacity=2048
    ).select("doc_id", "n_tokens", "start_tok", "pack_id", "n_packs_spanned")


@oracle("""WITH c AS (
  SELECT event_id AS click_id, user_id, ts AS click_ts FROM events WHERE event_type = 'click'
), v AS (
  SELECT event_id AS view_id, user_id, ts AS view_ts FROM events WHERE event_type = 'view'
)
SELECT c.click_id, c.user_id, v.view_id,
       (epoch_us(c.click_ts) - epoch_us(v.view_ts)) // 1000 AS gap_ms
FROM c JOIN v ON c.user_id = v.user_id
 AND v.view_ts BETWEEN c.click_ts - INTERVAL 4 HOUR AND c.click_ts""")
def q_stream_stream_join(spark, sf_dir):
    """Windowed stream-stream join (KStream⋈KStream, JoinWindows): each
    click paired with the same user's views in the preceding 4 hours."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("view_ts")
    )
    joined = win_ops.interval_join(
        clicks, views, ["user_id"], "click_ts", "view_ts",
        before_ms=14_400_000, after_ms=0,
    )
    return joined.select(
        "click_id", "user_id", "view_id",
        F.expr("(unix_micros(click_ts) - unix_micros(view_ts)) DIV 1000").alias("gap_ms"),
    )


@oracle(f"""WITH {DOCS_WITH_CLONES_CTE},
base AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nc_norm,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
         ' ' || lower(text) || ' ' AS padded
  FROM docs
), counted AS (
  SELECT doc_id, text, n_chars, nc_norm, n_words,
    CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5 AS INT)
      + CAST((length(padded) - length(replace(padded, ' and ', ''))) / 5 AS INT)
      + CAST((length(padded) - length(replace(padded, ' of ', ''))) / 4 AS INT)
      + CAST((length(padded) - length(replace(padded, ' to ', ''))) / 4 AS INT)
      + CAST((length(padded) - length(replace(padded, ' a ', ''))) / 3 AS INT) AS n_stop,
    length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
    CAST((length(padded) - length(replace(padded, ' der ', ''))) / 5 AS INT)
      + CAST((length(padded) - length(replace(padded, ' und ', ''))) / 5 AS INT)
      + CAST((length(padded) - length(replace(padded, ' die ', ''))) / 5 AS INT) AS s_de,
    CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5 AS INT)
      + CAST((length(padded) - length(replace(padded, ' and ', ''))) / 5 AS INT)
      + CAST((length(padded) - length(replace(padded, ' of ', ''))) / 4 AS INT) AS s_en,
    CAST((length(padded) - length(replace(padded, ' el ', ''))) / 4 AS INT)
      + CAST((length(padded) - length(replace(padded, ' la ', ''))) / 4 AS INT)
      + CAST((length(padded) - length(replace(padded, ' de ', ''))) / 4 AS INT) AS s_es,
    CAST((length(padded) - length(replace(padded, ' le ', ''))) / 4 AS INT)
      + CAST((length(padded) - length(replace(padded, ' la ', ''))) / 4 AS INT)
      + CAST((length(padded) - length(replace(padded, ' et ', ''))) / 4 AS INT) AS s_fr
  FROM base
), scored AS (
  SELECT doc_id, text, n_words AS n_tokens,
    least(1.0, (n_stop / n_words) * 2)
      * (CASE WHEN (nc_norm - n_words + 1) / n_words >= 3 AND (nc_norm - n_words + 1) / n_words <= 10 THEN 1.0 ELSE 0.5 END)
      * (1 - least(1.0, (CASE WHEN n_chars > 0 THEN n_upper / n_chars ELSE 0.0 END) * 5)) AS quality,
    CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
         WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
         WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
         WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
         ELSE 'und' END AS pred_lang
  FROM counted
), kept AS (
  SELECT doc_id, n_tokens, quality,
         md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS dig
  FROM scored
  WHERE pred_lang = 'en' AND quality >= 0.12 AND n_tokens BETWEEN 10 AND 10000
)
SELECT doc_id, n_tokens, quality FROM kept
QUALIFY row_number() OVER (PARTITION BY dig ORDER BY doc_id) = 1""")
def q_curate_training_set(spark, sf_dir):
    """Training-set curation: language filter + quality threshold + token
    bounds + exact dedup, composed from the text/dedup operators — the
    selection pass of a data pipeline."""
    docs = _docs_with_clones(load_table(spark, sf_dir, "documents"))
    # cheap filter first: language-ID prunes before the wide quality
    # projection — fewer rows scored AND the Filter stops CollapseProject
    # from fusing everything into one janino-breaking generated method
    english = text_ops.language_id(docs).filter(F.col("pred_lang") == "en")
    scored = text_ops.quality_score(text_ops.token_count(english))
    kept = scored.filter(
        (F.col("quality") >= 0.12) & (F.col("n_tokens").between(10, 10_000))
    )
    return dedup_ops.exact_dedup(kept).select("doc_id", "n_tokens", "quality")


@oracle("""WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT event_id AS view_event_id, user_id, ts FROM events WHERE event_type = 'view'
)
SELECT p.event_id, p.user_id, epoch_us(p.ts) // 1000 AS ts_ms, v.view_event_id
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts""")
def q_asof_attribution(spark, sf_dir):
    """As-of join: each purchase attributed to the user's latest view at or
    before it (oracle: DuckDB's native ASOF JOIN)."""
    from starlight_for_kafka_spark.operators.asof import as_of_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"),
        "user_id",
        "ts",
    )
    joined = as_of_join(
        purchases, views, ["user_id"], "ts", "ts", ["view_event_id"], tiebreak="view_event_id"
    )
    return joined.select(
        "event_id", "user_id",
        F.expr(_MS.format(c="ts")).alias("ts_ms"),
        "view_event_id",
    )


@oracle("SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type")
def q_keyed_count_salted(spark, sf_dir):
    """Skew-resistant count: identical result to keyed_count (same oracle
    semantics), but the hot keys spread over 32 reducers in stage 1 —
    event_type has 5 values over the whole corpus, the canonical
    aggregation-skew shape."""
    from starlight_for_kafka_spark.operators import skew as skew_ops

    return skew_ops.salted_count(load_table(spark, sf_dir, "events"), "event_type")


@oracle(f"""WITH {TXN_CTE},
fe AS (
  SELECT "partition", pid, CAST(CAST(seq // 40 AS INT) % 3 AS INT) AS epoch FROM txn3
),
cur AS (SELECT pid, max(epoch) AS cur_epoch FROM fe GROUP BY pid)
SELECT fe."partition", fe.pid,
       max(fe.epoch) AS current_epoch,
       CAST(sum(CASE WHEN fe.epoch < cur.cur_epoch THEN 1 ELSE 0 END) AS BIGINT) AS n_fenced,
       count(*) AS n_records
FROM fe JOIN cur USING (pid)
GROUP BY fe."partition", fe.pid""")
def q_txn_fencing(spark, sf_dir):
    """Producer fencing: records below a pid's current (max) epoch are
    flagged as fenced — the zombie-producer rejection path. Epochs derived
    deterministically so stale writers exist in the fixture."""
    txn_log = tx_ops.derive_txn_log(_log(spark, sf_dir).df)
    with_epochs = txn_log.withColumn(
        "epoch", ((F.col("seq") / 40).cast("int") % 3).cast("int")
    )
    fenced = tx_ops.fence_stale_epochs(with_epochs)
    return fenced.groupBy("partition", "pid").agg(
        F.max("epoch").alias("current_epoch"),
        F.sum(F.col("_fenced").cast("int")).alias("n_fenced"),
        F.count("*").alias("n_records"),
    )


@oracle("""WITH ids AS (
  SELECT DISTINCT 'txn-' || CAST(user_id % 50 AS VARCHAR) AS transactional_id FROM events
)
SELECT transactional_id,
       CAST(row_number() OVER (ORDER BY transactional_id) - 1 AS BIGINT) AS pid,
       0 AS producer_epoch
FROM ids""")
def q_init_producer_ids(spark, sf_dir):
    """INIT_PRODUCER_ID: dense PID allocation over the distinct
    transactional-id set (sequence table)."""
    events = load_table(spark, sf_dir, "events")
    ids = events.select(
        F.concat(F.lit("txn-"), (F.col("user_id") % 50).cast("string")).alias(
            "transactional_id"
        )
    )
    return tx_ops.allocate_producer_ids(ids)


@oracle(f"""WITH {TXN_CTE}
SELECT "partition", pid, txn_group,
       max("offset") + 1 AS marker_offset,
       upper(max(txn_status)) AS control_type,
       count(*) AS n_records
FROM txn3 WHERE txn_status <> 'open'
GROUP BY "partition", pid, txn_group""")
def q_txn_markers(spark, sf_dir):
    return tx_ops.txn_markers(tx_ops.derive_txn_log(_log(spark, sf_dir).df))


@oracle("""SELECT 'event_type' AS header_key,
       event_type AS header_value, count(*) AS cnt
FROM events GROUP BY event_type""")
def q_headers_projection(spark, sf_dir):
    """Record headers (§1.2: array<struct<key,value binary>>, reference
    properties→headers mapping ByteBufUtils.java:292-299): explode and
    aggregate by header key/value."""
    log = _log(spark, sf_dir).df
    h = log.select(F.explode("headers").alias("h"))
    return h.groupBy(
        F.col("h.key").alias("header_key"),
        F.col("h.value").cast("string").alias("header_value"),
    ).agg(F.count("*").alias("cnt"))


@oracle(f"""WITH {LOG_CTE}
SELECT 'events' AS topic,
       count(DISTINCT "partition") AS n_partitions,
       count(*) AS n_records,
       CAST(sum("offset" + 1) AS BIGINT) AS sum_log_end_offsets
FROM log""")
def q_metadata_topics(spark, sf_dir):
    """METADATA (KafkaRequestHandler.java:757-811): topic discovery with
    partition counts and end offsets — catalog listing over the log."""
    log = _log(spark, sf_dir).df
    return log.groupBy(F.lit("events").alias("topic")).agg(
        F.countDistinct("partition").alias("n_partitions"),
        F.count("*").alias("n_records"),
        F.sum(F.col("offset") + 1).alias("sum_log_end_offsets"),
    )


@oracle("""SELECT
  CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
  count(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND CAST(l_discount AS DECIMAL(3,2)) BETWEEN 0.05 AND 0.07
  AND l_quantity < 24""")
def q_q6_discounted_revenue(spark, sf_dir):
    """TPC-H Q6 shape: multi-predicate scan (every predicate must reach the
    parquet reader) + single aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(9,2)") * F.col("l_discount").cast(
        "decimal(3,2)"
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(datetime.datetime(1996, 1, 1)))
            & (F.col("l_shipdate") < F.lit(datetime.datetime(1997, 1, 1)))
            & (F.col("l_discount").cast("decimal(3,2)").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count("*").alias("n"))
    )


@oracle("""SELECT o_orderpriority,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority""")
def q_salted_join_revenue(spark, sf_dir):
    """Skew-resistant fact-dim join: lineitem salted across 8 reducers per
    orderkey, orders replicated 8x, then revenue per order priority —
    results identical to the plain join by construction."""
    from starlight_for_kafka_spark.operators import skew as skew_ops

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = skew_ops.salted_join(li, orders, ["l_orderkey"], n_salts=8)
    rev = F.col("l_extendedprice").cast("decimal(9,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count("*").alias("n_items"),
    )


@oracle("""SELECT user_id, event_id,
  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
    / count(*) OVER w AS mavg3
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""")
def q_moving_avg_per_user(spark, sf_dir):
    """SQL window-function surface: 3-row moving average of event values
    per user in time order (ties broken by event_id)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    # decimal SUM (exact) then double divide: identical in both engines,
    # where decimal AVG would differ in retained scale
    dec_sum = F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
    return events.select(
        "user_id",
        "event_id",
        (dec_sum / F.count("*").over(w)).alias("mavg3"),
    )


@oracle("""WITH p AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
), c AS (
  SELECT from_type, to_type, count(*) AS cnt FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2
), t AS (
  SELECT from_type, sum(cnt) AS ft FROM c GROUP BY 1
)
SELECT from_type, to_type, cnt, cnt / CAST(ft AS DOUBLE) AS prob
FROM c JOIN t USING (from_type)""")
def q_event_transitions(spark, sf_dir):
    """First-order Markov transitions over per-user event sequences
    (event_id breaks timestamp ties for cross-engine determinism)."""
    return analytics_ops.event_transitions(
        load_table(spark, sf_dir, "events"), order_tiebreak="event_id"
    )


@oracle("""WITH obs AS (
  SELECT event_type,
         (epoch_us(ts) // 1000) - ((epoch_us(ts) // 1000) % 3600000) AS bucket_ms,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
), span AS (
  SELECT event_type, min(bucket_ms) AS lo, max(bucket_ms) AS hi FROM obs GROUP BY 1
), dense AS (
  SELECT event_type, unnest(generate_series(lo, hi, 3600000)) AS bucket_ms FROM span
), b AS (
  SELECT d.event_type, d.bucket_ms, coalesce(o.cnt, 0) AS cnt
  FROM dense d LEFT JOIN obs o
    ON o.event_type = d.event_type AND o.bucket_ms = d.bucket_ms
), w AS (
  SELECT event_type, bucket_ms, cnt,
         count(cnt) OVER win AS n,
         sum(cnt) OVER win AS s,
         sum(cnt * cnt) OVER win AS ss
  FROM b
  WINDOW win AS (PARTITION BY event_type ORDER BY bucket_ms
                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
), v AS (
  SELECT event_type, bucket_ms, cnt, n, s,
         (ss - (s * s) / CAST(n AS DOUBLE)) / (n - 1) AS var
  FROM w
)
SELECT event_type, bucket_ms, cnt, n AS n_prev,
       s / CAST(n AS DOUBLE) AS mean_prev,
       CASE WHEN n >= 2 AND var > 0
            THEN (cnt - s / CAST(n AS DOUBLE)) / sqrt(var) END AS z,
       coalesce(abs(CASE WHEN n >= 2 AND var > 0
            THEN (cnt - s / CAST(n AS DOUBLE)) / sqrt(var) END) > 3.0, false)
         OR (n >= 2 AND var = 0 AND cnt <> s / CAST(n AS DOUBLE)) AS anomaly
FROM v""")
def q_ts_anomaly(spark, sf_dir):
    """Trailing-24h z-score anomaly flags on hourly per-type volumes;
    explicit sum/sumsq variance is bit-identical across engines."""
    return analytics_ops.ts_anomaly(load_table(spark, sf_dir, "events")).select(
        "event_type", "bucket_ms", "cnt", "n_prev", "mean_prev", "z", "anomaly"
    )


@oracle("""WITH r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rank
  FROM documents
)
SELECT source, doc_id, n_chars, rank FROM r WHERE rank <= 3""")
def q_grouped_top_k(spark, sf_dir):
    """Skew-resistant top-3 per source (longest docs, doc_id tie-break):
    salted local top-k then exact re-rank — never ranks a hot group in one
    task."""
    from starlight_for_kafka_spark.operators import skew as skew_ops

    docs = load_table(spark, sf_dir, "documents")
    return skew_ops.grouped_top_k(
        docs, ["source"], [F.col("n_chars").desc(), F.col("doc_id").asc()], 3
    ).select("source", "doc_id", "n_chars", "rank")


@oracle("""
            SELECT user_id, event_id,
                   SUM(CAST(value AS DECIMAL(20,6))) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS running_sum
            FROM events
        """)
def q_keyed_running_sum(spark, sf_dir):
    """Skew-safe per-user running spend (cumulative-feature shape).
    Catalyst de-skews rank()<=k windows with a WindowGroupLimit partial
    top-k below the shuffle, but a RUNNING aggregate needs every row —
    no pushdown exists, so the textbook window serializes a hot user
    into one task. skew.keyed_running_sum decomposes it: range-shard on
    the order column (quantile boundaries, control-plane), per-(key,
    shard) local prefix sums, per-key shard offsets rebased via a
    bounded window — exactly equal to the serial window for exact-typed
    values (decimal here), which the oracle pins with the plain
    formulation."""
    from starlight_for_kafka_spark.operators import skew as skew_ops

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ord"),
        F.col("value").cast("decimal(20,6)").alias("v"),
    )
    out = skew_ops.keyed_running_sum(
        ev, ["user_id"], "ord", "v", "event_id", n_shards=16
    )
    # Spark SUM(decimal(20,6)) materializes decimal(30,6); DuckDB's
    # windowed SUM over the same input materializes decimal(38,6)
    # through Arrow. The driver's value hasher is decimal-width
    # sensitive (r9 red row), so pin the oracle's width explicitly —
    # the cast is lossless (30,6) -> (38,6).
    return out.select(
        "user_id",
        "event_id",
        F.col("running_sum").cast("decimal(38,6)").alias("running_sum"),
    )


@oracle("""
            SELECT user_id, event_id,
                   MAX(value) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS running_max
            FROM events
        """)
def q_keyed_running_max(spark, sf_dir):
    """Running per-user PEAK value — keyed_running_agg's monoid dispatch
    (greatest-merge instead of add) under the same skew-safe
    decomposition; the oracle is the plain serial MAX window."""
    from starlight_for_kafka_spark.operators import skew as skew_ops

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ord"), "value"
    )
    out = skew_ops.keyed_running_agg(
        ev, ["user_id"], "ord", "value", "event_id", agg="max",
        n_shards=16, out_col="running_max",
    )
    return out.select("user_id", "event_id", "running_max")


@oracle("""WITH f AS (
  SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-03'
), t1 AS (
  SELECT user_id, min(ts) AS s1 FROM f WHERE event_type = 'view' GROUP BY 1
), t2 AS (
  SELECT e.user_id, min(e.ts) AS s2 FROM f e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.s1 GROUP BY 1
), t3 AS (
  SELECT e.user_id, min(e.ts) AS s3 FROM f e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.s2 GROUP BY 1
)
SELECT t1.user_id, t1.s1 AS view_ts, t2.s2 AS click_ts, t3.s3 AS purchase_ts,
       1 + CASE WHEN t2.s2 IS NULL THEN 0 ELSE 1 END
         + CASE WHEN t3.s3 IS NULL THEN 0 ELSE 1 END AS steps_completed
FROM t1
LEFT JOIN t2 ON t1.user_id = t2.user_id
LEFT JOIN t3 ON t1.user_id = t3.user_id""")
def q_funnel_steps(spark, sf_dir):
    """Ordered view->click->purchase funnel per user: earliest time each
    step is reached strictly after the previous one. Restricted to the
    first two days so the chain actually breaks for some users (full-range
    funnels complete for every user in this dense synthetic log)."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit(datetime.datetime(2024, 1, 3))
    )
    out = analytics_ops.funnel(events, ["view", "click", "purchase"])
    return out.select(
        "user_id",
        F.col("step_1").alias("view_ts"),
        F.col("step_2").alias("click_ts"),
        F.col("step_3").alias("purchase_ts"),
        "steps_completed",
    )


@oracle("""WITH uw AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events
), c AS (
  SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1
)
SELECT c.cohort_week,
       CAST((uw.week - c.cohort_week) // 7 AS BIGINT) AS week_offset,
       count(*) AS n_users
FROM uw JOIN c ON uw.user_id = c.user_id
GROUP BY 1, 2""")
def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention matrix: users bucketed by first-active ISO
    week, counted in each later active week."""
    events = load_table(spark, sf_dir, "events")
    return analytics_ops.cohort_retention(events)


@oracle("""WITH w AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(w[i:i+7], ' ')
                               FOR i IN range(1, len(w) - 6)])) AS gram
  FROM w WHERE len(w) >= 8
), s AS (
  SELECT gram, count(*) AS n_docs FROM g GROUP BY 1
)
SELECT g.doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams,
       sum(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) / count(*) AS dup_frac
FROM g JOIN s ON g.gram = s.gram
GROUP BY 1""")
def q_dup_ngram_fraction(spark, sf_dir):
    """Gopher-style cross-corpus repetition: per doc, the share of its
    distinct word 8-grams that also appear in another document."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup_ops.duplicated_ngram_fraction(docs, ngram_k=8)


@oracle("""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 8
), sims AS (
  SELECT e.vec_id, c.cid,
         round(list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 9) AS sim
  FROM e CROSS JOIN c
), assign AS (
  SELECT vec_id, CAST(cid AS INT) AS ivf_cell FROM sims
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1
), dup AS (
  SELECT a.vec_id, min(b.vec_id) AS dup_of
  FROM assign a
  JOIN assign b ON a.ivf_cell = b.ivf_cell AND b.vec_id < a.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE round(list_dot_product(ea.v, eb.v)
              / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 9) >= 0.35
  GROUP BY 1
)
SELECT assign.vec_id, assign.ivf_cell, dup.dup_of,
       dup.dup_of IS NOT NULL AS is_dup
FROM assign LEFT JOIN dup ON assign.vec_id = dup.vec_id""")
def q_semantic_dedup(spark, sf_dir):
    """SemDeDup: centroid-cell-bucketed cosine near-dup marking (the
    paraphrase-level dedup MinHash misses). Cells from the first 8 vectors
    as seed centroids; 0.35 threshold fits this synthetic corpus's cosine
    range (max within-cell pair is ~0.49)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_vectors(emb, 8)
    return dedup_ops.semantic_dedup(emb, cents, threshold=0.35)


@oracle("""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 8
), sims AS (
  SELECT e.vec_id, c.cid,
         round(list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 9) AS sim
  FROM e CROSS JOIN c
), assign AS (
  SELECT vec_id, CAST(cid AS INT) AS ivf_cell FROM sims
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1
), cstats AS (
  SELECT ivf_cell, count(*) AS cs, min(vec_id) AS anchor FROM assign GROUP BY 1
), dup_small AS (
  SELECT a.vec_id, min(b.vec_id) AS dup_of
  FROM assign a
  JOIN cstats s ON a.ivf_cell = s.ivf_cell AND s.cs <= 60
  JOIN assign b ON a.ivf_cell = b.ivf_cell AND b.vec_id < a.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE round(list_dot_product(ea.v, eb.v)
              / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 9) >= 0.35
  GROUP BY 1
), dup_star AS (
  SELECT a.vec_id, s.anchor AS dup_of
  FROM assign a
  JOIN cstats s ON a.ivf_cell = s.ivf_cell AND s.cs > 60 AND a.vec_id <> s.anchor
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = s.anchor
  WHERE round(list_dot_product(ea.v, eb.v)
              / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 9) >= 0.35
), dup AS (
  SELECT * FROM dup_small UNION ALL SELECT * FROM dup_star
)
SELECT assign.vec_id, assign.ivf_cell, dup.dup_of,
       dup.dup_of IS NOT NULL AS is_dup
FROM assign LEFT JOIN dup ON assign.vec_id = dup.vec_id""")
def q_semantic_dedup_capped(spark, sf_dir):
    """SemDeDup with the Σ cell² star cap (star_above=60): cells larger
    than the cap compare every member against the cell anchor only — the
    linear-pair-volume path for mega-cells (dedup.py semantic_dedup
    star_above); sub-cap cells keep exact smallest-qualifying-neighbor
    semantics. At sf0.01 the 8 cells are sized 48-70, so BOTH branches
    run. The oracle replays the size/anchor topology in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_vectors(emb, 8)
    return dedup_ops.semantic_dedup(emb, cents, threshold=0.35, star_above=60)


@oracle("""SELECT doc_id,
       CASE WHEN b < 980000 THEN 'train'
            WHEN b < 990000 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         ('0x' || substr(md5('split42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS b
  FROM documents
)""")
def q_assign_split(spark, sf_dir):
    """Deterministic 98/1/1 train/val/test assignment by seeded id-hash."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return sampling_ops.assign_split(docs)


@oracle("""SELECT doc_id,
       row_number() OVER (ORDER BY h % 32, h, doc_id) - 1 AS shuffle_pos
FROM (
  SELECT doc_id,
         ('0x' || substr(md5('shuf42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM documents
)""")
def q_shuffle_rank(spark, sf_dir):
    """Deterministic corpus-shuffle position via sharded parallel prefix
    ranks (no global sort)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return sampling_ops.shuffle_rank(docs)


@oracle(f"""WITH {MEMBERSHIP_CTE},
last AS (
  SELECT "group", member, action FROM m
  QUALIFY row_number() OVER (PARTITION BY "group", member ORDER BY ts DESC, event_id DESC) = 1
),
gen AS (
  SELECT "group", count(*) AS generation FROM m
  WHERE action IN ('join', 'leave') GROUP BY "group"
),
alive AS (
  SELECT "group", count(*) AS n_members FROM last WHERE action <> 'leave' GROUP BY "group"
)
SELECT g."group",
       coalesce(gen.generation, 0) AS generation,
       coalesce(alive.n_members, 0) AS n_members,
       CASE WHEN coalesce(alive.n_members, 0) = 0 THEN 'Empty' ELSE 'Stable' END AS state
FROM (SELECT DISTINCT "group" FROM m) g
LEFT JOIN gen USING ("group")
LEFT JOIN alive USING ("group")""")
def q_group_state_recovery(spark, sf_dir):
    """Replay the membership log into final coordinator state (JOIN/SYNC/
    HEARTBEAT/LEAVE, GroupCoordinator.java:215-718)."""
    m = group_ops.derive_membership_from_events(load_table(spark, sf_dir, "events"))
    return group_ops.recover_group_state(m)


@oracle(f"""WITH RECURSIVE {MEMBERSHIP_CTE.strip().lstrip()},
steps AS (
  SELECT "group" AS g, action AS a, member AS mm,
         CAST(epoch_us(ts) // 1000 AS BIGINT) AS ts_ms,
         row_number() OVER (PARTITION BY "group" ORDER BY ts, event_id) AS i
  FROM m
), n AS (
  SELECT g, max(i) AS mx FROM steps GROUP BY g
), fold AS (
  SELECT g, 0 AS i, 0 AS st, 0 AS gen,
         CAST([] AS VARCHAR[]) AS members, CAST([] AS VARCHAR[]) AS known,
         CAST([] AS VARCHAR[]) AS rejoined, CAST(NULL AS BIGINT) AS deadline
  FROM n
  UNION ALL
  SELECT g, i,
         CASE WHEN early THEN (CASE WHEN len(rejoined2) > 0 THEN 2 ELSE 0 END) ELSE st2 END,
         CASE WHEN early THEN gen2 + 1 ELSE gen2 END,
         CASE WHEN early THEN list_sort(rejoined2) ELSE members2 END,
         CASE WHEN early THEN CAST([] AS VARCHAR[]) ELSE known2 END,
         CASE WHEN early THEN CAST([] AS VARCHAR[]) ELSE rejoined2 END,
         CASE WHEN early THEN CAST(NULL AS BIGINT) ELSE deadline2 END
  FROM (
    SELECT *, (st2 = 1 AND gen2 > 0 AND list_has_all(rejoined2, known2)) AS early
    FROM (
      SELECT g, i, a, mm, ts_ms,
             CASE WHEN a = 'join' AND st1 <> 1 THEN 1
                  WHEN a = 'leave' AND st1 <> 1 AND list_contains(members1, mm) THEN 1
                  ELSE st1 END AS st2,
             gen1 AS gen2,
             members1 AS members2,
             CASE WHEN a = 'join' AND st1 <> 1 THEN
                    (CASE WHEN st1 = 2 THEN members1 ELSE CAST([] AS VARCHAR[]) END)
                  WHEN a = 'leave' AND st1 = 1 THEN list_filter(known1, x -> x <> mm)
                  WHEN a = 'leave' AND list_contains(members1, mm) THEN
                    list_filter(members1, x -> x <> mm)
                  ELSE known1 END AS known2,
             CASE WHEN a = 'join' AND st1 = 1 THEN
                    (CASE WHEN list_contains(rejoined1, mm) THEN rejoined1
                          ELSE list_append(rejoined1, mm) END)
                  WHEN a = 'join' THEN [mm]
                  WHEN a = 'leave' AND st1 = 1 THEN list_filter(rejoined1, x -> x <> mm)
                  WHEN a = 'leave' AND list_contains(members1, mm) THEN CAST([] AS VARCHAR[])
                  ELSE rejoined1 END AS rejoined2,
             CASE WHEN a = 'join' AND st1 <> 1 THEN ts_ms + 3600000
                  WHEN a = 'leave' AND st1 <> 1 AND list_contains(members1, mm) THEN ts_ms + 3600000
                  ELSE deadline1 END AS deadline2
      FROM (
        SELECT f.g, f.i AS i, f.a, f.mm, f.ts_ms,
               CASE WHEN closed THEN (CASE WHEN len(f.rejoined) > 0 THEN 2 ELSE 0 END)
                    ELSE f.st END AS st1,
               CASE WHEN closed THEN f.gen + 1 ELSE f.gen END AS gen1,
               CASE WHEN closed THEN list_sort(f.rejoined) ELSE f.members END AS members1,
               CASE WHEN closed THEN CAST([] AS VARCHAR[]) ELSE f.known END AS known1,
               CASE WHEN closed THEN CAST([] AS VARCHAR[]) ELSE f.rejoined END AS rejoined1,
               CASE WHEN closed THEN CAST(NULL AS BIGINT) ELSE f.deadline END AS deadline1
        FROM (
          SELECT f0.g, f0.i + 1 AS i, s0.a, s0.mm, s0.ts_ms,
                 f0.st, f0.gen, f0.members, f0.known, f0.rejoined, f0.deadline,
                 (f0.st = 1 AND f0.deadline IS NOT NULL
                  AND s0.ts_ms >= f0.deadline) AS closed
          FROM fold f0 JOIN steps s0 ON s0.g = f0.g AND s0.i = f0.i + 1
        ) f
      )
    )
  )
)
SELECT f.g AS "group", f.gen AS generation,
       ['Empty', 'PreparingRebalance', 'Stable'][f.st + 1] AS state,
       CAST(len(f.members) AS INT) AS n_members,
       coalesce(array_to_string(list_sort(f.members), ','), '') AS members,
       CAST(len(f.rejoined) AS INT) AS n_rejoining
FROM fold f JOIN n ON n.g = f.g AND f.i = n.mx""")
def q_group_rebalance_timeline(spark, sf_dir):
    """DelayedJoin admission-window replay (GroupCoordinator.java:
    1113-1123): joins during PreparingRebalance coalesce into one
    generation bump, later rebalances complete early once all known
    members rejoined, generation-0 windows always wait out the timeout
    (InitialDelayedJoin). The oracle folds the identical event-time
    automaton as a recursive CTE (struct+list state — the shape DuckDB's
    list_reduce gets wrong across groups)."""
    m = group_ops.derive_membership_from_events(load_table(spark, sf_dir, "events"))
    return group_ops.recover_group_state_rebalance(m, rebalance_timeout_ms=3_600_000)


@oracle(f"""WITH {MEMBERSHIP_CTE},
ms AS (
  SELECT "group", member, action, ts, event_id,
         CASE WHEN CAST(substr(member, 2) AS INT) % 3 = 0
              THEN 'i' || substr(member, 2) END AS instance_id
  FROM m
), mi AS (
  SELECT *, coalesce(instance_id, member) AS ident,
         instance_id IS NOT NULL AS is_static
  FROM ms
), last AS (
  SELECT "group", ident, is_static, action FROM mi
  QUALIFY row_number() OVER (PARTITION BY "group", ident ORDER BY ts DESC, event_id DESC) = 1
), alive AS (
  SELECT "group", count(*) AS n_members,
         CAST(sum(CASE WHEN is_static THEN 1 ELSE 0 END) AS BIGINT) AS n_static
  FROM last WHERE action <> 'leave' GROUP BY "group"
), jl AS (
  SELECT "group", ident, is_static, action, ts, event_id,
         lag(action) OVER (PARTITION BY "group", ident ORDER BY ts, event_id) AS prev
  FROM mi WHERE action IN ('join', 'leave')
), gen AS (
  SELECT "group", count(*) AS generation FROM jl
  WHERE (NOT is_static) OR action = 'leave' OR prev IS NULL OR prev = 'leave'
  GROUP BY "group"
)
SELECT g."group",
       coalesce(gen.generation, 0) AS generation,
       coalesce(alive.n_members, 0) AS n_members,
       coalesce(alive.n_static, 0) AS n_static,
       CASE WHEN coalesce(alive.n_members, 0) = 0 THEN 'Empty' ELSE 'Stable' END AS state
FROM (SELECT DISTINCT "group" FROM m) g
LEFT JOIN gen USING ("group")
LEFT JOIN alive USING ("group")""")
def q_group_state_static(spark, sf_dir):
    """KIP-345 static membership: every third member carries a
    group.instance.id; its rejoins-while-active must NOT bump the
    generation, unlike the dynamic members' (compare group_state_recovery
    over the same log)."""
    mem = group_ops.derive_membership_from_events(load_table(spark, sf_dir, "events"))
    idx = F.substring("member", 2, 10).cast("int")
    mem = mem.withColumn(
        "instance_id",
        F.when(idx % 3 == 0, F.concat(F.lit("i"), idx.cast("string"))),
    )
    return group_ops.recover_group_state_static(mem)


@oracle(f"""WITH {MEMBERSHIP_CTE},
last AS (
  SELECT "group", member, action FROM m
  QUALIFY row_number() OVER (PARTITION BY "group", member ORDER BY ts DESC, event_id DESC) = 1
),
seen AS (
  SELECT "group", member, max(epoch_us(ts) // 1000) AS last_seen_ms FROM m GROUP BY "group", member
)
SELECT l."group", l.member, s.last_seen_ms
FROM last l JOIN seen s ON l."group" = s."group" AND l.member = s.member
WHERE l.action <> 'leave'""")
def q_group_members(spark, sf_dir):
    m = group_ops.derive_membership_from_events(load_table(spark, sf_dir, "events"))
    return group_ops.list_members(m)


@oracle(f"""WITH {COMMITS_CTE}
SELECT "group", topic, "partition", "offset", metadata, commit_ts FROM commits
QUALIFY row_number() OVER (PARTITION BY "group", topic, "partition"
                           ORDER BY commit_ts DESC, "offset" DESC) = 1
        AND NOT ("offset" % 10 >= 7)""")
def q_offset_commit_tombstones(spark, sf_dir):
    """Compacted offset view with tombstone semantics: every commit with
    offset % 10 >= 7 is a deletion marker; keys whose latest record is a
    tombstone vanish from the view."""
    events = load_table(spark, sf_dir, "events")
    commits = group_ops.derive_commits_from_events(events).withColumn(
        "tombstone", F.col("offset") % 10 >= 7
    )
    return group_ops.committed_offsets(commits, tombstone_col="tombstone")


@oracle(f"""WITH {COMMITS_CTE},{LOG_CTE},
positions AS (
  SELECT "partition", min("offset") AS "offset" FROM log
  WHERE "timestamp" >= TIMESTAMP '2024-01-15' GROUP BY "partition"
),
reset AS (
  SELECT "group", topic, "partition", "offset", metadata, commit_ts
  FROM commits WHERE "group" <> 'g1'
  UNION ALL
  SELECT 'g1' AS "group", 'events' AS topic, "partition", "offset",
         'reset' AS metadata, TIMESTAMP '2024-06-01' AS commit_ts
  FROM positions
)
SELECT "group", topic, "partition", "offset", metadata, commit_ts FROM reset
QUALIFY row_number() OVER (PARTITION BY "group", topic, "partition"
                           ORDER BY commit_ts DESC, "offset" DESC) = 1""")
def q_offset_reset(spark, sf_dir):
    """Offset reset (OffsetResetTest): rewind group g1 to the
    offsets-for-time positions at TS_CUTOFF, then read the compacted
    committed-offset view — the reset commits must win latest-wins."""
    events = load_table(spark, sf_dir, "events")
    commits = group_ops.derive_commits_from_events(events)
    positions = _log(spark, sf_dir).offsets_for_times(TS_CUTOFF)
    reset = group_ops.reset_offsets(
        commits, positions, "g1", datetime.datetime(2024, 6, 1)
    )
    return group_ops.committed_offsets(reset)


def _live_members_and_partitions(spark, sf_dir):
    m = group_ops.derive_membership_from_events(load_table(spark, sf_dir, "events"))
    live = group_ops.list_members(m).select("group", "member")
    parts = (
        _log(spark, sf_dir)
        .df.select(F.lit("events").alias("topic"), "partition")
        .distinct()
    )
    return live, parts


@oracle(f"""WITH {MEMBERSHIP_CTE},
last AS (
  SELECT "group", member, action FROM m
  QUALIFY row_number() OVER (PARTITION BY "group", member ORDER BY ts DESC, event_id DESC) = 1
),
mem AS (
  SELECT "group", member,
         row_number() OVER (PARTITION BY "group" ORDER BY member) - 1 AS midx,
         count(*) OVER (PARTITION BY "group") AS nm
  FROM last WHERE action <> 'leave'
),
parts AS (SELECT DISTINCT 'events' AS topic, CAST(user_id % 8 AS INT) AS "partition" FROM events),
p AS (
  SELECT topic, "partition",
         row_number() OVER (PARTITION BY topic ORDER BY "partition") - 1 AS pidx,
         count(*) OVER (PARTITION BY topic) AS np
  FROM parts
),
g AS (SELECT DISTINCT "group", nm FROM mem),
a AS (
  SELECT g."group", p.topic, p."partition", p.pidx, g.nm,
         p.np // g.nm AS q, p.np % g.nm AS extra
  FROM p CROSS JOIN g
),
a2 AS (
  SELECT "group", topic, "partition",
         CASE WHEN pidx < (q + 1) * extra THEN pidx // (q + 1)
              ELSE extra + (pidx - (q + 1) * extra) // q END AS midx
  FROM a
),
per_member AS (
  SELECT a2."group", mem.member, count(*) AS n_partitions,
         min(a2."partition") AS first_partition, max(a2."partition") AS last_partition
  FROM a2 JOIN mem ON mem."group" = a2."group" AND mem.midx = a2.midx
  GROUP BY 1, 2
),
gen AS (
  SELECT "group", count(*) AS generation FROM m
  WHERE action IN ('join', 'leave') GROUP BY "group"
),
alive AS (
  SELECT "group", count(*) AS n_members FROM last WHERE action <> 'leave' GROUP BY "group"
)
SELECT mem."group", mem.member,
       coalesce(gen.generation, 0) AS generation,
       CASE WHEN coalesce(alive.n_members, 0) = 0 THEN 'Empty' ELSE 'Stable' END AS state,
       coalesce(pm.n_partitions, 0) AS n_partitions,
       pm.first_partition, pm.last_partition
FROM mem
LEFT JOIN per_member pm ON pm."group" = mem."group" AND pm.member = mem.member
LEFT JOIN gen ON gen."group" = mem."group"
LEFT JOIN alive ON alive."group" = mem."group\"""")
def q_describe_group_full(spark, sf_dir):
    """Full DESCRIBE_GROUPS: per-member Range assignment spans joined with
    the recovered group state/generation."""
    mem = group_ops.derive_membership_from_events(load_table(spark, sf_dir, "events"))
    _, parts = _live_members_and_partitions(spark, sf_dir)
    return group_ops.describe_group_full(mem, parts)


@oracle(f"""WITH {MEMBERSHIP_CTE},
last AS (
  SELECT "group", member, action FROM m
  QUALIFY row_number() OVER (PARTITION BY "group", member ORDER BY ts DESC, event_id DESC) = 1
),
mem AS (
  SELECT "group", member,
         row_number() OVER (PARTITION BY "group" ORDER BY member) - 1 AS midx,
         count(*) OVER (PARTITION BY "group") AS nm
  FROM last WHERE action <> 'leave'
),
parts AS (SELECT DISTINCT 'events' AS topic, CAST(user_id % 8 AS INT) AS "partition" FROM events),
p AS (
  SELECT topic, "partition",
         row_number() OVER (PARTITION BY topic ORDER BY "partition") - 1 AS pidx,
         count(*) OVER (PARTITION BY topic) AS np
  FROM parts
),
g AS (SELECT DISTINCT "group", nm FROM mem),
a AS (
  SELECT g."group", p.topic, p."partition", p.pidx, g.nm,
         p.np // g.nm AS q, p.np % g.nm AS extra
  FROM p CROSS JOIN g
),
a2 AS (
  SELECT "group", topic, "partition",
         CASE WHEN pidx < (q + 1) * extra THEN pidx // (q + 1)
              ELSE extra + (pidx - (q + 1) * extra) // q END AS midx
  FROM a
)
SELECT a2."group", a2.topic, a2."partition", mem.member
FROM a2 JOIN mem ON mem."group" = a2."group" AND mem.midx = a2.midx""")
def q_assign_range(spark, sf_dir):
    """Range-assignor assignment the SYNC_GROUP leader would upload
    (GroupCoordinator.java:439-563): live members get contiguous partition
    ranges, first np%nm members one extra."""
    live, parts = _live_members_and_partitions(spark, sf_dir)
    return group_ops.assign_partitions_range(live, parts)


@oracle(f"""WITH {MEMBERSHIP_CTE},
last AS (
  SELECT "group", member, action FROM m
  QUALIFY row_number() OVER (PARTITION BY "group", member ORDER BY ts DESC, event_id DESC) = 1
),
mem AS (
  SELECT "group", member,
         row_number() OVER (PARTITION BY "group" ORDER BY member) - 1 AS midx,
         count(*) OVER (PARTITION BY "group") AS nm
  FROM last WHERE action <> 'leave'
),
parts AS (SELECT DISTINCT 'events' AS topic, CAST(user_id % 8 AS INT) AS "partition" FROM events),
p AS (
  SELECT topic, "partition",
         row_number() OVER (ORDER BY topic, "partition") - 1 AS gidx
  FROM parts
),
g AS (SELECT DISTINCT "group", nm FROM mem)
SELECT a."group", a.topic, a."partition", mem.member
FROM (SELECT g."group", p.topic, p."partition", p.gidx % g.nm AS midx
      FROM p CROSS JOIN g) a
JOIN mem ON mem."group" = a."group" AND mem.midx = a.midx""")
def q_assign_roundrobin(spark, sf_dir):
    """RoundRobin-assignor assignment: sorted partitions dealt circularly
    to sorted live members."""
    live, parts = _live_members_and_partitions(spark, sf_dir)
    return group_ops.assign_partitions_roundrobin(live, parts)


@oracle(f"""WITH {_sticky_oracle_ctes()}
SELECT "group", topic, "partition", member FROM sticky""")
def q_assign_sticky(spark, sf_dir):
    """Sticky-assignor rebalance after a member departs: the prior
    generation is the round-robin assignment over live members plus a
    ghost member; sticky keeps every surviving member's partitions up to
    its balanced quota and deals the ghost's orphans to remaining
    capacity (movement-minimizing, fully deterministic — see
    operators/groups.py:assign_partitions_sticky)."""
    live, parts = _live_members_and_partitions(spark, sf_dir)
    ghost = live.select("group").distinct().withColumn("member", F.lit("zz-departed"))
    prior = group_ops.assign_partitions_roundrobin(
        live.unionByName(ghost.select("group", "member")), parts
    )
    return group_ops.assign_partitions_sticky(live, parts, prior)


@oracle(f"""WITH {_sticky_oracle_ctes()}
SELECT s."group", s.topic, s."partition",
       CASE WHEN v.member IS NULL OR v.member = s.member THEN s.member END AS member,
       1 AS phase
FROM sticky s LEFT JOIN valid v
  ON v."group" = s."group" AND v.topic = s.topic AND v."partition" = s."partition"
UNION ALL
SELECT "group", topic, "partition", member, 2 AS phase FROM sticky""")
def q_assign_cooperative(spark, sf_dir):
    """KIP-429 incremental cooperative rebalance: same departure scenario
    as assign_sticky, but delivered in two phases — phase 1 assigns only
    partitions needing no revocation (null member = revoked in flight),
    phase 2 is the full sticky target."""
    live, parts = _live_members_and_partitions(spark, sf_dir)
    ghost = live.select("group").distinct().withColumn("member", F.lit("zz-departed"))
    prior = group_ops.assign_partitions_roundrobin(
        live.unionByName(ghost.select("group", "member")), parts
    )
    return group_ops.assign_partitions_cooperative(live, parts, prior)


TS_PATTERN = [1, 2, 3, 2, 1]


@oracle("""WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
),
dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day),
contrib AS (
  SELECT user_id, day + i.i AS wday
  FROM ud CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6]) AS i) i
),
wau AS (
  SELECT c.wday, count(DISTINCT c.user_id) AS wau
  FROM contrib c JOIN dau d ON c.wday = d.day
  GROUP BY c.wday
)
SELECT d.day, d.dau, w.wau FROM dau d JOIN wau w ON d.day = w.wday""")
def q_active_users(spark, sf_dir):
    """Exact DAU + trailing-7-day active users via contribution explode
    (rolling distinct with no running state)."""
    events = load_table(spark, sf_dir, "events")
    return analytics_ops.active_users(events)


@oracle("""WITH s AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
l AS (
  SELECT user_id, day, cnt,
         lag(cnt, 4) OVER w AS c0,
         lag(cnt, 3) OVER w AS c1,
         lag(cnt, 2) OVER w AS c2,
         lag(cnt, 1) OVER w AS c3,
         cnt AS c4
  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY day)
)
SELECT user_id, day, cnt,
       (c0-1)*(c0-1) + (c1-2)*(c1-2) + (c2-3)*(c2-3)
         + (c3-2)*(c3-2) + (c4-1)*(c4-1) AS dist2
FROM l
WHERE c0 IS NOT NULL
ORDER BY dist2, user_id, day
LIMIT 25""")
def q_ts_similarity(spark, sf_dir):
    """Top-25 per-user daily-activity windows nearest a 5-day query pattern
    (distributed subsequence similarity search, exact integer distances)."""
    events = load_table(spark, sf_dir, "events")
    series = (
        events.groupBy(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
        ).agg(F.count("*").alias("cnt"))
    )
    return analytics_ops.ts_similarity_search(series, TS_PATTERN, k=25)


@oracle("""WITH t AS (
  SELECT user_id, event_type, CAST(value AS DECIMAL(18,6)) AS v FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
)
SELECT user_id, count(*) AS total_count,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS view_count,
       CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN v END), 0) AS DOUBLE) AS view_sum,
       count(CASE WHEN event_type = 'click' THEN 1 END) AS click_count,
       CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN v END), 0) AS DOUBLE) AS click_sum,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_count,
       CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN v END), 0) AS DOUBLE) AS purchase_sum
FROM t GROUP BY user_id""")
def q_cogroup(spark, sf_dir):
    """KStream cogroup: view/click/purchase streams folded into one keyed
    state per user in a single shuffle (counts + exact decimal sums)."""
    events = load_table(spark, sf_dir, "events")

    def stream(t):
        return events.filter(F.col("event_type") == t).select(
            "user_id", F.col("value").cast("decimal(18,6)").alias("v")
        )

    out = win_ops.cogroup_aggregate(
        {"view": stream("view"), "click": stream("click"), "purchase": stream("purchase")},
        ["user_id"],
        "v",
    )
    cols = [F.col("user_id"), F.col("total_count")]
    for t in ("view", "click", "purchase"):
        cols.append(F.col(f"{t}_count"))
        cols.append(
            F.coalesce(F.col(f"{t}_sum"), F.lit(0)).cast("double").alias(f"{t}_sum")
        )
    return out.select(*cols)


@oracle("""WITH ttop AS (
  SELECT id, text_score FROM (
    SELECT doc_id AS id,
           len(list_filter(str_split(text, ' '), t -> t = 'data'))
             + len(list_filter(str_split(text, ' '), t -> t = 'vector')) AS text_score
    FROM documents
  ) WHERE text_score > 0
  ORDER BY text_score DESC, id LIMIT 100
),
tr AS (
  SELECT id, row_number() OVER (ORDER BY text_score DESC, id) AS r_text FROM ttop
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
vtop AS (
  SELECT vec_id AS id,
         round(list_dot_product(embedding::DOUBLE[], qv)
               / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
  FROM embeddings, q
  ORDER BY cos_sim DESC, id LIMIT 100
),
vr AS (
  SELECT id, row_number() OVER (ORDER BY cos_sim DESC, id) AS r_vec FROM vtop
),
fused AS (
  SELECT coalesce(tr.id, vr.id) AS id, tr.r_text, vr.r_vec,
         round(coalesce(1.0 / (60 + tr.r_text), 0)
               + coalesce(1.0 / (60 + vr.r_vec), 0), 9) AS rrf
  FROM tr FULL OUTER JOIN vr ON tr.id = vr.id
)
SELECT id, r_text, r_vec, rrf FROM fused ORDER BY rrf DESC, id LIMIT 10""")
def q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval: token-exact keyword score for ['data','vector']
    fused with cosine-to-query-vector by Reciprocal Rank Fusion."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.hybrid_search(
        docs, emb, ["data", "vector"], _query_vec(spark, sf_dir), k=10
    )


@oracle("""WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 < 4 THEN 'web'
              WHEN doc_id % 7 < 6 THEN 'books'
              ELSE 'code' END AS grp
  FROM documents
),
c AS (SELECT grp, count(*) AS n_docs FROM d GROUP BY grp),
w AS (
  SELECT grp, n_docs,
         pow(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 0.5) AS w_raw,
         sum(n_docs) OVER () AS total
  FROM c
),
e AS (
  SELECT grp,
         round(w_raw / sum(w_raw) OVER () * total / n_docs, 9) AS epochs
  FROM w
),
j AS (
  SELECT d.doc_id, d.grp,
         CAST(floor(e.epochs) AS INT)
           + CASE WHEN ('0x' || substr(md5('epoch:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
                       < round((e.epochs - floor(e.epochs)) * 10000)
                  THEN 1 ELSE 0 END AS n
  FROM d JOIN e USING (grp)
)
SELECT doc_id, grp, unnest(range(1, n + 1)) AS copy FROM j WHERE n >= 1""")
def q_epoch_resample(spark, sf_dir):
    """Temperature-reweighted corpus materialization: skewed synthetic
    domains (4/7 web, 2/7 books, 1/7 code), alpha=0.5 mixture weights,
    then hash-gated epoch duplication — the resampled corpus a mixture
    trainer would actually read."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    grp = (
        F.when(F.col("doc_id") % 7 < 4, F.lit("web"))
        .when(F.col("doc_id") % 7 < 6, F.lit("books"))
        .otherwise(F.lit("code"))
    )
    docs = docs.withColumn("grp", grp)
    w = sampling_ops.mixture_weights(docs, "grp", alpha=0.5)
    return sampling_ops.epoch_resample(docs, w, "grp", "doc_id").select(
        "doc_id", "grp", "copy"
    )


@oracle("""SELECT doc_id,
       len(regexp_extract_all(text,
           '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9'']+|\\s+'))
         AS n_bpe_tokens
FROM documents""")
def q_bpe_token_count(spark, sf_dir):
    """GPT-2-pretokenizer token counts per doc (JVM-side regexp_count)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text_ops.bpe_token_count(docs).select("doc_id", "n_bpe_tokens")


@oracle("""WITH base AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), lens AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM base
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM lens
), tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT b.doc_id, l.dl, unnest(b.w) AS term
        FROM base b JOIN lens l USING (doc_id))
  WHERE term IN ('join', 'spark', 'vector')
  GROUP BY 1, 2, 3
), dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), contrib AS (
  SELECT doc_id, dl, term,
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2
           / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS c
  FROM tf JOIN dfreq USING (term), stats
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched, dl,
       round(list_reduce(list(c ORDER BY term), (acc, x) -> acc + x), 6) AS score
FROM contrib GROUP BY doc_id, dl""")
def q_bm25_search(spark, sf_dir):
    """Okapi BM25 relevance (k1=1.2, b=0.75, Lucene-default idf) of every
    document matching a 3-term query — the principled scorer for
    hybrid_search's keyword leg; per-doc score folds in sorted term order
    so doubles are bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = text_ops.bm25_scores(docs, ["join", "vector", "spark"])
    return out.select(
        "doc_id", "n_matched", "dl", F.round("score", 6).alias("score")
    )


@oracle("""WITH base AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents
), feat AS (
  SELECT doc_id, string_split(t, ' ') AS w, length(t) AS lent,
         ' ' || t || ' ' AS pad
  FROM base
), calc AS (
  SELECT doc_id,
         len(w) AS n_words,
         CAST(lent - (len(w) - 1) AS DOUBLE) / len(w) AS mwl,
         CAST(len(list_filter(w, x -> regexp_matches(x, '\\p{L}'))) AS DOUBLE) / len(w) AS alpha_frac,
         (length(pad) - length(replace(pad, '#', '')))
           + (length(pad) - length(replace(pad, '...', ''))) / 3
           + (length(pad) - length(replace(pad, '…', ''))) AS n_symbols,
         (CASE WHEN contains(pad, ' the ') THEN 1 ELSE 0 END
          + CASE WHEN contains(pad, ' a ') THEN 1 ELSE 0 END
          + CASE WHEN contains(pad, ' to ') THEN 1 ELSE 0 END
          + CASE WHEN contains(pad, ' of ') THEN 1 ELSE 0 END
          + CASE WHEN contains(pad, ' and ') THEN 1 ELSE 0 END
          + CASE WHEN contains(pad, ' that ') THEN 1 ELSE 0 END
          + CASE WHEN contains(pad, ' have ') THEN 1 ELSE 0 END
          + CASE WHEN contains(pad, ' with ') THEN 1 ELSE 0 END) AS stop_present
  FROM feat
), flags AS (
  SELECT doc_id, n_words,
         round(mwl, 6) AS mean_word_len,
         round(alpha_frac, 6) AS alpha_frac,
         n_words < 50 AS too_short,
         n_words > 100000 AS too_long,
         (mwl < 3 OR mwl > 10) AS bad_mean_word_len,
         (n_symbols / n_words) > 0.1 AS high_symbol_ratio,
         alpha_frac < 0.8 AS low_alpha,
         stop_present < 2 AS few_stopwords
  FROM calc
)
SELECT *,
       NOT (too_short OR too_long OR bad_mean_word_len OR high_symbol_ratio
            OR low_alpha OR few_stopwords) AS keep
FROM flags""")
def q_gopher_quality(spark, sf_dir):
    """Gopher rule-set quality flags (Rae'21 A1): per-rule booleans +
    composite keep; the 50-word minimum sits inside this corpus's word-
    count range so both verdicts are exercised. The stop set is adapted
    to this synthetic corpus's register ('the'/'a' are its only function
    words) — the canonical Gopher set would fire few_stopwords on every
    document and degenerate the composite."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text_ops.gopher_quality_flags(
        docs, stop_words=("the", "a", "of", "to", "and", "that", "have", "with")
    )


@oracle("""WITH wf AS (
  SELECT word, count(*) AS wf FROM (
    SELECT unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
    FROM documents) GROUP BY 1
), pairs AS (
  SELECT substr(word, CAST(x AS INT), 2) AS pair, wf
  FROM (SELECT word, wf, unnest(range(1, length(word))) AS x
        FROM wf WHERE length(word) >= 2)
)
SELECT pair, CAST(sum(wf) AS BIGINT) AS n
FROM pairs GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""")
def q_bpe_merge_pairs(spark, sf_dir):
    """Top-20 BPE merge candidates: adjacent char pairs weighted by word
    frequency (Sennrich'16 tokenizer-training inner step — corpus
    collapses to its Zipf-small word-frequency table first)."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    return text_ops.bpe_merge_pairs(docs, top_k=20)


@oracle("""WITH RECURSIVE seqd AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
), edges AS (
  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
  FROM seqd WHERE dst IS NOT NULL GROUP BY 1, 2
), nodes AS (
  -- subquery UNION ALL + DISTINCT, NOT a UNION CTE: under WITH RECURSIVE
  -- DuckDB treats any top-level UNION CTE as recursive and duplicates it
  SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outw AS (SELECT src, sum(w) AS total_w FROM edges GROUP BY 1 HAVING sum(w) <> 0),
ne AS (SELECT src, dst, w / total_w AS share FROM edges JOIN outw USING (src)),
dangling AS (SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM outw)),
pr AS (
  SELECT 0 AS it,
         (SELECT list(struct_pack(node := node, rank := 1.0 / (SELECT n FROM nn)) ORDER BY node)
          FROM nodes) AS state
  UNION ALL
  SELECT it + 1,
    (SELECT list(struct_pack(
         node := nd.node,
         rank := (1 - 0.85) / (SELECT n FROM nn)
                 + 0.85 * (COALESCE(inf.inflow, 0)
                           + (SELECT COALESCE(sum(s2.r.rank), 0)
                              FROM (SELECT unnest(state) AS r) s2
                              WHERE s2.r.node IN (SELECT node FROM dangling)) / (SELECT n FROM nn))
       ) ORDER BY nd.node)
     FROM nodes nd
     LEFT JOIN (
       SELECT e.dst AS node, sum(s.r.rank * e.share) AS inflow
       FROM (SELECT unnest(state) AS r) s JOIN ne e ON e.src = s.r.node
       GROUP BY 1
     ) inf ON inf.node = nd.node)
  FROM pr WHERE it < 10
)
SELECT s.r.node AS node, round(s.r.rank, 6) AS rank
FROM (SELECT unnest(state) AS r FROM pr WHERE it = 10) s""")
def q_pagerank_event_graph(spark, sf_dir):
    """Weighted PageRank (d=0.85, 10 power iterations, dangling-mass
    redistribution) over the event-type transition graph — the
    source-authority signal corpus curation gates on; oracle replays the
    same fixed-point as a list-state recursive CTE. Ranks are compared at
    6 dp: float contribution sums are partial-combining (map-side) so the
    last ulps are engine-dependent, and the iteration is a contraction so
    the noise shrinks rather than compounds."""
    ev = load_table(spark, sf_dir, "events")
    edges = analytics_ops.event_transitions(ev, order_tiebreak="event_id")
    out = analytics_ops.pagerank(
        edges.select(
            F.col("from_type").alias("src"), F.col("to_type").alias("dst"), "cnt"
        ),
        weight_col="cnt",
    )
    return out.select("node", F.round("rank", 6).alias("rank"))


@oracle("""WITH h AS (
  SELECT doc_id, n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM documents
), k AS (
  -- E-S in log space: es = ln(u)/w with u = (h + 0.5) / 2^60, rounded to
  -- 9 dp with a doc_id tie-break so the selection boundary is portable
  SELECT doc_id, n_chars,
         round(ln((hv + 0.5) / 1152921504606846976.0) / n_chars, 9) AS es
  FROM h WHERE n_chars > 0
)
SELECT doc_id, n_chars FROM k ORDER BY es DESC, doc_id LIMIT 100""")
def q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement (n=100,
    weight=n_chars, u from md5(doc_id)) — deterministic competition keys,
    so the oracle replays the identical top-n in SQL."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return sampling_ops.weighted_sample(docs, "n_chars", 100, "doc_id")


@oracle("""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4
), sims AS (
  SELECT e.vec_id, c.cid,
         round(list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 9) AS sim
  FROM e CROSS JOIN c
), assigned AS (
  SELECT vec_id, CAST(cid AS INT) AS cluster, sim
  FROM sims
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1
)
SELECT cluster, vec_id, round(sim, 6) AS centroid_sim,
       row_number() OVER (PARTITION BY cluster ORDER BY sim DESC, vec_id) AS rank
FROM assigned
QUALIFY rank <= 5""")
def q_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced prototype sampling (SemDeDup-style diversity cut):
    nearest-centroid assignment over the 4 seed centroids, keep the 5 most
    central vectors per cluster via the skew-safe two-stage top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_vectors(emb, 4)
    out = sim_ops.cluster_balanced_sample(emb, cents, m=5)
    return out.select(
        "cluster",
        "vec_id",
        F.round("centroid_sim", 6).alias("centroid_sim"),
        "rank",
    )


@oracle(f"""WITH RECURSIVE {_MINHASH_COMPONENTS_CTE},
scored AS (
  SELECT comp.component, comp.node AS doc_id, CAST(length(d.text) AS DOUBLE) AS score
  FROM comp JOIN docs d ON d.doc_id = comp.node
)
SELECT component, doc_id, score FROM scored
QUALIFY row_number() OVER (PARTITION BY component ORDER BY score DESC, doc_id) = 1""")
def q_cluster_representatives(spark, sf_dir):
    """Quality-aware canonical selection: the MinHash near-dup pipeline's
    exact components, keeping each component's LONGEST member (tie ->
    smallest doc_id) via one max(struct) aggregation — the keep-the-best-
    copy refinement over the arbitrary min-id keeper."""
    docs = _docs_with_near(load_table(spark, sf_dir, "documents"))
    sigs = dedup_ops.minhash_signatures(
        docs, num_hashes=16, shingle_k=3, shingle_mode="word"
    )
    cands = dedup_ops.minhash_lsh_candidates(sigs, bands=4, num_hashes=16)
    ver = dedup_ops.jaccard_verify(
        docs, cands, shingle_k=3, threshold=0.7, shingle_mode="word"
    )
    comps = dedup_ops.connected_components(ver)
    scores = docs.select("doc_id", F.length("text").alias("score"))
    return dedup_ops.cluster_representatives(comps, scores)


@oracle(f"""WITH {LOG_CTE},
sized AS (
  SELECT "partition", CAST(strlen(key) + strlen(value) AS DOUBLE) AS s FROM log
), bucketed AS (
  SELECT "partition",
         CASE WHEN s <= 9 THEN 9.0 WHEN s <= 10 THEN 10.0 WHEN s <= 11 THEN 11.0
              ELSE 'infinity'::DOUBLE END AS le
  FROM sized
), counts AS (
  SELECT "partition", le, count(*) AS n FROM bucketed GROUP BY 1, 2
), grid AS (
  SELECT p."partition", b.le
  FROM (SELECT DISTINCT "partition" FROM log) p
  CROSS JOIN (SELECT unnest([9.0::DOUBLE, 10.0::DOUBLE, 11.0::DOUBLE, 'infinity'::DOUBLE]) AS le) b
), dense AS (
  SELECT g."partition", g.le, coalesce(c.n, 0) AS n
  FROM grid g LEFT JOIN counts c ON c."partition" = g."partition" AND c.le = g.le
), hist AS (
  SELECT "partition", le,
         sum(n) OVER (PARTITION BY "partition" ORDER BY le ROWS UNBOUNDED PRECEDING) AS cum
  FROM dense
), aug AS (
  SELECT "partition", le, cum,
         coalesce(lag(cum) OVER w, 0) AS prev_cum,
         coalesce(lag(le) OVER w, 0.0) AS prev_le,
         max(cum) OVER (PARTITION BY "partition") AS total,
         max(CASE WHEN le <> 'infinity'::DOUBLE THEN le END)
           OVER (PARTITION BY "partition") AS fmax
  FROM hist WINDOW w AS (PARTITION BY "partition" ORDER BY le)
), probes AS (
  SELECT a.*, qq.q, qq.q * a.total AS target
  FROM aug a CROSS JOIN (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q) qq
  WHERE a.total > 0
), chosen AS (
  SELECT "partition", q,
         min_by(struct_pack(le := le, prev_le := prev_le, prev_cum := prev_cum,
                            cum := cum, target := target, fmax := fmax), le) AS b
  FROM probes WHERE cum >= target GROUP BY 1, 2
)
SELECT "partition", q,
       round(CASE WHEN b.le = 'infinity'::DOUBLE THEN b.fmax
                  ELSE b.prev_le + (b.le - b.prev_le) * (b.target - b.prev_cum)
                       / (b.cum - b.prev_cum) END, 6) AS value
FROM chosen""")
def q_histogram_quantiles(spark, sf_dir):
    """Prometheus-model histogram + histogram_quantile over per-record
    byte sizes, grouped by log partition — the RequestStats/Grafana
    latency-quantile pipeline (kop_server_..._REQUEST_LATENCY buckets)
    recomputed from the log. p50 exercises in-bucket interpolation; p99
    lands in the +Inf bucket and clamps to the highest finite bound."""
    from starlight_for_kafka_spark.operators.metrics import (
        histogram_quantile,
        prom_histogram,
    )
    from starlight_for_kafka_spark.sources.logtable import record_size

    log = _log(spark, sf_dir).df
    sized = log.withColumn("rec_bytes", record_size())
    h = prom_histogram(sized, "rec_bytes", [9.0, 10.0, 11.0], ["partition"])
    return histogram_quantile(h, [0.5, 0.9, 0.99], ["partition"])


@oracle("""WITH ev AS (
  -- NULL keys are not sketched (matches cm_sketch's isNotNull drop)
  SELECT CAST(user_id AS VARCHAR) AS v FROM events WHERE user_id IS NOT NULL
), pos AS (
  SELECT v, i, ('0x' || substr(md5('cm' || i || ':' || v), 1, 15))::BIGINT % 1024 AS col
  FROM ev CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) s
), counters AS (
  SELECT i AS row, col, count(*) AS c FROM pos GROUP BY 1, 2
), keys AS (SELECT DISTINCT v FROM ev),
kpos AS (
  SELECT v, i AS row, ('0x' || substr(md5('cm' || i || ':' || v), 1, 15))::BIGINT % 1024 AS col
  FROM keys CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) s
), est AS (
  SELECT v, min(coalesce(c, 0)) AS est
  FROM kpos LEFT JOIN counters USING (row, col) GROUP BY 1
), exact AS (SELECT v, count(*) AS exact FROM ev GROUP BY 1)
SELECT CAST(v AS BIGINT) AS user_id, est, exact
FROM est JOIN exact USING (v)
ORDER BY est DESC, user_id LIMIT 20""")
def q_cm_heavy_hitters(spark, sf_dir):
    """Count-Min frequency sketch (md5-register variant): per-user event
    counts estimated from the 4x1024 counter table vs the exact groupBy;
    top-20 by estimate. One-sided by construction (est >= exact)."""
    from starlight_for_kafka_spark.operators import skew as skew_ops

    ev = load_table(spark, sf_dir, "events")
    sk = skew_ops.cm_sketch(ev, "user_id")
    keys = ev.select("user_id").distinct()
    est = skew_ops.cm_estimate(sk, keys, "user_id")
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact"))
    return (
        est.join(exact, "user_id")
        .orderBy(F.col("est").desc(), "user_id")
        .limit(20)
        .select("user_id", "est", "exact")
    )


# posexploded to (vec_id, dim, jl_val) rows: coordinates stay
# numeric for the driver (no list cells, no float->string)
# random_projection: the identical md5-signed left folds (the
# list_reduce == F.aggregate bit-exactness recipe), scaled by 1/sqrt(16)
# and rounded per output coordinate
@oracle(
    "SELECT vec_id, CAST(pos - 1 AS INTEGER) AS dim, jl_val FROM ("
    "SELECT vec_id, unnest(jl) AS jl_val, generate_subscripts(jl, 1) AS pos"
    " FROM (WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)\n"
    "SELECT vec_id, ["
    + ",\n  ".join(
        "round(list_reduce(list_transform(range(len(v)), d -> "
        f"CASE WHEN ('0x' || substr(md5('jl{k}:' || CAST(d AS VARCHAR)), 1, 15))::BIGINT % 2 = 0 "
        "THEN v[d + 1] ELSE -v[d + 1] END), (acc, x) -> acc + x) * 0.25, 6)"
        for k in range(16)
    )
    + "] AS jl FROM e))"
)
def q_random_projection(spark, sf_dir):
    """JL reduction 64 -> 16 dims with the deterministic md5 ±1 matrix —
    no stored projection, every engine regenerates it from (k, d); the
    oracle replays the identical signed left-folds bit-for-bit. The
    operator returns `jl array<double>`; this entry posexplodes to
    (vec_id, dim, jl_val) rows so the coordinates stay NUMERIC for the
    driver (string-serializing doubles would hit cross-engine float
    formatting; list cells crash its pandas canonicalizer)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = sim_ops.random_projection(emb, 16)
    return out.select("vec_id", F.posexplode("jl").alias("dim", "jl_val"))


@oracle("""WITH h AS (
  SELECT lang, doc_id,
         ('0x' || substr(md5('il42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM documents
), r AS (
  SELECT lang, doc_id,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY hv % 32, hv, doc_id) - 1 AS BIGINT) AS src_rank
  FROM h
)
SELECT lang, doc_id, src_rank,
       round((src_rank + 0.5::DOUBLE)
             / CASE lang WHEN 'en' THEN 0.4::DOUBLE WHEN 'de' THEN 0.2::DOUBLE
                         WHEN 'es' THEN 0.2::DOUBLE WHEN 'fr' THEN 0.15::DOUBLE
                         ELSE 0.05::DOUBLE END, 6) AS interleave_key
FROM r WHERE lang IN ('en', 'de', 'es', 'fr', 'zh')""")
def q_interleave_sources(spark, sf_dir):
    """Mixture interleave of documents by language: stride keys
    (rank+0.5)/w spread each language through the epoch at its mixture
    rate; ranks follow the sharded (hash mod 32, hash, id) pseudorandom
    order, replayed exactly by the oracle."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "doc_id")
    out = sampling_ops.interleave_sources(
        docs,
        {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.15, "zh": 0.05},
        source_col="lang",
    )
    return out.select("lang", "doc_id", "src_rank", "interleave_key")


@oracle("""WITH av AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'view' AND user_id % 2 = 1
), bv AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'purchase' AND user_id % 3 = 0
), sa AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM av ORDER BY 1 LIMIT 64
), sb AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM bv ORDER BY 1 LIMIT 64
), un AS (
  SELECT DISTINCT hv FROM (SELECT hv FROM sa UNION ALL SELECT hv FROM sb)
  ORDER BY hv LIMIT 64
), both_s AS (SELECT sa.hv FROM sa JOIN sb USING (hv)),
stats AS (
  SELECT (SELECT count(*) FROM un) AS n,
         (SELECT max(hv) FROM un) AS mx,
         (SELECT CAST(count(*) AS BIGINT) FROM un JOIN both_s USING (hv)) AS n_common
), est AS (
  SELECT n, mx, n_common,
         CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
              ELSE 63.0 * 1152921504606846976.0 / mx END AS eu
  FROM stats
), ex AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM av JOIN bv USING (user_id)) AS exact_intersection,
         (SELECT CAST(count(*) AS BIGINT) FROM (SELECT user_id FROM av UNION SELECT user_id FROM bv)) AS exact_union
)
SELECT 64 AS k, n_common, round(eu, 4) AS est_union,
       round((CAST(n_common AS DOUBLE) / n) * eu, 4) AS est_intersection,
       exact_intersection, exact_union
FROM est, ex""")
def q_kmv_overlap(spark, sf_dir):
    """KMV sketch set algebra — the audience-overlap estimate HLL cannot
    do: odd-id viewers vs multiple-of-3 purchasers, union/intersection
    estimated from two 64-hash sketches plus the exact counts for audit;
    the oracle replays the identical k-smallest-hash competition."""
    ev = load_table(spark, sf_dir, "events")
    a_vals = ev.filter(
        (F.col("event_type") == "view") & (F.col("user_id") % 2 == 1)
    ).select("user_id")
    b_vals = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 3 == 0)
    ).select("user_id")
    sa = analytics_ops.kmv_sketch(a_vals, "user_id", 64)
    sb = analytics_ops.kmv_sketch(b_vals, "user_id", 64)
    est = analytics_ops.kmv_intersection(sa, sb, 64)
    exact = (
        a_vals.distinct()
        .join(b_vals.distinct(), "user_id")
        .agg(F.count("*").alias("exact_intersection"))
        .crossJoin(
            a_vals.unionByName(b_vals)
            .distinct()
            .agg(F.count("*").alias("exact_union"))
        )
    )
    return est.crossJoin(exact)


@oracle("""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), x AS (
  SELECT vec_id, unnest(v) AS x, unnest(range(len(v))) AS i FROM e
), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
mu AS (SELECT i, sum(x) / (SELECT n FROM n) AS mu FROM x GROUP BY 1),
p AS (
  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sxy
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2
)
SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j,
       round(p.sxy / (SELECT n FROM n) - mi.mu * mj.mu, 6) + 0.0 AS cov
FROM p JOIN mu mi ON mi.i = p.i JOIN mu mj ON mj.i = p.j""")
def q_embedding_covariance(spark, sf_dir):
    """Distributed covariance of the embedding matrix, upper triangle as
    (i, j, cov) — the one-pass d^2 summary that feeds driver-side PCA
    (pca_fit eigendecomposes this; the corpus never leaves the cluster)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.embedding_covariance(emb)


# hll_dau: the per-group register/estimator math of _hll_branch_sql
# replayed with a GROUP BY day.
@oracle(f"""WITH ev AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
  FROM events WHERE user_id IS NOT NULL
), hh AS (
  SELECT day, ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM ev
), rr AS (
  SELECT day, hv >> 52 AS idx,
         CASE WHEN (hv & {_HLL_MASK}) = 0 THEN 53
              ELSE 53 - length(ltrim(bin(hv & {_HLL_MASK}), '0')) END AS rho
  FROM hh
), regs AS (SELECT day, idx, max(rho) AS M FROM rr GROUP BY 1, 2),
summed AS (
  SELECT day, sum(1::BIGINT << (53 - M)) AS s_present, count(*) AS n_present
  FROM regs GROUP BY 1
), stats AS (
  SELECT day, s_present + (256 - n_present) * (1::BIGINT << 53) AS s_int,
         256 - n_present AS n_zero
  FROM summed
), est AS (
  SELECT day, n_zero, {_HLL_ALPHA_NUM!r} / s_int AS raw_e FROM stats
), ex AS (SELECT day, count(DISTINCT user_id) AS exact FROM ev GROUP BY 1)
SELECT e.day, e.n_zero AS n_zero_registers,
       round(CASE WHEN raw_e <= 640.0 AND n_zero > 0 THEN 256.0 * ln(256.0 / n_zero) ELSE raw_e END, 4) AS estimate,
       x.exact,
       round((round(CASE WHEN raw_e <= 640.0 AND n_zero > 0 THEN 256.0 * ln(256.0 / n_zero) ELSE raw_e END, 4) - x.exact) / x.exact, 4) AS rel_err
FROM est e JOIN ex x USING (day)""")
def q_hll_dau(spark, sf_dir):
    """Per-day distinct-user estimates from per-group HLL sketches (the
    sliced cardinality report exact countDistinct-per-day cannot afford
    at scale), each day's registers independently estimator-corrected."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date(F.date_trunc("day", "ts"))
    )
    return analytics_ops.hll_cardinality_by(ev, "user_id", ["day"]).select(
        "day", "n_zero_registers", "estimate", "exact", "rel_err"
    )


@oracle("""WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
), bnorm AS (
  SELECT regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents WHERE doc_id % 10 = 0
), bgrams AS (
  SELECT DISTINCT unnest(CASE WHEN len(w) >= 8
    THEN [array_to_string(w[i:i+7], ' ') FOR i IN range(1, len(w) - 6)]
    ELSE [] END) AS g
  FROM bnorm
), pos AS (
  -- the Bloom bitset's set bits, replayed exactly (md5 positions)
  SELECT DISTINCT
    ('0x' || substr(md5('bl' || CAST(i AS VARCHAR) || ':' || g), 1, 15))::BIGINT % 65536 AS p
  FROM bgrams CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) s
), cnorm AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM corpus
), csets AS (
  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 8
    THEN [array_to_string(w[i:i+7], ' ') FOR i IN range(1, len(w) - 6)]
    ELSE [] END) AS sh
  FROM cnorm
), cgrams AS (
  SELECT doc_id, len(sh) AS n_ngrams, unnest(sh) AS g FROM csets WHERE len(sh) > 0
), ghit AS (
  SELECT doc_id, n_ngrams,
         (('0x' || substr(md5('bl0:' || g), 1, 15))::BIGINT % 65536 IN (SELECT p FROM pos))
     AND (('0x' || substr(md5('bl1:' || g), 1, 15))::BIGINT % 65536 IN (SELECT p FROM pos))
     AND (('0x' || substr(md5('bl2:' || g), 1, 15))::BIGINT % 65536 IN (SELECT p FROM pos)) AS hit
  FROM cgrams
), per AS (
  SELECT doc_id, n_ngrams, bool_or(hit) AS bloom_hit FROM ghit GROUP BY 1, 2
  UNION ALL
  SELECT doc_id, 0, false FROM csets WHERE len(sh) = 0
)
SELECT doc_id, n_ngrams, bloom_hit FROM per""")
def q_bloom_decontaminate(spark, sf_dir):
    """Bloom-gated decontamination (map-only corpus side, broadcast
    bitset): same eval-set fixture as `decontaminate`; clones must test
    positive (no false negatives — the Bloom guarantee), clean docs pass
    modulo the deterministic md5 false positives the oracle replays."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    benchmark = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0).unionByName(
        benchmark.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    return dedup_ops.bloom_decontaminate(corpus, benchmark, ngram_k=8)


@oracle(f"""SELECT * FROM {_hll_branch_sql("user_id")}
UNION ALL
SELECT * FROM {_hll_branch_sql("event_id")}""")
def q_hll_cardinality(spark, sf_dir):
    """Mergeable HyperLogLog distinct-count sketch, md5-register variant
    (engine-portable registers — Spark's own approx_count_distinct is the
    same HLL++ family with private layout). Two columns exercise both
    estimator branches: user_id lands in linear counting (empty
    registers), event_id in the raw harmonic-mean regime."""
    ev = load_table(spark, sf_dir, "events")
    a = analytics_ops.hll_cardinality(ev, "user_id").withColumn(
        "col", F.lit("user_id")
    )
    b = analytics_ops.hll_cardinality(ev, "event_id").withColumn(
        "col", F.lit("event_id")
    )
    return a.unionByName(b).select(
        "col", "m", "n_zero_registers", "estimate", "exact", "rel_err"
    )


@oracle("""WITH k AS (
  SELECT lang, doc_id, n_chars,
         round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 0.5)
                  / 1152921504606846976.0) / n_chars, 9) AS es
  FROM documents WHERE n_chars > 0
)
SELECT lang, doc_id, n_chars,
       row_number() OVER (PARTITION BY lang ORDER BY es DESC, doc_id) AS rank
FROM k QUALIFY rank <= 10""")
def q_weighted_sample_per_lang(spark, sf_dir):
    """Per-group E-S quota draw: 10 docs per language, weight n_chars —
    the per-source mixture sampling step, through the skew-safe two-stage
    top-k (no full-group window)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    return sampling_ops.weighted_sample_per_group(
        docs, ["lang"], "n_chars", 10, "doc_id"
    )


@oracle("""WITH v AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
), p AS (
  SELECT event_id AS purchase_event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT v.event_id, v.user_id, p.purchase_event_id
FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts <= p.ts""")
def q_asof_forward(spark, sf_dir):
    """Forward as-of: each view joined to the user's NEXT purchase at or
    after it (time-to-next-event; oracle: DuckDB ASOF with <=)."""
    from starlight_for_kafka_spark.operators.asof import as_of_join_forward

    events = load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"), "user_id", "ts"
    )
    joined = as_of_join_forward(
        views, purchases, ["user_id"], "ts", "ts",
        ["purchase_event_id"], tiebreak="purchase_event_id",
    )
    return joined.select("event_id", "user_id", "purchase_event_id")


@oracle("""WITH c AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), s AS (
  SELECT user_id, ts, event_id AS state_event_id FROM events WHERE event_type = 'purchase'
)
SELECT c.event_id, c.user_id, s.state_event_id
FROM c ASOF JOIN s ON c.user_id = s.user_id AND c.ts >= s.ts""")
def q_stream_table_join(spark, sf_dir):
    """KStream ⋈ KTable (co-partitioned, versioned): each click joined to
    the user's purchase-state as of the click time (inner: clicks before
    any purchase drop out, matching Kafka Streams stream-table inner
    join)."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    state = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("state_event_id")
    )
    joined = ktable_ops.stream_table_join(
        clicks, state, ["user_id"], "ts", "ts", ["state_event_id"],
        how="inner", tiebreak="state_event_id",
    )
    return joined.select("event_id", "user_id", "state_event_id")


@oracle(f"""WITH {LOG_CTE}
SELECT date_trunc('hour', "timestamp") AS bucket, "partition",
       count(*) AS messages_in,
       CAST(sum(strlen(key) + strlen(value)) AS BIGINT) AS bytes_in,
       CAST(sum(strlen(key) + strlen(value)) AS DOUBLE) / count(*) AS avg_record_bytes
FROM log GROUP BY 1, 2""")
def q_throughput_metrics(spark, sf_dir):
    """kop_server_BYTES_IN / MESSAGE_IN per (hour, partition) recomputed
    from the log (RequestStats.java / grafana dashboard vocabulary)."""
    from starlight_for_kafka_spark.operators import metrics as metrics_ops

    return metrics_ops.throughput_metrics(_log(spark, sf_dir).df)


@oracle(f"""WITH {LOG_CTE},
c AS (
  SELECT "partition", "offset",
         sum(strlen(key) + strlen(value)) OVER (
           PARTITION BY "partition" ORDER BY "offset" DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         row_number() OVER (PARTITION BY "partition" ORDER BY "offset" DESC) AS rn
  FROM log
)
SELECT "partition", "offset" FROM c WHERE cum <= 600 OR rn = 1""")
def q_retention_bytes(spark, sf_dir):
    """Size-based retention sweep (retention.bytes): newest records kept
    within a 600-byte-per-partition payload budget, truncating from the
    head like Kafka's size-based cleanup."""
    return _log(spark, sf_dir).retain_bytes(600).df.select("partition", "offset")


@oracle(f"""WITH {LOG_CTE},
hw AS (
  SELECT "partition", max("offset") + 1 AS hw FROM log
  WHERE "offset" < 50 GROUP BY "partition"
),
mapped AS (
  SELECT l."partition", l."offset" AS src_offset,
         coalesce(h.hw, 0)
           + row_number() OVER (PARTITION BY l."partition" ORDER BY l."offset") - 1
           AS dst_offset
  FROM log l LEFT JOIN hw h USING ("partition")
)
SELECT "partition", src_offset, dst_offset,
       dst_offset - src_offset AS offset_shift
FROM mapped""")
def q_migrate_offsets(spark, sf_dir):
    """Migration-tool offset mapping (migration/MigrationManager.java):
    replay a source log into a destination that already holds offsets <50
    per partition; the mapping translates committed offsets across."""
    src = _log(spark, sf_dir)
    dst = LogTable(src.df.filter(F.col("offset") < 50))
    _, mapping = dst.migrate_from(src)
    return mapping


@oracle(f"""WITH {LOG_CTE}
SELECT * FROM (
  SELECT "partition", key, value, "offset" FROM log
  QUALIFY row_number() OVER (PARTITION BY "partition", key ORDER BY "offset" DESC) = 1
) WHERE value IS NOT NULL""")
def q_log_compact(spark, sf_dir):
    log = _log(spark, sf_dir).df.withColumn("key", F.col("key").cast("string"))
    return ktable_ops.compact_topic(log).select(
        "partition", "key", F.col("value").cast("string").alias("value"), "offset"
    )


@oracle(f"""WITH {DOCS_WITH_CLONES_CTE},
docs3 AS (
  SELECT doc_id, text FROM docs
  UNION ALL
  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 20 = 0
),
d AS (SELECT doc_id, md5(text) AS dg FROM docs3),
g AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY dg) AS component,
         count(*) OVER (PARTITION BY dg) AS n
  FROM d
)
SELECT doc_id, component FROM g WHERE n > 1""")
def q_connected_components_chain(spark, sf_dir):
    """Exact oracle for the ITERATIVE min-label CC: chain edges (consecutive
    ids within each exact-duplicate digest group, so propagation must cross
    diameter > 1), closed-form answer = min doc_id of the digest group."""
    from pyspark.sql import Window

    base = load_table(spark, sf_dir, "documents")
    docs = _docs_with_clones(base)
    # second clone generation: doc_id%20==0 groups get a third member, so
    # the chain a-b-c forces label propagation across diameter 2
    second = (
        base.filter(F.col("doc_id") % 20 == 0)
        .withColumn("doc_id", F.col("doc_id") + 3_000_000)
        .select("doc_id", "text")
    )
    docs = docs.unionByName(second)
    d = docs.select("doc_id", F.md5(F.col("text").cast("binary")).alias("dg"))
    w = Window.partitionBy("dg").orderBy("doc_id")
    edges = (
        d.withColumn("prev", F.lag("doc_id").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("a"), F.col("doc_id").alias("b"))
    )
    return dedup_ops.connected_components(edges).select(
        F.col("node").alias("doc_id"), "component"
    )


@oracle(f"""WITH {LOG_CTE},
l2 AS (
  SELECT "partition", key,
         CASE WHEN "offset" % 9 = 0 THEN NULL ELSE value END AS value,
         "timestamp", "offset"
  FROM log
),
latest AS (
  SELECT * FROM l2
  QUALIFY row_number() OVER (PARTITION BY "partition", key ORDER BY "offset" DESC) = 1
)
SELECT "partition", key, "offset", value IS NULL AS is_tombstone FROM latest
WHERE value IS NOT NULL OR "timestamp" >= TIMESTAMP '2024-01-15'""")
def q_log_compact_tombstone_window(spark, sf_dir):
    """Two-phase compaction (delete.retention.ms): every 9th offset is a
    tombstone; young tombstones (ts >= cutoff) stay visible in the
    compacted view, settled ones vanish."""
    log = _log(spark, sf_dir).df.withColumn(
        "value", F.when(F.col("offset") % 9 == 0, F.lit(None)).otherwise(F.col("value"))
    ).withColumn("key", F.col("key").cast("string"))
    out = ktable_ops.compact_topic(log, tombstone_horizon=TS_CUTOFF)
    return out.select(
        "partition", "key", "offset", F.col("value").isNull().alias("is_tombstone")
    )


@oracle("""WITH m AS (
  SELECT doc_id AS media_id, 2500 + (doc_id % 16) * 256 AS duration_ms
  FROM documents WHERE doc_id % 3 = 1
), c AS (
  SELECT media_id, duration_ms,
         unnest(range(0, greatest(1, CAST(ceil((duration_ms - 500) / 1500.0) AS BIGINT)))) AS chunk_id
  FROM m
)
SELECT media_id, chunk_id, chunk_id * 1500 AS chunk_start_ms,
       least(chunk_id * 1500 + 2000, duration_ms) AS chunk_end_ms
FROM c""")
def q_audio_chunks(spark, sf_dir):
    """Overlapping audio segmentation (2s windows, 0.5s overlap) over the
    synthetic media table — plan-arithmetic explode, payload untouched."""
    media = mm_ops.synthesize_media(load_table(spark, sf_dir, "documents"))
    return mm_ops.audio_chunks(media, chunk_ms=2000, overlap_ms=500).select(
        "media_id", "chunk_id", "chunk_start_ms", "chunk_end_ms"
    )


@oracle("""WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS ws,
         length(text) AS nc
  FROM documents
)
SELECT doc_id AS media_id,
       array_to_string(ws[1 : 32], ' ') AS caption,
       least(len(ws), 32) AS n_caption_tokens,
       CASE WHEN doc_id % 2 = 0 THEN 661 ELSE 726 END AS payload_bytes,
       18 AS width, 12 AS height
FROM w WHERE doc_id % 3 = 0 AND least(len(ws), 32) >= 3""")
def q_caption_pairs(spark, sf_dir):
    """(image, caption) pair construction: image media joined to source
    docs, caption truncated to 32 tokens, short captions gated."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.synthesize_media(docs)
    return mm_ops.caption_pairs(media, docs)


@oracle("""WITH ti AS (
  SELECT doc_id * 2 AS item_id, 'text' AS modality,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS cost
  FROM documents
), mi AS (
  SELECT doc_id * 2 + 1 AS item_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
         CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 576
              WHEN 1 THEN (2500 + (doc_id % 16) * 256) // 80
              ELSE 25 + doc_id % 25 END AS BIGINT) AS cost
  FROM documents
), items AS (
  SELECT * FROM ti UNION ALL SELECT * FROM mi
), c AS (
  SELECT item_id, modality, cost,
         SUM(cost) OVER (ORDER BY item_id % 32, item_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cost AS start_tok
  FROM items
)
SELECT item_id, modality, cost, CAST(start_tok AS BIGINT) AS start_tok,
       CAST(start_tok // 4096 AS BIGINT) AS pack_id,
       CAST((start_tok + cost - 1) // 4096 - start_tok // 4096 + 1 AS INT) AS n_packs_spanned
FROM c""")
def q_pack_multimodal(spark, sf_dir):
    """Multimodal sequence packing: text + media items interleaved into a
    4096-token stream via the sharded parallel prefix sum."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.synthesize_media(docs)
    return mm_ops.pack_multimodal(media, docs, capacity=4096)


@oracle("""SELECT doc_id AS media_id,
       unnest(range(0, (25 + doc_id % 25) * 40, 500)) AS frame_ms
FROM documents WHERE doc_id % 3 = 2""")
def q_multimodal_frames(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    frames = mm_ops.sample_frames(mm_ops.synthesize_media(docs), every_ms=500)
    return frames.select("media_id", "frame_ms")



@oracle(f"""WITH {COMMITS_CTE}
SELECT "group", topic, "partition", "offset", metadata,
       {_DUCK_MS.format(c='commit_ts')} AS commit_ts_ms,
       CASE WHEN "offset" % 2 = 1 THEN 0 END AS leader_epoch,
       CAST(CASE WHEN "offset" % 2 = 0 THEN 1 ELSE 3 END AS INT) AS value_version
FROM commits
QUALIFY row_number() OVER (PARTITION BY "group", topic, "partition"
  ORDER BY {_DUCK_MS.format(c='commit_ts')} DESC, "offset" DESC) = 1""")
def q_offsets_wire_roundtrip(spark, sf_dir):
    """__consumer_offsets binary at-rest codec round-trip: the typed commit
    fixture serialized into versioned OffsetCommitKey/Value records (v1
    values for even offsets, v3 for odd — both broker generations in one
    stream), then recovered byte-level: decode_key routes by key version,
    decode_offset_value dispatches per value version, latest-wins
    compaction yields the committed view. The oracle computes the same
    view from the TYPED table — so the wire layer must invert itself
    field-for-field (offsets, metadata, ms-truncated timestamps,
    leader_epoch presence by version) or rows mismatch. Reference:
    GroupMetadataConstants.java:64-147 schemas,
    GroupMetadataManager.doLoadGroupsAndOffsets:718 replay."""
    commits = group_ops.derive_commits_from_events(load_table(spark, sf_dir, "events"))
    even = commits.filter(F.col("offset") % 2 == 0)
    odd = commits.filter(F.col("offset") % 2 == 1)
    recs = group_ops.encode_offsets_topic(even, value_version=1).unionByName(
        group_ops.encode_offsets_topic(odd, value_version=3)
    )
    out = group_ops.recover_offsets_from_wire(recs)
    return out.select(
        "group", "topic", "partition", "offset", "metadata",
        F.expr(_MS.format(c="commit_ts")).alias("commit_ts_ms"),
        "leader_epoch", "value_version",
    )


@oracle("""WITH mem AS (
  SELECT DISTINCT 'g' || CAST(user_id % 3 AS VARCHAR) AS g,
         'm' || CAST(user_id % 24 AS VARCHAR) AS member_id,
         user_id % 24 AS mnum
  FROM events
)
SELECT g AS "group", CAST(5 AS INT) AS generation, 'consumer' AS protocol_type,
       'range' AS protocol, 'm0' AS leader, member_id,
       CASE WHEN mnum % 4 = 0 THEN 'inst-' || member_id END AS group_instance_id,
       'client-' || member_id AS client_id, '/10.0.0.1' AS client_host,
       CAST(30000 + mnum * 100 AS INT) AS rebalance_timeout_ms,
       CAST(10000 AS INT) AS session_timeout_ms,
       member_id AS subscription_str,
       g AS assignment_str
FROM mem""")
def q_group_metadata_wire(spark, sf_dir):
    """GroupMetadataKey/Value v3 codec round-trip: per-group membership
    folded into ONE binary record (members nested in the value array,
    nullable group_instance_id exercising the v3 static-membership field),
    then decoded and re-exploded to member rows. Oracle recomputes the
    member table directly from events (GroupMetadataConstants
    GROUP_METADATA_VALUE_SCHEMA_V3; recovery branch of
    doLoadGroupsAndOffsets)."""
    ev = load_table(spark, sf_dir, "events")
    mnum = F.col("user_id") % 24
    base = (
        ev.select(
            F.concat(F.lit("g"), (F.col("user_id") % 3).cast("string")).alias("group"),
            F.concat(F.lit("m"), mnum.cast("string")).alias("member_id"),
            mnum.alias("__m"),
        )
        .distinct()
    )
    members = base.select(
        "group",
        F.lit(5).cast("int").alias("generation"),
        F.lit("consumer").alias("protocol_type"),
        F.lit("range").alias("protocol"),
        F.lit("m0").alias("leader"),
        "member_id",
        F.when(
            F.col("__m") % 4 == 0, F.concat(F.lit("inst-"), F.col("member_id"))
        ).alias("group_instance_id"),
        F.concat(F.lit("client-"), F.col("member_id")).alias("client_id"),
        F.lit("/10.0.0.1").alias("client_host"),
        (F.lit(30000) + F.col("__m") * 100).cast("int").alias("rebalance_timeout_ms"),
        F.lit(10000).cast("int").alias("session_timeout_ms"),
        F.col("member_id").cast("binary").alias("subscription"),
        F.col("group").cast("binary").alias("assignment"),
    )
    recs = group_ops.encode_group_metadata_records(members)
    out = group_ops.decode_group_metadata_records(recs)
    return out.select(
        "group", "generation", "protocol_type", "protocol", "leader",
        "member_id", "group_instance_id", "client_id", "client_host",
        "rebalance_timeout_ms", "session_timeout_ms",
        F.col("subscription").cast("string").alias("subscription_str"),
        F.col("assignment").cast("string").alias("assignment_str"),
    )



@oracle(f"""WITH {TXN_CTE}
SELECT "partition", pid, txn_group,
       min("offset") AS first_offset,
       max("offset") AS last_offset,
       max(txn_status) AS txn_status
FROM txn3 GROUP BY 1, 2, 3""")
def q_producer_state_snapshot(spark, sf_dir):
    """Producer-state snapshot + tail replay (reference
    storage/PartitionLog.takeProducerSnapshot:1194, recoverTxEntries:1244):
    snapshot the per-txn summary over the log prefix (offset < 40), then
    recover over the FULL log — the tail scan reads only offsets past the
    per-partition snapshot watermarks, and the merged state must equal the
    full-log recompute (the oracle), including transactions whose records
    straddle the snapshot boundary (their two partial rows merge by
    min/max/max)."""
    import os
    import re
    import shutil
    import tempfile

    txn = tx_ops.derive_txn_log(_log(spark, sf_dir).df)
    # one store dir per sf_dir, wiped before each build: repeated bench /
    # oracle invocations must not accumulate /tmp garbage, and a stale
    # snapshot from ANOTHER sf would carry that sf's watermarks
    tag = re.sub(r"[^A-Za-z0-9.]+", "-", sf_dir.strip("/"))
    root = os.path.join(tempfile.gettempdir(), f"slk-pstate-{tag}")
    shutil.rmtree(root, ignore_errors=True)
    store = tx_ops.ProducerStateStore(root)
    store.take_snapshot(txn.filter(F.col("offset") < 40))
    return store.recover(spark, txn)



@oracle("""WITH fr AS (
  SELECT doc_id AS id,
         unnest(range(0, (25 + doc_id % 25) * 40, 500)) AS frame_ms
  FROM documents WHERE doc_id % 3 = 2
), fx AS (
  SELECT id, frame_ms, CAST(frame_ms // 40 AS INT) AS f FROM fr
), px AS (
  SELECT id, frame_ms, f, unnest(range(128)) AS idx FROM fx
)
SELECT id AS media_id, frame_ms, CAST(f AS INT) AS frame_idx,
       CAST(sum((id*3 + f*29 + idx*13) % 256) AS BIGINT) AS sum_y,
       CAST(sum((id*3 + f*29 + 101 + idx*13) % 256) AS BIGINT) AS sum_u,
       CAST(sum((id*3 + f*29 + 202 + idx*13) % 256) AS BIGINT) AS sum_v
FROM px GROUP BY 1, 2, 3""")
def q_multimodal_frame_features(spark, sf_dir):
    """Frame-level video decode: sample_frames explodes (media, frame_ms)
    rows from metadata, then each row decodes ONLY its own frame through
    the Y4M byte-offset seek kernel (media_codec.decode_y4m_frame) — one
    plane read per sampled frame, never a full-stream decode. The oracle
    replays each frame's plane sums closed-form from the synthesis
    arithmetic, so a seek that lands one frame (or one plane) off
    mismatches immediately."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.synthesize_media(docs)
    return mm_ops.frame_features(media, every_ms=500)



@oracle("""WITH m AS (
  SELECT doc_id AS id, 2500 + (doc_id % 16) * 256 AS duration_ms,
         20000 + (doc_id % 16) * 2048 AS n
  FROM documents WHERE doc_id % 3 = 1
), c AS (
  SELECT id, n, duration_ms,
         unnest(range(0, greatest(1, CAST(ceil((duration_ms - 500) / 1500.0) AS BIGINT)))) AS chunk_id
  FROM m
), b AS (
  SELECT id, chunk_id, chunk_id * 1500 AS cs,
         least(chunk_id * 1500 + 2000, duration_ms) AS ce, n
  FROM c
), sx AS (
  SELECT id, chunk_id, cs, ce,
         unnest(range(cs * 8, least(ce * 8, n))) AS i
  FROM b
), v AS (
  SELECT id, chunk_id, cs, ce, (id*31 + i*17) % 4096 - 2048 AS s FROM sx
)
SELECT id AS media_id, chunk_id, cs AS chunk_start_ms, ce AS chunk_end_ms,
       count(*) AS n_samples, CAST(sum(s) AS BIGINT) AS sum,
       CAST(sum(s*s) AS BIGINT) AS sum_sq,
       min(s) AS vmin, max(s) AS vmax
FROM v GROUP BY 1, 2, 3, 4""")
def q_multimodal_chunk_features(spark, sf_dir):
    """Chunk-level audio decode: audio_chunks explodes overlapping
    (media, chunk) rows from metadata, then each row decodes ONLY its own
    PCM byte range through the WAV range-seek kernel
    (media_codec.decode_wav_range) — a direct [start, end) sample slice
    after the RIFF walk, never a whole-clip decode per chunk. The oracle
    replays each chunk's sample moments closed-form, so an off-by-one in
    the sample-offset arithmetic (or a byte-misaligned slice) mismatches."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.synthesize_media(docs)
    return mm_ops.chunk_features(media, chunk_ms=2000, overlap_ms=500)



@oracle("""WITH g AS (
  SELECT doc_id AS id, r.r, c.c
  FROM documents,
       (SELECT unnest(range(4)) AS r) r,
       (SELECT unnest(range(6)) AS c) c
  WHERE doc_id % 3 = 0
), sidx AS (
  SELECT id, ((r * 12) // 4) * 18 + ((c * 18) // 6) AS idx FROM g
), st AS (
  SELECT id,
         sum((id*7 + idx*13) % 256) AS sum_r,
         sum((id*7 + idx*13 + 101) % 256) AS sum_g,
         sum((id*7 + idx*13 + 202) % 256) AS sum_b,
         min(least((id*7+idx*13) % 256, (id*7+idx*13+101) % 256, (id*7+idx*13+202) % 256)) AS vmin,
         max(greatest((id*7+idx*13) % 256, (id*7+idx*13+101) % 256, (id*7+idx*13+202) % 256)) AS vmax
  FROM sidx GROUP BY id
), feat AS (
  SELECT id, 'image' AS kind, CAST(83 AS BIGINT) AS n_bytes,
         [6.0, 4.0, CAST(sum_r AS DOUBLE), CAST(sum_g AS DOUBLE),
          CAST(sum_b AS DOUBLE), CAST(vmin AS DOUBLE), CAST(vmax AS DOUBLE), 3.0] AS arr
  FROM st
)
SELECT id AS media_id, kind, n_bytes, CAST(d.dim AS INT) AS dim,
       arr[CAST(d.dim AS INT) + 1] AS feature
FROM feat, (SELECT unnest(range(8)) AS dim) d""")
def q_multimodal_resize(spark, sf_dir):
    """Real nearest-neighbor image resize (18x12 -> 6x4): payloads decoded
    (PPM and BMP alike), resampled on the integer grid src=(r*H//h,
    c*W//w), re-encoded as PPM, then feature-extracted — the oracle
    replays the resampled pixel sums closed-form, so a resample grid
    off-by-one, a channel mixup, or a re-encode header bug mismatches."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.synthesize_media(docs)
    small = mm_ops.resize_images(media, 6, 4)
    feats = mm_ops.extract_features(small)
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.posexplode("features").alias("dim", "feature"),
    )



@oracle("""WITH px AS (
  SELECT doc_id AS id, r.r, c.c
  FROM documents,
       (SELECT unnest(range(12)) AS r) r,
       (SELECT unnest(range(18)) AS c) c
  WHERE doc_id % 3 = 0
), t AS (
  SELECT id, r // 6 AS pr, c // 6 AS pc, r * 18 + c AS idx FROM px
)
SELECT id AS media_id, CAST(pr AS INT) AS patch_row, CAST(pc AS INT) AS patch_col,
       count(*) AS n_px,
       CAST(sum((id*7 + idx*13) % 256) AS BIGINT) AS sum_r,
       CAST(sum((id*7 + idx*13 + 101) % 256) AS BIGINT) AS sum_g,
       CAST(sum((id*7 + idx*13 + 202) % 256) AS BIGINT) AS sum_b
FROM t GROUP BY 1, 2, 3""")
def q_multimodal_patchify(spark, sf_dir):
    """ViT-style patch grid: each image decoded once, one row per
    non-overlapping 6x6 patch with per-channel sums (the vision-token
    analog of tokenization). Oracle replays the patch partition of the
    pixel grid closed-form — a tile-boundary bug or channel mixup
    mismatches."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.synthesize_media(docs)
    return mm_ops.patchify_images(media, patch=6)



@oracle("""WITH a AS (
  SELECT doc_id AS id, 20000 + (doc_id % 16) * 2048 AS n
  FROM documents WHERE doc_id % 3 = 1
), s1 AS (
  SELECT id, n, unnest(range(n - 1)) AS i FROM a
), p1 AS (
  SELECT id, n, sum(((id*31 + i*17) % 4096 - 2048) * ((id*31 + (i+1)*17) % 4096 - 2048)) AS ac_1
  FROM s1 GROUP BY id, n
), s2 AS (
  SELECT id, unnest(range(n - 241)) AS i FROM a
), p2 AS (
  SELECT id, sum(((id*31 + i*17) % 4096 - 2048) * ((id*31 + (i+241)*17) % 4096 - 2048)) AS ac_241
  FROM s2 GROUP BY id
)
SELECT p1.id AS media_id, CAST(p1.n AS BIGINT) AS n_samples,
       CAST(p1.ac_1 AS BIGINT) AS ac_1, CAST(p2.ac_241 AS BIGINT) AS ac_241
FROM p1 JOIN p2 ON p1.id = p2.id""")
def q_audio_periodicity(spark, sf_dir):
    """Integer autocorrelation per audio clip at lags 1 and 241 (the
    synthetic signal's step 17 satisfies 17*241 = 4097 == 1 mod 4096, so
    lag 241 is a near-period and spikes — the periodicity signal an audio
    curation filter gates on). Oracle replays sum(s_i * s_{i+k})
    closed-form."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.synthesize_media(docs)
    return mm_ops.audio_periodicity(media, lags=(1, 241))


@oracle("""WITH v AS (
  SELECT doc_id AS id, 25 + doc_id % 25 AS nf
  FROM documents WHERE doc_id % 3 = 2
), fr AS (
  SELECT id, unnest(range(1, nf)) AS f FROM v
), px AS (
  SELECT id, f, unnest(range(128)) AS idx FROM fr
)
SELECT id AS media_id, CAST(f AS INT) AS frame_idx,
       CAST(sum(abs((id*3 + f*29 + idx*13) % 256 - (id*3 + (f-1)*29 + idx*13) % 256)) AS BIGINT) AS motion_y,
       CAST(sum(abs((id*3 + f*29 + 101 + idx*13) % 256 - (id*3 + (f-1)*29 + 101 + idx*13) % 256)) AS BIGINT) AS motion_u,
       CAST(sum(abs((id*3 + f*29 + 202 + idx*13) % 256 - (id*3 + (f-1)*29 + 202 + idx*13) % 256)) AS BIGINT) AS motion_v
FROM px GROUP BY 1, 2""")
def q_video_motion(spark, sf_dir):
    """Per-frame-pair motion energy (sum |delta plane|) — the scene-cut /
    static-clip signal. Oracle replays the per-pair absolute plane
    differences closed-form."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.synthesize_media(docs)
    return mm_ops.video_motion_profile(media)


def _knn_split(spark, sf_dir):
    """The fixed query/corpus split every knn_join entry shares: every
    25th vector is a query row, the rest are the corpus — two DataFrames,
    no driver-side query list, which is the operator's whole point."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0).withColumnRenamed("vec_id", "query_id")
    c = emb.filter(F.col("vec_id") % 25 != 0)
    return q, c


@oracle(f"""WITH {_KNN_SPLIT_CTE},
scored AS (
  SELECT query_id, neighbor_id, {_KNN_COS} AS cos_sim FROM q CROSS JOIN c
)
SELECT query_id, neighbor_id, cos_sim,
       row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
FROM scored
QUALIFY rank <= 3""")
def q_knn_join_brute(spark, sf_dir):
    """Exact distributed kNN join (queries x corpus cross product) — the
    recall baseline the ANN modes are graded against; 3 nearest corpus
    neighbors for every query row."""
    q, c = _knn_split(spark, sf_dir)
    return sim_ops.knn_join(q, c, k=3, method="brute")


@oracle(f"""WITH {_KNN_SPLIT_CTE},
cb AS (SELECT neighbor_id, cv, {_hp_bucket_sql('cv', 4)} AS bkt FROM c),
qb AS (SELECT query_id, qv, {_hp_bucket_sql('qv', 4)} AS b FROM q),
qp AS (
  SELECT query_id, qv,
         unnest([b, xor(b, 1), xor(b, 2), xor(b, 4), xor(b, 8)]) AS bkt
  FROM qb
),
scored AS (
  SELECT query_id, neighbor_id, {_KNN_COS} AS cos_sim
  FROM qp JOIN cb USING (bkt)
)
SELECT query_id, neighbor_id, cos_sim,
       row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
FROM scored
QUALIFY rank <= 5""")
def q_knn_join_lsh(spark, sf_dir):
    """LSH-mode kNN join: corpus bucketed once by 4 md5 hyperplanes, each
    query probes its own bucket + the 4 one-bit-flip buckets (multi-probe).
    Approximate by design but fully deterministic — the oracle replays
    the buckets, the probe set, and the per-query top-k bit-for-bit."""
    q, c = _knn_split(spark, sf_dir)
    return sim_ops.knn_join(q, c, k=5, method="lsh", n_planes=4, probe_hamming1=True)


@oracle(f"""WITH {_KNN_SPLIT_CTE},
cents AS (SELECT vec_id AS cid, v AS ctr FROM e WHERE vec_id < 4),
casg AS (
  SELECT neighbor_id, cv, cid AS cell FROM (
    SELECT c.neighbor_id, c.cv, cents.cid,
           round(list_dot_product(c.cv, cents.ctr)
                 / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(cents.ctr, cents.ctr))), 9) AS sim
    FROM c CROSS JOIN cents
  ) QUALIFY row_number() OVER (PARTITION BY neighbor_id ORDER BY sim DESC, cid) = 1
),
qprobe AS (
  SELECT query_id, qv, cid AS cell FROM (
    SELECT q.query_id, q.qv, cents.cid,
           round(list_dot_product(q.qv, cents.ctr)
                 / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cents.ctr, cents.ctr))), 9) AS sim
    FROM q CROSS JOIN cents
  ) QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cid) <= 2
),
scored AS (
  SELECT query_id, neighbor_id, {_KNN_COS} AS cos_sim
  FROM qprobe JOIN casg USING (cell)
)
SELECT query_id, neighbor_id, cos_sim,
       row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
FROM scored
QUALIFY rank <= 5""")
def q_knn_join_ivf(spark, sf_dir):
    """IVF-mode kNN join: corpus assigned to 4 centroid cells (vectors
    0..3), every query ranks all cells IN-PLAN and probes its 2 nearest —
    the per-row twin of ivf_top_k's driver-side probe choice."""
    q, c = _knn_split(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_vectors(emb, 4)
    return sim_ops.knn_join(q, c, k=5, method="ivf", cell_centroids=cents, nprobe=2)


@oracle(f"""WITH {_minhash_pipeline_cte()},
truth AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM s x JOIN s y ON x.doc_id < y.doc_id
  WHERE (len(x.sset) + len(y.sset) - len(list_intersect(x.sset, y.sset))) > 0
    AND CAST(len(list_intersect(x.sset, y.sset)) AS DOUBLE)
        / (len(x.sset) + len(y.sset) - len(list_intersect(x.sset, y.sset))) >= 0.7
),
tc AS (SELECT count(*) AS true_pairs FROM truth),
cc AS (SELECT count(*) AS candidate_pairs FROM cand),
vc AS (SELECT count(*) AS verified_pairs FROM ver)
SELECT true_pairs, candidate_pairs, verified_pairs,
       CASE WHEN true_pairs > 0
            THEN round(verified_pairs / true_pairs, 4) ELSE 1.0 END AS recall,
       CASE WHEN candidate_pairs > 0
            THEN round(verified_pairs / candidate_pairs, 4) ELSE 1.0 END AS candidate_precision
FROM tc, cc, vc""")
def q_minhash_recall(spark, sf_dir):
    """MinHash-LSH acceptance harness (the ann_recall of dedup): banding
    recall + candidate precision vs the exact all-pairs Jaccard truth at
    the same shingles/threshold. Oracle replays BOTH pipelines and the
    one-row comparison."""
    docs = _docs_with_near(load_table(spark, sf_dir, "documents"))
    return dedup_ops.minhash_recall(
        docs, num_hashes=16, bands=4, shingle_k=3, threshold=0.7,
        shingle_mode="word",
    )


@oracle(f"""WITH {_KNN_SPLIT_CTE},
d AS (
  SELECT q.query_id, c.neighbor_id,
         round(sum((q.qv[t.i + 1] - c.cv[t.i + 1]) * (q.qv[t.i + 1] - c.cv[t.i + 1])), 9) AS l2_sq
  FROM q, c, unnest(range(0, 64)) AS t(i)
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, l2_sq,
       row_number() OVER (PARTITION BY query_id ORDER BY l2_sq, neighbor_id) AS rank
FROM d
QUALIFY rank <= 3""")
def q_knn_join_l2(spark, sf_dir):
    """Exact squared-L2 kNN join (brute) — the fair baseline for
    pq_knn_join's ADC distances (which approximate L2, not cosine)."""
    q, c = _knn_split(spark, sf_dir)
    return sim_ops.knn_join(q, c, k=3, method="brute", metric="l2")


@oracle(f"""WITH {_KNN_SPLIT_CTE},
cb AS (
  SELECT vec_id AS cbid, embedding FROM embeddings WHERE vec_id < 8
), cents AS (
  SELECT vec_id AS cid, v AS ctr FROM e WHERE vec_id < 4
), casg AS (
  SELECT neighbor_id, cid AS cell FROM (
    SELECT c.neighbor_id, cents.cid,
           round(list_dot_product(c.cv, cents.ctr)
                 / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(cents.ctr, cents.ctr))), 9) AS sim
    FROM c CROSS JOIN cents
  ) QUALIFY row_number() OVER (PARTITION BY neighbor_id ORDER BY sim DESC, cid) = 1
), pqd AS (
  SELECT c.neighbor_id, cb.cbid, CAST(t.i // 16 AS INT) AS j,
         (c.cv[t.i + 1] - CAST(cb.embedding[t.i + 1] AS DOUBLE))
       * (c.cv[t.i + 1] - CAST(cb.embedding[t.i + 1] AS DOUBLE)) AS sq
  FROM c, cb, unnest(range(0, 64)) AS t(i)
), pqdist AS (
  SELECT neighbor_id, j, cbid, round(sum(sq), 9) AS dist FROM pqd GROUP BY 1, 2, 3
), chosen AS (
  SELECT neighbor_id, j, cbid FROM (
    SELECT neighbor_id, j, cbid,
           row_number() OVER (PARTITION BY neighbor_id, j ORDER BY dist, cbid) AS rn
    FROM pqdist
  ) WHERE rn = 1
), qd AS (
  SELECT q.query_id, cb.cbid, CAST(t.i // 16 AS INT) AS j,
         (q.qv[t.i + 1] - CAST(cb.embedding[t.i + 1] AS DOUBLE))
       * (q.qv[t.i + 1] - CAST(cb.embedding[t.i + 1] AS DOUBLE)) AS sq
  FROM q, cb, unnest(range(0, 64)) AS t(i)
), qlut AS (
  SELECT query_id, j, cbid, round(sum(sq), 9) AS lv FROM qd GROUP BY 1, 2, 3
), qprobe AS (
  SELECT query_id, cid AS cell FROM (
    SELECT q.query_id, cents.cid,
           round(list_dot_product(q.qv, cents.ctr)
                 / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cents.ctr, cents.ctr))), 9) AS sim
    FROM q CROSS JOIN cents
  ) QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cid) <= 2
), scored AS (
  SELECT p.query_id, a.neighbor_id, round(sum(l.lv), 9) AS adc_dist
  FROM qprobe p
  JOIN casg a USING (cell)
  JOIN chosen ch ON ch.neighbor_id = a.neighbor_id
  JOIN qlut l ON l.query_id = p.query_id AND l.j = ch.j AND l.cbid = ch.cbid
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist,
       row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
FROM scored
QUALIFY rank <= 5""")
def q_pq_knn_join(spark, sf_dir):
    """IVFADC batch retrieval: every 25th vector queries the rest over PQ
    codes only (4 subspaces x 8 centroids from vectors 0..7, IVF cells
    from vectors 0..3, nprobe=2). The ADC lookup table is built in-plan
    per query row; the oracle replays cells, codes, LUT, and the
    per-query top-k bit-for-bit."""
    q, c = _knn_split(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    _, books = _pq_fixture(spark, sf_dir)
    cents = _seed_vectors(emb, 4)
    return sim_ops.pq_knn_join(q, c, books, cents, k=5, nprobe=2)


# the at-rest corpus_codes path is value-identical to the inline
# encode+assign by construction, so it shares pq_knn_join's oracle
@oracle(q_pq_knn_join.oracle)
def q_pq_knn_join_stored(spark, sf_dir):
    """The AT-REST IVFADC index path (sim_ops.pq_knn_join with
    ``corpus_codes``): codes + cells are computed once (pq_encode +
    ivf_assign — at production scale written at ingest) and the probe
    reads the code table instead of re-encoding the corpus. Same
    parameters and results as q_pq_knn_join, so the two share an
    oracle — this entry pins that the seam is value-identical."""
    q, c = _knn_split(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    _, books = _pq_fixture(spark, sf_dir)
    cents = _seed_vectors(emb, 4)
    at_rest = sim_ops.pq_encode(c, books).drop("recon_sq_err").join(
        sim_ops.ivf_assign(c, cents).select("vec_id", "ivf_cell"), "vec_id"
    )
    return sim_ops.pq_knn_join(
        q, c, books, cents, k=5, nprobe=2, corpus_codes=at_rest
    )


@oracle(f"""WITH {DOCS_WITH_NEAR_CTE},
w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM docs
), wp AS (
  SELECT doc_id, i - 1 AS wpos, ws[i] AS word
  FROM w, unnest(range(1, len(ws) + 1)) AS t(i)
), pg AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(ws[i : i + 7], ' ') AS g
  FROM w, unnest(range(1, greatest(len(ws) - 6, 1))) AS t(i)
), dg AS (
  SELECT DISTINCT doc_id, g FROM pg
), fr AS (
  SELECT g, count(*) AS n_docs, min(doc_id) AS keeper FROM dg GROUP BY g
), rem AS (
  SELECT pg.doc_id, pg.pos FROM pg JOIN fr USING (g)
  WHERE n_docs > 1 AND pg.doc_id <> keeper
), cov AS (
  SELECT DISTINCT doc_id, pos + j AS wpos FROM rem, unnest(range(0, 8)) AS t(j)
), kept AS (
  SELECT wp.doc_id, wp.wpos, wp.word FROM wp ANTI JOIN cov USING (doc_id, wpos)
), reb AS (
  SELECT doc_id, count(*) AS kept_words,
         string_agg(word, ' ' ORDER BY wpos) AS text
  FROM kept GROUP BY doc_id
)
SELECT w.doc_id, len(w.ws) AS n_words,
       len(w.ws) - coalesce(reb.kept_words, 0) AS removed_words,
       coalesce(reb.text, '') AS text
FROM w LEFT JOIN reb USING (doc_id)""")
def q_remove_repeated_spans(spark, sf_dir):
    """Cross-document repeated-passage REMOVAL (Lee et al. substring-dedup
    rewrite): shared >=8-word passages are cut from every non-keeper doc;
    the injected near-clones lose essentially their whole body while their
    keepers keep every word. Oracle replays tokenize/gram/keeper/coverage/
    reassembly in SQL."""
    docs = _docs_with_near(load_table(spark, sf_dir, "documents"))
    return dedup_ops.remove_repeated_spans(docs)


@oracle(f"""WITH RECURSIVE {_MINHASH_COMPONENTS_CTE},
sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
SELECT d.doc_id,
       coalesce(comp.component, d.doc_id) AS cluster,
       CAST(coalesce(sizes.cluster_size, 1) AS BIGINT) AS cluster_size,
       round(power(coalesce(sizes.cluster_size, 1), -1.0), 6) AS weight
FROM docs d
LEFT JOIN comp ON d.doc_id = comp.node
LEFT JOIN sizes ON comp.component = sizes.component""")
def q_soft_dedup_weights(spark, sf_dir):
    """SoftDeDup: every doc kept, weighted 1/cluster_size over the exact
    transitive MinHash components — the drop-free alternative to
    dedup_minhash_cc (same pipeline parameters, so the clusters match its
    keeper topology). Oracle replays the full pipeline + recursive
    closure + size join."""
    docs = _docs_with_near(load_table(spark, sf_dir, "documents"))
    return dedup_ops.soft_dedup_weights(
        docs, num_hashes=16, bands=4, shingle_k=3, threshold=0.7,
        shingle_mode="word",
    )


@oracle(f"""WITH req AS (
  SELECT event_id AS correlation_id, event_id % 70 AS api_key,
         event_id % 6 AS api_version
  FROM events
), spec(api_key, api_name) AS (
  VALUES {", ".join(f"({k}, '{n}')" for k, n in HANDLED_APIS)}
)
SELECT correlation_id, req.api_key, spec.api_name,
       spec.api_name IS NOT NULL AS handled,
       CASE WHEN spec.api_name IS NULL THEN 'UNSUPPORTED_VERSION'
            WHEN req.api_key = 18 AND (api_version < 0 OR api_version > 3)
              THEN 'UNSUPPORTED_VERSION'
            ELSE 'NONE' END AS error_code
FROM req LEFT JOIN spec ON req.api_key = spec.api_key""")
def q_api_versions(spark, sf_dir):
    """API_VERSIONS / dispatch gating (KafkaCommandDecoder.java:282-385):
    probe requests sweep api keys 0..69 and versions 0..5, so the result
    exercises served keys, unserved keys (default -> handleError), and
    the API_VERSIONS own-version gate. Oracle replays the 33-row dispatch
    table as VALUES."""
    from starlight_for_kafka_spark.sources import topics as topics_mod

    ev = load_table(spark, sf_dir, "events")
    reqs = ev.select(
        F.col("event_id").alias("correlation_id"),
        (F.col("event_id") % 70).alias("api_key"),
        (F.col("event_id") % 6).alias("api_version"),
    )
    return topics_mod.api_versions(reqs)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every ``q_<name>`` function of this module, keyed by ``<name>``.

    Stable, name-sorted order (the naming convention groups families —
    sql_surface_*, dedup_*, txn_*, registry_*, knn_* — so sorting is also
    a semantic grouping). No coverage-aware reordering: coverage telemetry
    lives outside this file (COVERAGE.json).
    """
    found = {
        name[2:]: fn
        for name, fn in globals().items()
        if name.startswith("q_") and callable(fn)
    }
    return {n: found[n] for n in sorted(found)}


def oracle_sql() -> dict[str, str]:
    """The DuckDB oracle of every ``queries()`` entry, keyed and ordered
    the same way: each builder carries its own as ``@oracle(...)``."""
    qs = queries()
    missing = [name for name, fn in qs.items() if not hasattr(fn, "oracle")]
    if missing:
        raise ValueError(f"queries without an @oracle(...): {missing}")
    return {name: fn.oracle for name, fn in qs.items()}
