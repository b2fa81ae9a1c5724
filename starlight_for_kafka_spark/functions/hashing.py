"""Deterministic, engine-portable hashing and text tokenizing helpers.

MD5 is identical across Spark and DuckDB (the oracle), so every hash-keyed
operator (exact dedup, MinHash, fingerprints) builds on md5 → first-16-hex →
int64. Spark's murmur3 ``F.hash`` is faster but engine-specific; we keep it
available for internal bucketing where cross-engine determinism isn't needed.

This module is also the one place the text-dedup tokenizing policy is
written down: :func:`normalize` (lowercase, every whitespace run collapsed
to one space), :func:`words` (the normalized text trimmed and split on
single spaces) and the k-shingle construction behind :func:`word_shingles`
and :func:`shingles`. Operators call these instead of restating the
recipe, so a stored digest, a gram and the DuckDB oracle's
``regexp_replace(lower(text), '\\s+', ' ', 'g')`` cannot drift apart
(``tests/test_tokenizer.py`` fails on a copy elsewhere in the package).
Case-preserving tokenizers (chunking, multimodal captions) are a
different policy and keep their own expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_hash64(col: Column) -> Column:
    """Stable 63-bit positive hash from md5 (portable to DuckDB as
    strtol-equivalent on the hex prefix). Uses 15 hex digits (60 bits) to
    stay well inside signed-int64 for both engines."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("long")


def stable_hash64(col: Column, seed: int) -> Column:
    """Seeded variant: prefix the payload with the seed before hashing —
    portable (same construction expressible in ANSI SQL), uniform enough for
    MinHash."""
    return md5_hash64(F.concat(F.lit(f"s{seed}:"), col.cast("string")))


def normalize(text: Column) -> Column:
    """Lowercase ``text`` and collapse every whitespace run to one space
    (leading and trailing runs stay, as one space each)."""
    return F.regexp_replace(F.lower(text), r"\s+", " ")


def words(text: Column) -> Column:
    """The normalized words of ``text`` as array<string>: an empty or
    whitespace-only text gives ``[""]`` (one empty word), a null text null."""
    return F.split(F.trim(normalize(text)), " ")


def _kgrams(parts: Column, n: Column, k: int, sep: str) -> Column:
    """The ``n`` k-grams of ``parts``, each its k consecutive elements
    joined by ``sep``, as one chain of k-1 ``zip_with`` joins over shifted
    slices. NOT ``transform(sequence(1, n), i -> slice(parts, i, k))``:
    codegen does not share subexpressions into a lambda body, so that
    formulation re-evaluates whatever ``parts`` is derived from (the
    regex-normalize + split, O(doc length)) once PER GRAM, turning the
    tokenize pass quadratic. The chain evaluates ``parts`` k times per row
    and is ~10x faster end-to-end (measured at sf0.1; identical output).
    Callers guard ``n < 1``."""
    acc = F.slice(parts, 1, n)
    for i in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(parts, i + 1, n),
            lambda a, b: F.concat(a, F.lit(sep), b) if sep else F.concat(a, b),
        )
    return acc


def word_shingles(words: Column, k: int = 3) -> Column:
    """Word k-shingles (w-shingling) of a word array (normally
    :func:`words`) as array<string>, in position order — the standard
    document-dedup unit (Broder '97 resemblance sketches use word
    shingles): ~6x fewer elements than character shingles on English
    text, so the per-shingle hash pass costs proportionally less. Empty
    when the array holds fewer than ``k`` words."""
    n = F.size(words) - F.lit(k - 1)
    return F.when(n >= 1, _kgrams(words, n, k, " ")).otherwise(
        F.array().cast("array<string>")
    )


def char_shingles(norm: Column, k: int = 5) -> Column:
    """Character k-shingles of an already normalized string as
    array<string>: length(norm)-k+1 shingles, empty when shorter. An
    operator that projects :func:`normalize` once passes the attribute."""
    # split("") appends a trailing empty element; slice to the true length
    chars = F.slice(F.split(norm, ""), 1, F.length(norm))
    n = F.length(norm) - F.lit(k - 1)
    return F.when(n >= 1, _kgrams(chars, n, k, "")).otherwise(
        F.array().cast("array<string>")
    )


def shingles(text: Column, k: int = 5) -> Column:
    """Character k-shingles of ``normalize(text)``."""
    return char_shingles(normalize(text), k)
