"""The text-dedup tokenizing policy is written once, in
``functions/hashing.py``: ``normalize`` (lowercase, every whitespace run
to one space), ``words`` and the k-shingle ``zip_with`` chain. A copy
elsewhere can drift from it, and from the DuckDB oracle's
``regexp_replace(lower(text), '\\s+', ' ', 'g')``; a stored digest or gram
then silently misses. Case-preserving tokenizers (chunking, multimodal
captions) are a different policy and do not lowercase."""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import functions as F

import starlight_for_kafka_spark
from starlight_for_kafka_spark.functions import hashing

PACKAGE = pathlib.Path(starlight_for_kafka_spark.__file__).parent


def _calls(node: ast.AST, name: str) -> bool:
    """``node`` is a call of ``name`` (``F.name(...)`` or ``name(...)``)."""
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    return (isinstance(f, ast.Attribute) and f.attr == name) or (
        isinstance(f, ast.Name) and f.id == name
    )


def _tokenizer_copies(source: str) -> list[int]:
    """Lines that build ``regexp_replace(lower(...), '\\s+', ' ')`` or a
    ``zip_with`` that concatenates shifted ``slice``s (the k-shingle
    chain)."""
    lines = []
    for n in ast.walk(ast.parse(source)):
        if _calls(n, "regexp_replace") and len(n.args) == 3:
            subject, pattern, repl = n.args
            if (
                _calls(subject, "lower")
                and isinstance(pattern, ast.Constant)
                and pattern.value == r"\s+"
                and isinstance(repl, ast.Constant)
                and repl.value == " "
            ):
                lines.append(n.lineno)
        if (
            _calls(n, "zip_with")
            and any(_calls(a, "slice") for a in n.args)
            and any(
                _calls(c, "concat")
                for a in n.args
                if isinstance(a, ast.Lambda)
                for c in ast.walk(a.body)
            )
        ):
            lines.append(n.lineno)
    return sorted(lines)


def test_tokenizer_is_defined_once():
    """No module but ``functions/hashing.py`` normalizes text or chains
    shingles itself; operators and the query fixtures call the helpers."""
    home = PACKAGE / "functions" / "hashing.py"
    sources = [p for p in sorted(PACKAGE.rglob("*.py")) if p != home]
    sources.append(PACKAGE.parent / "__spark_entry__.py")
    offenders = [
        f"{path.name}:{line}"
        for path in sources
        for line in _tokenizer_copies(path.read_text())
    ]
    assert not offenders
    assert len(_tokenizer_copies(home.read_text())) == 2
    snippet = (
        "a = F.regexp_replace(F.lower(F.col('t')), r'\\s+', ' ')\n"
        "b = F.zip_with(acc, F.slice(ws, 2, n), lambda x, y: F.concat(x, y))\n"
        "c = F.split(F.trim(F.regexp_replace(F.col('t'), r'\\s+', ' ')), ' ')\n"
        "d = F.zip_with(F.slice(x, 1, 32), pow2, lambda v, p: v * p)\n"
    )
    assert _tokenizer_copies(snippet) == [1, 2]


def test_words_edge_cases(spark):
    """``words`` keeps the oracle's split semantics: empty and
    whitespace-only text give one empty word, null stays null, and any
    whitespace run between words is one separator."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, " \t\n "), (4, "  A\tb \n\nC  ")], "id int, t string"
    )
    got = {
        r.id: (r.w, r.n)
        for r in df.select(
            "id",
            hashing.words(F.col("t")).alias("w"),
            hashing.normalize(F.col("t")).alias("n"),
        ).collect()
    }
    assert got == {
        1: (None, None),
        2: ([""], ""),
        3: ([""], " "),
        4: (["a", "b", "c"], " a b c "),
    }
