"""Exact row comparison of a Spark result with its DuckDB oracle.

The one value lane both ``sweep.py`` (sf0.01, the grading scale) and
``tests/test_oracle_parity.py`` (sf0.001) compare with. The oracle side is
read through Arrow (``duckdb.sql(...).arrow()``), which is how the driver
materializes DuckDB results, and both sides are normalized to Python
values and sorted:

- bool -> int;
- Decimal stays Decimal (exact: ``float`` would lose digits past ~15,
  and the driver hashes the decimal bytes; decimal-vs-float never gets
  here because the type lane rejects it first);
- NaN -> "NaN", and -0.0 -> "-0.0": the driver hashes bytes, where -0.0
  and 0.0 differ, so a sign divergence fails here too;
- datetime -> ISO string, bytes -> hex, list -> tuple (elementwise).
"""

from __future__ import annotations

import datetime
import decimal
import math


def norm(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0.0:
            return "-0.0"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def skey(row):
    # None-safe sort key: rows only compare values when the None-flags
    # tie, so a nullable column under tied leading columns can't raise
    # TypeError (None replaced by a never-compared sentinel).
    return tuple((v is None, 0 if v is None else v) for v in row)


def sorted_rows(rows) -> list[tuple]:
    """Normalized rows, sorted: an order-insensitive, multiplicity-keeping
    form of a result."""
    return sorted((tuple(norm(v) for v in r) for r in rows), key=skey)


def spark_rows(sdf, cols: list[str]) -> list[tuple]:
    """``sdf``'s rows with its columns in the order of ``cols`` (matched
    case-insensitively), normalized and sorted."""
    by_lower = {c.lower(): c for c in sdf.columns}
    return sorted_rows(sdf.select(*[by_lower[c.lower()] for c in cols]).collect())


def arrow_rows(table) -> list[tuple]:
    """A pyarrow Table's rows, normalized and sorted."""
    return sorted_rows(zip(*(col.to_pylist() for col in table.columns)))
