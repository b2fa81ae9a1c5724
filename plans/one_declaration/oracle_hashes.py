#!/usr/bin/env python
"""Fingerprint the query registry of a checkout's ``__spark_entry__``.

Prints one JSON object: the number of ``queries()`` entries, the sha256
of ``json.dumps(list(queries()))`` (names and their order), the sha256 of
``json.dumps(oracle_sql(), sort_keys=True)`` (every oracle string), and
the seconds ``oracle_sql()`` takes. Two checkouts with equal hashes
declare the same queries, in the same order, with identical oracles.
Importing the module runs no Spark job and no DuckDB query.

    python plans/one_declaration/oracle_hashes.py [repo_dir]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

repo = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")
sys.path.insert(0, repo)

import __spark_entry__ as entrymod  # noqa: E402


def _sha(obj, **kw) -> str:
    return hashlib.sha256(json.dumps(obj, **kw).encode()).hexdigest()


names = list(entrymod.queries())
t0 = time.perf_counter()
oracles = entrymod.oracle_sql()
secs = time.perf_counter() - t0
print(json.dumps({
    "queries": len(names),
    "oracles": len(oracles),
    "queries_sha256": _sha(names),
    "oracle_sql_sha256": _sha(oracles, sort_keys=True),
    "oracle_sql_seconds": round(secs, 4),
}))
