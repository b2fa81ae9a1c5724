"""Self-check of the output checks: a corrupted reference must be caught.

    python3 perfbench/selfcheck.py

Spark-free. ``run.py`` calls ``check()`` before every run and exits
non-zero if it fails, so a check that silently passes everything cannot
report ``failed_ratio`` 0.
"""

from __future__ import annotations

import sys

import numpy as np
import pyarrow as pa

import gen
from harness import Recorder, row_digest, table_rows


def check() -> None:
    recs = gen.with_offsets(gen.log_records(gen.events(np.random.default_rng(0), 50, 0,
                                                       gen.BASE_TS_US)))
    cols = ["partition", "offset", "key", "value"]
    table = pa.Table.from_pandas(recs[cols], preserve_index=False)
    good = row_digest(zip(recs.partition.astype(int), recs.offset.astype(int),
                          recs.key, recs.value))
    rows = list(zip(recs.partition.astype(int), recs.offset.astype(int),
                    recs.key, recs.value))
    corrupt_value = rows[:7] + [rows[7][:3] + (rows[7][3] + b"x",)] + rows[8:]
    dropped_row = rows[1:]
    swapped = [rows[1], rows[0]] + rows[2:]  # order must not matter

    rec = Recorder()
    rec.begin_pass()
    for name, ref, want_ok in (("good", good, True),
                               ("corrupt_value", row_digest(corrupt_value), False),
                               ("dropped_row", row_digest(dropped_row), False),
                               ("reordered", row_digest(swapped), True)):
        def cmp(t, ref=ref):
            got = row_digest(table_rows(t, cols))
            return got[0], got == ref
        rec.request("fetch", name, lambda: table, cmp)
        if rec.requests[-1].ok != want_ok:
            raise AssertionError(f"self-check {name}: ok={rec.requests[-1].ok}")

    def boom():
        raise RuntimeError("request raised")

    rec.request("fetch", "raises", boom)
    if [r.name for r in rec.failures()] != ["corrupt_value", "dropped_row", "raises"]:
        raise AssertionError(f"self-check failures: {[r.name for r in rec.failures()]}")


if __name__ == "__main__":
    check()
    print("selfcheck ok: corrupted and short references are caught")
    sys.exit(0)
