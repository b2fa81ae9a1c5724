#!/usr/bin/env python
"""Per-task Python-worker probe: what a reused worker pays before a kernel.

Runs a no-op ``mapInPandas`` kernel as ``--tasks`` single-task jobs on a
``local[4]`` session and prints one JSON line per task and a summary:

- ``job_s``: wall time of the whole job (Python task start-up included);
- ``zip_start``: ``zipimport.zipimporter`` entries in the worker's
  ``sys.path_importer_cache`` when the kernel body starts;
- ``zip_end`` and ``invalidate_ms``: the entries left when the kernel
  ends, and what ``importlib.invalidate_caches()`` costs on them, i.e.
  what the next task's ``setup_spark_files`` pays in that worker.

    python tools/worker_probe.py [--tasks 8] [--out FILE]

The kernel goes through ``plans.kernel`` when the checkout has it, and is
passed to ``mapInPandas`` directly otherwise, so the same script measures
a tree with the seam and one without.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT


def probe(batches):
    import importlib
    import os
    import sys
    import time
    import zipimport

    import pandas as pd

    def zips():
        return sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )

    start = zips()
    for _ in batches:
        pass
    end = zips()
    t = time.perf_counter()
    importlib.invalidate_caches()
    ms = (time.perf_counter() - t) * 1e3
    yield pd.DataFrame(
        {"pid": [os.getpid()], "zip_start": [start], "zip_end": [end], "invalidate_ms": [ms]}
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tasks", type=int, default=8)
    ap.add_argument("--out")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    try:
        from starlight_for_kafka_spark.plans import kernel

        fn, seam = kernel(probe), True
    except ImportError:
        fn, seam = probe, False
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    schema = "pid long, zip_start long, zip_end long, invalidate_ms double"
    frame = spark.range(1).coalesce(1)
    rows = []
    for i in range(args.tasks):
        t = time.perf_counter()
        r = frame.mapInPandas(fn, schema).collect()[0].asDict()
        r["job_s"] = time.perf_counter() - t
        r["task"] = i
        rows.append(r)
        print(json.dumps(r))
    spark.stop()
    later = rows[1:] or rows
    summary = {
        "seam": seam,
        "python": sys.version.split()[0],
        "nproc": os.cpu_count(),
        "tasks": len(rows),
        "median_job_s": statistics.median(r["job_s"] for r in later),
        "median_invalidate_ms": statistics.median(r["invalidate_ms"] for r in later),
        "zip_start": [r["zip_start"] for r in rows],
        "zip_end": [r["zip_end"] for r in rows],
        "note": "medians over tasks 2..n (task 1 starts the worker)",
    }
    print(json.dumps(summary))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"tasks": rows, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
