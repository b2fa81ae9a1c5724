#!/usr/bin/env python
"""Per-query profiler over the bench suite (``bench.SUITE``).

For every suite query: capture .explain("formatted") to
plans/<TAG>/<name>.txt, run it once against the noop sink with the
status REST API on, and record wall seconds + per-query stage/shuffle
telemetry + plan-shape counters (Exchange count, join strategies,
Python-boundary nodes). ONE run per query — this is a profiling pass,
not the bench; medians come from bench.py.

Usage:
  SPARK_GRAFT_PROFILE_TAG=before python tools/profile.py [names...]
Writes plans/<TAG>/profile.json
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
os.environ.setdefault("SPARK_GRAFT_UI", "true")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TAG = os.environ.get("SPARK_GRAFT_PROFILE_TAG", "before")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the repo root REPLACES this script's directory on the path: left there,
# this file would shadow the standard library's ``profile``, which
# ``cProfile`` (imported by pyspark) imports
sys.path[0] = ROOT


def main() -> None:
    from starlight_for_kafka_spark import get_session

    import bench_scale
    import __spark_entry__ as entrymod
    from bench import SUITE

    spark = get_session(app="starlight-profile")
    spark.sparkContext.setLogLevel("ERROR")

    queries = entrymod.queries()
    suite = sys.argv[1:] or SUITE

    # warm JVM + file listing
    entrymod.q_list_offsets(spark, SF_DIR).write.mode("overwrite").format(
        "noop"
    ).save()

    from starlight_for_kafka_spark.plans.checkpoints import release_session_storage
    from starlight_for_kafka_spark.plans.inspect import plan_shape, plan_string

    metrics = bench_scale.StageMetrics(spark)
    out: dict[str, dict] = {}
    plans_dir = os.path.join(ROOT, "plans", TAG)
    os.makedirs(plans_dir, exist_ok=True)

    for name in suite:
        df = queries[name](spark, SF_DIR)
        plan = plan_string(df)
        with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
            f.write(plan)
        spark.sparkContext.setJobDescription(f"profile:{name}")
        metrics.mark()
        t0 = time.perf_counter()
        queries[name](spark, SF_DIR).write.mode("overwrite").format("noop").save()
        wall = round(time.perf_counter() - t0, 3)
        d = metrics.delta()
        spark.sparkContext.setJobDescription(None)
        release_session_storage(spark)
        out[name] = {
            "wall_s": wall,
            **d,
            "plan": plan_shape(plan),
        }
        print(
            f"  {name}: {wall}s, stages={d['n_stages']}, "
            f"shuffle={d['shuffle_write_bytes']/1e6:.1f}MB, gc={d['gc_s']}s, "
            f"spill={d['spill_bytes']/1e6:.1f}MB, "
            f"exch={out[name]['plan']['exchanges']}",
            file=sys.stderr,
        )

    path = os.path.join(plans_dir, "profile.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(path)
    spark.stop()


if __name__ == "__main__":
    main()
