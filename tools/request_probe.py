#!/usr/bin/env python
"""Per-request driver probe: what each request of a benchmark workload costs.

Runs one of the benchmark's workloads (``perfbench/log_serve.py`` or
``perfbench/wire_convert.py``, unchanged, on a ``get_session`` session
sized like a benchmark run) for one set-up, one warm-up pass and
``--passes`` measured passes, and reports per request kind, as the
median over the measured passes:

- ``py4j``: Py4J commands the request sends (driver -> JVM round trips),
  building the request's frame and fetching it as Arrow included, and
  releases of garbage-collected proxies (sent whenever Python's
  collector runs) left out;
- ``compiles``: classes Spark's code generator compiles for it (the
  JVM-wide ``CodegenMetrics`` compile-time count);
- ``jobs``: Spark jobs it launches (the scheduler's job count, so the
  group-coordinator stream's jobs count too);
- ``wall_s``: its wall time.

It also prints the compiles of the set-up, of the warm-up pass and of
every measured pass. The probe's own counter reads happen outside the
request, so they are in none of the figures.

    python tools/request_probe.py [--workload {log_serve,wire_convert}]
        [--seed 5] [--passes 3] [--out FILE]

Every file the run writes stays under ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
sys.path[0] = ROOT
sys.path.insert(1, BENCH)


class Counters:
    """Wraps each request of a ``harness.Recorder`` (its ``on_request``
    hook) and keeps one sample per request."""

    def __init__(self, spark):
        self.codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.scheduler = spark.sparkContext._jsc.sc().dagScheduler()
        self.samples: list[dict] = []

    def compiles(self) -> int:
        return self.codegen.METRIC_COMPILATION_TIME().getCount()

    def jobs(self) -> int:
        return self.scheduler.numTotalJobs()

    def __call__(self, req, fn, collect):
        from py4j.clientserver import ClientServerConnection
        from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

        release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
        real = ClientServerConnection.send_command
        calls = [0]

        def send(conn, command):
            calls[0] += not command.startswith(release)
            return real(conn, command)

        c0, j0 = self.compiles(), self.jobs()
        ClientServerConnection.send_command = send
        t = time.perf_counter()
        try:
            result = fn().toArrow() if collect else fn()
        finally:
            wall = time.perf_counter() - t
            ClientServerConnection.send_command = real
            self.samples.append({
                "pass": req.parent, "request": req.name, "py4j": calls[0],
                "compiles": self.compiles() - c0, "jobs": self.jobs() - j0,
                "wall_s": wall,
            })
        return result


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=("log_serve", "wire_convert"),
                    default="log_serve")
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--out")
    args = ap.parse_args()

    import run

    workdir = os.path.join(BENCH, "out", f"probe-{os.getpid()}")
    run.prepare_env(workdir, trace=False)
    os.chdir(workdir)
    spark = run.start_session()
    try:
        report = probe(spark, args.workload, args.seed, args.passes, workdir)
    finally:
        run.stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(report["summary"]))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


def probe(spark, workload: str, seed: int, passes: int, workdir: str) -> dict:
    import harness
    import run

    counters = Counters(spark)
    wl = run.make_workload(workload, spark, seed, workdir)
    c0 = counters.compiles()
    wl.setup(0)
    setup_compiles = counters.compiles() - c0
    rec = harness.Recorder()
    rec.on_request = counters
    pass_compiles = {}
    for i in range(passes + 1):
        p = rec.begin_pass()
        c0 = counters.compiles()
        wl.run_pass(rec)
        pass_compiles[p["id"]] = counters.compiles() - c0
    failed = [f"{r.name}: {r.error}" for r in rec.failures()]
    measured = [s for s in counters.samples if s["pass"] != "pass0"]
    kinds = {}
    for name in dict.fromkeys(s["request"] for s in measured):
        mine = [s for s in measured if s["request"] == name]
        kinds[name] = {k: statistics.median(s[k] for s in mine)
                       for k in ("py4j", "compiles", "jobs", "wall_s")}
        kinds[name]["samples"] = len(mine)
        print(json.dumps({"request": name, **kinds[name]}))
    steady = [v for k, v in pass_compiles.items() if k != "pass0"]
    summary = {
        "python": sys.version.split()[0],
        "nproc": len(os.sched_getaffinity(0)),
        "workload": workload,
        "seed": seed,
        "passes": passes,
        "setup_compiles": setup_compiles,
        "warmup_compiles": pass_compiles["pass0"],
        "pass_compiles": steady,
        "median_pass_compiles": statistics.median(steady),
        "total_compiles": setup_compiles + sum(pass_compiles.values()),
        "failed": failed,
        "note": "pass0 is the warm-up pass; per-kind figures are medians "
                "over the measured passes",
    }
    return {"kinds": kinds, "samples": counters.samples,
            "pass_compiles": pass_compiles, "summary": summary}


if __name__ == "__main__":
    main()
