"""Log-engine benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload log_serve --seed 1 --seconds 18 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` mixes untraced and traced passes and
prints the per-layer metrics plus the tracing overhead. See README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("log_serve", "wire_convert")
SETUP_ROUNDS = 3
# a traced run orders its passes untraced, traced, traced, untraced, so the
# tracing overhead is not confounded with warm-up
TRACE_PATTERN = (False, True, True, False)
# the single-core speed (harness.probe_cpus, loop iterations per CPU
# second) that a reference second stands for
REF_SPIN_PER_S = 20e6


def host_speed(probes: list[float], delivered: float) -> float:
    """The host's speed over a run relative to the reference: the median
    probe rate over ``REF_SPIN_PER_S`` (how fast a core runs while it
    runs), times the share of demanded CPU time the host delivered (how
    much of the time it runs)."""
    from harness import median

    return median(probes) / REF_SPIN_PER_S * delivered


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(workdir: str, trace: bool) -> None:
    """Keep every file the run writes inside the checkout and size the
    session to this host. Must run before pyspark is imported."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ["SPARK_GRAFT_UI"] = "true" if trace else "false"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # a fixed heap and young generation, so the JVM's peak memory does not
    # follow the collector's sizing decisions from run to run
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--driver-java-options '-Xms1g -XX:NewSize=128m -XX:MaxNewSize=128m' "
        "pyspark-shell")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def start_session():
    from starlight_for_kafka_spark import get_session

    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def make_workload(name: str, spark, seed: int, workdir: str):
    if name == "log_serve":
        from log_serve import LogServe

        return LogServe(spark, seed, workdir)
    from wire_convert import WireConvert

    return WireConvert(spark, seed, workdir)


def end_to_end(rec, passes, setup_s: float, rss: float, speed: float) -> tuple[dict, dict]:
    """The end-to-end metrics over the given passes, plus the raw times and
    tail percentiles printed beside them.

    A request kind's time is its median latency; ``wall`` is one pass with
    every request at that time; a family's time is the geometric mean of
    its kinds' medians (``Recorder.kind_latency``). The last pass may stop
    at the deadline part-way; its finished requests count as samples.

    Every timing, set-up included, is reported in reference seconds:
    measured seconds times ``speed``, the host's speed during the run
    relative to the reference (``host_speed``). The shared host's speed
    swings by 2x and more over minutes, and a run's raw times swing with
    it."""
    from harness import median, tail

    ids = {p["id"] for p in passes}
    whole = [p for p in passes if "wall_s" in p]
    plan = [r.name for r in rec.requests if r.parent == whole[0]["id"]]
    wall = rec.pass_time(plan, ids)
    records = whole[0]["records"]
    nbytes = median([p["bytes"] for p in whole])
    ref_wall = wall * speed
    values = {
        "setup_s": setup_s * speed,
        "wall_ref_s": ref_wall,
        "records_per_ref_s": records / ref_wall,
        "mb_per_ref_s": nbytes / 1e6 / ref_wall,
        "peak_rss_mb": rss,
    }
    notes = {"host_speed": speed, "setup_s": setup_s, "wall_s": wall,
             "records_per_s": records / wall, "mb_per_s": nbytes / 1e6 / wall}
    for cls in ("produce", "fetch"):
        p50 = rec.kind_latency(cls, ids)
        values[f"{cls}_p50_ref_s"] = p50 * speed
        notes[f"{cls}_p50_s"] = p50
        v, pct, n = tail(rec.latencies(cls, ids))
        notes[f"{cls}_tail"] = {"value": v, "percentile": round(pct, 1), "samples": n}
    return values, notes


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "starlight_for_kafka_spark")):
        print(f"perfbench: no starlight_for_kafka_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    out_dir = os.path.join(HERE, "out")
    workdir = os.path.join(out_dir, f"work-{os.getpid()}")
    prepare_env(workdir, bool(args.trace))
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.chdir(workdir)

    import selfcheck

    selfcheck.check()  # a corrupted reference must fail its request
    spark = start_session()
    try:
        return run(args, spark, workdir, out_dir)
    finally:
        stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)


def run(args, spark, workdir: str, out_dir: str) -> int:
    import harness

    session_s = time.perf_counter() - T0
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    wl = make_workload(args.workload, spark, args.seed, workdir)
    rounds = []
    for i in range(SETUP_ROUNDS):
        t = time.perf_counter()
        wl.setup(i)
        rounds.append(time.perf_counter() - t)
    warm = harness.Recorder("warm")
    warm.begin_pass()
    t = time.perf_counter()
    wl.run_pass(warm)
    warm_s = time.perf_counter() - t
    bad = warm.failures()
    if bad:
        print(f"perfbench: warm-up request {bad[0].name} failed: {bad[0].error}",
              file=sys.stderr)
        return 3
    setup_s = session_s + harness.median(rounds) + warm_s

    rec = harness.Recorder()
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark, rec)
    calib = {"nproc": len(os.sched_getaffinity(0)), "spin_per_s": harness.spin_rate(),
             "seed": args.seed, "commit": harness.git_commit(ROOT),
             "workload": args.workload, "trace": args.trace,
             "seconds": args.seconds}
    cpu0 = harness.cpu_times()
    t_start = time.perf_counter()
    deadline = t_start + args.seconds
    while True:
        traced = tracer is not None and TRACE_PATTERN[len(rec.passes) % 4]
        if tracer:
            tracer.arm(traced)
        p = rec.begin_pass(traced)
        try:
            records, nbytes = wl.run_pass(rec)
        except harness.Deadline:
            break
        rec.end_pass(p, records, nbytes)
        if tracer and traced:
            tracer.collect_pass(p)
        if tracer is None:
            # after one whole pass, an untraced run stops at the deadline,
            # even part-way through a pass
            rec.deadline = deadline
        done = time.perf_counter() >= deadline
        if done and (tracer is None or len(rec.passes) >= len(TRACE_PATTERN)):
            break
    cpu1 = harness.cpu_times()
    calib["steal_share"] = harness.steal_share(cpu0, cpu1)
    calib["delivered_share"] = harness.delivered_share(cpu0, cpu1)
    calib["passes"] = sum("wall_s" in p for p in rec.passes)
    calib["requests"] = len(rec.requests)
    calib["probe_spin_per_s"] = harness.median(rec.probes)
    calib["probe_spread"] = harness.spread(rec.probes)
    rss_py, rss_jvm = harness.peak_rss_mb(jvm_pid)
    calib["peak_rss_py_mb"], calib["peak_rss_jvm_mb"] = rss_py, rss_jvm

    failed = rec.failures()
    attempted = len(rec.requests)
    untraced = [p for p in rec.passes if not p["traced"]]
    values, notes = end_to_end(rec, untraced, setup_s, rss_py + rss_jvm,
                               host_speed(rec.probes, calib["delivered_share"]))
    notes["setup_rounds_s"] = rounds
    notes["session_s"] = session_s
    notes["warmup_s"] = warm_s
    notes["kind_latencies_s"] = {
        n: [r.seconds for r in rec.requests if r.name == n and r.ok]
        for n in dict.fromkeys(r.name for r in rec.requests)}
    notes["failed_ratio"] = len(failed) / attempted if attempted else 0.0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if tracer else "end_to_end"]
    if tracer:
        values = tracer.layer_metrics(wl, [p for p in rec.passes if p["traced"]], untraced)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}

    for r in failed[:5]:
        print(f"FAILED {r.name} ({r.rid}): {r.error}")
    for k, m in metrics.items():
        print(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} host speed = {notes['host_speed']:.4g} x reference; raw "
          f"setup = {notes['setup_s']:.6g} s, wall = {notes['wall_s']:.6g} s, "
          f"records_per_s = {notes['records_per_s']:.6g}, mb_per_s = {notes['mb_per_s']:.6g}")
    for c in ("produce", "fetch"):
        t = notes[f"{c}_tail"]
        print(f"{args.workload} {c} raw p50 = {notes[f'{c}_p50_s']:.6g} s, tail = "
              f"p{t['percentile']} of {t['samples']} samples = {t['value']:.6g} s")
    print(f"{args.workload} failed_ratio = {notes['failed_ratio']:.6g} "
          f"({len(failed)}/{attempted})")
    print("calibration " + json.dumps(calib))

    os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    res_path = os.path.join(
        out_dir, "results",
        f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json")
    result = {"correct": not failed, "attempted": attempted, "failed": len(failed),
              "metrics": metrics}
    with open(res_path, "w") as f:
        json.dump({"result": result, "calibration": calib, "notes": notes,
                   "passes": rec.passes}, f, indent=1)
    if tracer:
        tracer.write_spans(os.path.join(
            out_dir, f"trace-{args.workload}-s{args.seed}-{stamp}.json"))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
