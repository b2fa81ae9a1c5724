"""Compare two sets of benchmark result files (parent vs change).

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--benchmark BENCHMARK.json]

Each directory holds the JSON files ``run.py`` writes to
``perfbench/out/results/`` (one per run). Runs are paired by (workload,
seed, trace). It prints each side's calibration (median spin rate, median
host-speed probe and steal), then for every (metric, workload) each side's
quartiles and the paired win count, then a verdict:

  regression  the change's median is worse than the parent's by more
              than the metric's bound in BENCHMARK.json
  gain        the change wins at least 9 of 10 pairs (ties count for
              neither side), the medians differ by more than the
              parent's interquartile range, and the change failed no more
              requests than the parent
  better      every change run beats every parent run, but the gain rule
              does not hold
  unresolved  the parent's own spread is wider than the bound and
              none of the above holds
  same        otherwise

A run whose outputs were not all correct is listed first; a side with
such runs cannot claim a gain.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

RAW_NOTES = ("setup_s", "wall_s", "records_per_s", "mb_per_s", "produce_p50_s", "fetch_p50_s")


def load(d: str) -> dict[tuple[str, int, int], dict]:
    """(workload, seed, trace) -> result file contents; the latest file
    wins."""
    out = {}
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        c = r.get("calibration", {})
        if "workload" in c:
            out[(c["workload"], c["seed"], c.get("trace", 0))] = r
    return out


def values(run: dict) -> dict[str, float]:
    """A run's metrics by name, plus the raw (not host-scaled) times from
    its notes as ``raw.<name>``: unbounded, shown so that a change that
    moves the host-speed probe instead of the program is visible."""
    out = {k: m["value"] for k, m in run["result"]["metrics"].items()}
    notes = run.get("notes", {})
    for k in RAW_NOTES:
        if isinstance(notes.get(k), (int, float)):
            out[f"raw.{k}"] = notes[k]
    return out


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        x = v[0] if v else 0.0
        return x, x, x
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], better: str, bound: float | None,
            wins: int, pairs: int, more_failed: bool) -> str:
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    sign = 1 if better == "lower" else -1
    worse_by = sign * (cm - pm) / abs(pm) if pm else 0.0
    if bound is not None and worse_by > bound:
        return "regression"
    if not more_failed:
        if pairs and wins >= 0.9 * pairs and abs(cm - pm) > (p3 - p1):
            return "gain"
        if max(sign * x for x in change) < min(sign * x for x in parent):
            return "better"
    if bound is not None and pm and (p3 - p1) / abs(pm) > bound:
        return "unresolved"
    return "same"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.benchmark) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    a, b = load(args.parent), load(args.change)
    keys = sorted(set(a) & set(b))
    if not keys:
        print("no (workload, seed) pairs in common", file=sys.stderr)
        return 2
    for label, side in (("parent", a), ("change", b)):
        cal = [side[k]["calibration"] for k in keys]
        print(f"{label}: {len(cal)} runs, median spin "
              f"{statistics.median(c['spin_per_s'] for c in cal) / 1e6:.1f} M/s, median probe "
              f"{statistics.median(c['probe_spin_per_s'] for c in cal) / 1e6:.1f} M/s, "
              "median steal "
              f"{statistics.median(c['steal_share'] for c in cal):.4f}, "
              f"commit {sorted({c['commit'] for c in cal})}")
    regressions = 0
    failed = {}
    for label, side in (("parent", a), ("change", b)):
        failed[label] = sum(side[k]["result"]["failed"] for k in keys)
        for k in keys:
            r = side[k]["result"]
            if not r["correct"]:
                print(f"{label}: INCORRECT run {k}: {r['failed']} of {r['attempted']} "
                      "requests failed")
    more_failed = failed["change"] > failed["parent"]
    if more_failed:
        print(f"change failed {failed['change']} requests, parent {failed['parent']}: "
              "no gain can be claimed")
    print(f"{'workload':<14}{'metric':<40}{'parent q1/med/q3':>30}"
          f"{'change q1/med/q3':>30}{'wins':>8}  verdict")
    for wl in sorted({k[0] for k in keys}):
        pk = [k for k in keys if k[0] == wl]
        pvals, cvals = ({k: values(side[k]) for k in pk} for side in (a, b))
        names = sorted(set.intersection(*[set(pvals[k]) & set(cvals[k]) for k in pk]))
        for name in names:
            m = spec.get(name, {"better": "higher" if "_per_" in name else "lower"})
            pv = [pvals[k][name] for k in pk]
            cv = [cvals[k][name] for k in pk]
            sign = 1 if m.get("better", "lower") == "lower" else -1
            wins = sum(1 for x, y in zip(pv, cv) if sign * (y - x) < 0)
            v = verdict(pv, cv, m.get("better", "lower"), m.get("bound"), wins, len(pk),
                        more_failed)
            regressions += v == "regression"
            pq, cq = quartiles(pv), quartiles(cv)
            print(f"{wl:<14}{name:<40}"
                  f"{'/'.join(f'{x:.4g}' for x in pq):>30}"
                  f"{'/'.join(f'{x:.4g}' for x in cq):>30}"
                  f"{f'{wins}/{len(pk)}':>8}  {v}")
    return 1 if regressions else 0


if __name__ == "__main__":
    sys.exit(main())
