"""The traced run: spans around requests, layer counters from Spark's
status REST API, and the per-layer metrics built from them.

Spans are recorded by the benchmark around its calls into the library:
one span per request (parent: its pass), one per Spark job (parent: the
request whose job group or time window holds it). They stay in memory and
are written out when the run ends. Stage, SQL-node and job counters come
from the REST API of this session's UI (``SPARK_GRAFT_UI``).
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from datetime import datetime, timezone

from harness import median

PYTHON_SENT = "data sent to Python workers"
PYTHON_RETURNED = "data returned from Python workers"
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _ts(s: str | None) -> float | None:
    """REST timestamps ('2026-10-16T18:05:49.012GMT') as epoch seconds."""
    if not s:
        return None
    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def _metric_value(text: str) -> float:
    """A SQL metric string as a number: '21,000' -> 21000, '387.1 KiB' ->
    bytes, 'total (min, med, max ...)\\n205 ms (...)' -> 205."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2), 1)


def _union(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self, spark, rec):
        sc = spark.sparkContext
        self.spark = spark
        self.sc = sc
        self.rec = rec
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.active = False
        self.plan_s: dict[str, float] = {}
        self.spans: list[dict] = []
        self.pass_stats: list[dict] = []
        rec.on_request = self._call

    def _rest(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def arm(self, traced: bool) -> None:
        self.active = traced

    def _call(self, req, fn, collect):
        """Run one request; when traced, under its own job group and with
        planning forced (and timed) before the action."""
        if not self.active:
            return fn().toArrow() if collect else fn()
        self.sc.setJobGroup(req.rid, req.name)
        try:
            out = fn()
            if collect:
                t = time.time()
                out._jdf.queryExecution().executedPlan()
                self.plan_s[req.rid] = time.time() - t
                out = out.toArrow()
            return out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    # ------------------------------------------------------------------ #
    # per traced pass: pull jobs, stages and SQL executions
    # ------------------------------------------------------------------ #

    def _settled_jobs(self) -> list[dict]:
        """All jobs, once the listener has caught up (no job running and
        the job count stable)."""
        prev = -1
        for _ in range(50):
            jobs = self._rest("jobs")
            if len(jobs) == prev and not any(j["status"] == "RUNNING" for j in jobs):
                return jobs
            prev = len(jobs)
            time.sleep(0.2)
        return jobs

    def collect_pass(self, p: dict) -> None:
        reqs = [r for r in self.rec.requests if r.parent == p["id"]]
        jobs = [j for j in self._settled_jobs()
                if (_ts(j.get("submissionTime")) or 0) >= p["start"] - 0.05
                and (_ts(j.get("submissionTime")) or 0) <= p["end"] + 0.05]
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        stages = [s for s in self._rest("stages?status=complete")
                  if s["stageId"] in stage_ids]
        sql = [e for e in self._rest("sql?details=true&planDescription=false"
                                     "&offset=0&length=100000")
               if p["start"] - 0.05 <= (_ts(e.get("submissionTime")) or 0) <= p["end"] + 0.05]

        self.spans.append({"id": p["id"], "parent": None, "name": "pass",
                           "start": p["start"], "end": p["end"]})
        job_span: dict[int, tuple[float, float]] = {}
        for j in jobs:
            a = _ts(j.get("submissionTime"))
            b = _ts(j.get("completionTime")) or a
            job_span[j["jobId"]] = (a, b)
        self_s = 0.0
        req_of_job: dict[int, str] = {}
        for r in reqs:
            self.spans.append({"id": r.rid, "parent": r.parent, "name": r.name,
                               "start": r.start, "end": r.end, "ok": r.ok})
            mine = [j for j in jobs if j.get("jobGroup") == r.rid
                    or r.start <= job_span[j["jobId"]][0] <= r.end]
            clipped = []
            for j in mine:
                a, b = job_span[j["jobId"]]
                req_of_job[j["jobId"]] = r.rid
                clipped.append((max(a, r.start), min(b, r.end)))
                self.spans.append({"id": f"job{j['jobId']}", "parent": r.rid,
                                   "name": j.get("name", ""), "start": a, "end": b})
            self_s += r.seconds - _union(clipped)

        # SQL nodes: parquet scans (per fetch request) and Python hops
        fetch_ids = {r.rid for r in reqs if r.cls == "fetch"}
        rows_scanned = files_read = sent = returned = 0.0
        python_jobs: set[int] = set()
        for e in sql:
            ids = set(e.get("successJobIds", [])) | set(e.get("failedJobIds", []))
            in_fetch = any(req_of_job.get(j) in fetch_ids for j in ids)
            has_python = False
            for n in e.get("nodes", []):
                for m in n.get("metrics", []):
                    name = m["name"]
                    if n["nodeName"].startswith("Scan parquet") and in_fetch:
                        if name == "number of output rows":
                            rows_scanned += _metric_value(m["value"])
                        elif name == "number of files read":
                            files_read += _metric_value(m["value"])
                    if name == PYTHON_SENT:
                        sent += _metric_value(m["value"])
                        has_python = True
                    elif name == PYTHON_RETURNED:
                        returned += _metric_value(m["value"])
            if has_python:
                python_jobs |= ids
        python_stages = {s for j in jobs if j["jobId"] in python_jobs
                         for s in j.get("stageIds", [])}

        def tot(key):
            return sum(float(s.get(key, 0)) for s in stages)

        self.pass_stats.append({
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(int(s.get("numTasks", 0)) for s in stages),
            "executor_run_s": tot("executorRunTime") / 1e3,
            "executor_cpu_s": tot("executorCpuTime") / 1e9,
            "gc_s": tot("jvmGcTime") / 1e3,
            "shuffle_write_mb": tot("shuffleWriteBytes") / 1e6,
            "shuffle_read_mb": tot("shuffleReadBytes") / 1e6,
            "spill_mb": (tot("memoryBytesSpilled") + tot("diskBytesSpilled")) / 1e6,
            "task_skew": self._skew(stages),
            "python_stage_run_s": sum(float(s.get("executorRunTime", 0)) for s in stages
                                      if s["stageId"] in python_stages) / 1e3,
            "sent_mb": sent / 1e6,
            "returned_mb": returned / 1e6,
            "self_s": self_s,
            "plan_s": sum(self.plan_s.get(r.rid, 0.0) for r in reqs),
            "requests": len(reqs),
            "rows_scanned": rows_scanned,
            "files_read": files_read,
            "fetches": len(fetch_ids),
            "rows_returned": sum(r.rows for r in reqs if r.cls == "fetch"),
            "rows_out": sum(r.rows for r in reqs),
        })

    def _skew(self, stages: list[dict], top: int = 5) -> float:
        """Max over the busiest stages of (max task time / median task
        time)."""
        worst = 1.0
        busy = sorted((s for s in stages if s.get("numTasks", 0) > 1),
                      key=lambda s: -s.get("executorRunTime", 0))[:top]
        for s in busy:
            try:
                q = self._rest(f"stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                               "?quantiles=0.5,1.0")
            except OSError:
                continue
            med, mx = q.get("executorRunTime", [0, 0])[:2]
            if med > 0:
                worst = max(worst, mx / med)
        return worst

    # ------------------------------------------------------------------ #
    # per-layer metrics
    # ------------------------------------------------------------------ #

    def layer_metrics(self, wl, traced: list[dict], untraced: list[dict]) -> dict:
        """name -> value for every per-layer metric; a layer the workload
        does not exercise reads 0."""
        n = max(1, len(self.pass_stats))

        def avg(key):
            return sum(s[key] for s in self.pass_stats) / n

        first = self.pass_stats[0] if self.pass_stats else {}
        ids = {p["id"] for p in traced}
        layer = getattr(wl, "layer", {})

        def traced_only(key):
            return [v for pid, v in layer.get(key, []) if pid in ids]

        out: dict[str, float] = {}
        kernels = wl.kernel_rates() if hasattr(wl, "kernel_rates") else {}
        for k in ("encode_v2_mb_s", "decode_v2_mb_s", "transcode_mb_s", "down_convert_mb_s",
                  "decode_v01_mb_s", "crc32c_mb_s", "offsets_codec_rec_s"):
            out[f"functions.{k}"] = kernels.get(k, 0.0)
        out["arrow.sent_mb"] = avg("sent_mb")
        out["arrow.returned_mb"] = avg("returned_mb")
        out["arrow.python_stage_run_s"] = avg("python_stage_run_s")
        out["driver.self_s"] = avg("self_s")
        out["driver.plan_s"] = avg("plan_s")
        out["driver.jobs_per_op"] = (
            sum(s["jobs"] for s in self.pass_stats)
            / max(1, sum(s["requests"] for s in self.pass_stats)))
        rows_ret = sum(s["rows_returned"] for s in self.pass_stats)
        fetches = sum(s["fetches"] for s in self.pass_stats)
        out["sources.rows_scanned_per_row_returned"] = (
            sum(s["rows_scanned"] for s in self.pass_stats) / rows_ret
            if rows_ret and layer.get("live_files") else 0.0)
        out["sources.files_read_per_fetch"] = (
            sum(s["files_read"] for s in self.pass_stats) / fetches
            if fetches and layer.get("live_files") else 0.0)
        out["sources.live_files"] = median(traced_only("live_files"))
        stored = wl.stored_bytes() if hasattr(wl, "stored_bytes") else 0
        user = layer.get("user_bytes", 0)
        out["sources.bytes_written_per_user_byte"] = stored / user if user else 0.0
        out["sources.snapshot_s"] = median(traced_only("snapshot_s"))
        out["sources.optimize_s"] = median(traced_only("optimize_s"))
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "task_skew"):
            out[f"spark.{k}"] = avg(k)
        progress = [b for pid, run in getattr(wl, "streams", []) if pid in ids
                    for b in run if b.get("numInputRows", 0) > 0]

        def dur(key):
            return median([b["durationMs"].get(key, 0) for b in progress])

        def state(key):
            return median([sum(o.get(key, 0) for o in b.get("stateOperators", []))
                           for b in progress])

        out["streaming.add_batch_ms"] = dur("addBatch")
        out["streaming.query_planning_ms"] = dur("queryPlanning")
        out["streaming.wal_commit_ms"] = dur("walCommit")
        out["streaming.state_rows"] = state("numRowsTotal")
        out["streaming.state_mem_mb"] = state("memoryUsedBytes") / 1e6
        out["streaming.state_commit_ms"] = state("commitTimeMs")
        out["operators.rows_out"] = first.get("rows_out", 0)
        t_wall = median([p["wall_s"] for p in traced])
        u_wall = median([p["wall_s"] for p in untraced])
        out["trace.wall_s"] = t_wall
        out["trace.overhead_s"] = t_wall - u_wall
        return out

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "passes": self.pass_stats}, f)
