"""Request timing, output checks, percentiles and host calibration.

One ``Recorder`` per run. A workload pass issues requests through
``Recorder.request``: only the call itself is timed; the output check runs
after the clock stops. Spans stay in memory until the run writes them out.
Once ``Recorder.deadline`` has passed, the next request raises
``Deadline`` before it starts, so a run can stop in the middle of a pass
without leaving a request half done. After each request, also outside the
clock, a short loop on each CPU in turn probes the host's current speed
(``probe_cpus``, kept in ``Recorder.probes``).
"""

from __future__ import annotations

import hashlib
import math
import os
import resource
import statistics
import time

MASK64 = (1 << 64) - 1
PROBE_S = 0.1  # length of the host-speed probe after each request


def row_digest(rows) -> tuple[int, int]:
    """(row count, order-insensitive hash) of an iterable of tuples.

    Each row hashes on its own and the hashes are summed mod 2**64, so the
    digest ignores row order but not row multiplicity."""
    n = 0
    acc = 0
    for r in rows:
        n += 1
        h = hashlib.blake2b(repr(r).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) & MASK64
    return n, acc


def table_rows(table, cols: list[str]):
    """Rows of the named columns of a pyarrow Table as tuples, with
    binary values as bytes so they compare equal to the generated inputs."""
    data = [table.column(c).to_pylist() for c in cols]
    return zip(*data)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) for the highest percentile that has at least
    ten samples beyond it; with fewer than 11 samples, the maximum."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


class Deadline(Exception):
    """Raised instead of starting a request after the run's deadline."""


class Request:
    __slots__ = ("rid", "parent", "cls", "name", "start", "end", "ok", "rows", "error")

    def __init__(self, rid, parent, cls, name):
        self.rid, self.parent, self.cls, self.name = rid, parent, cls, name
        self.start = self.end = 0.0
        self.ok = False
        self.rows = 0
        self.error = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Recorder:
    """Times requests and passes, counts failures, keeps spans in memory.

    ``cls`` is the latency family a request belongs to (``produce``,
    ``fetch``, ``coordinator``). ``on_request`` (set by the tracer) wraps each timed call. ``prefix``
    keeps pass ids of different recorders (warm-up, measured) apart."""

    def __init__(self, prefix: str = "pass"):
        self.requests: list[Request] = []
        self.passes: list[dict] = []
        self.samples: list[tuple[str, str, str, float]] = []  # (pass, cls, name, s)
        self.prefix = prefix
        self.pass_id: str | None = None
        self.on_request = None
        self.deadline: float | None = None  # time.perf_counter() value
        self.probes: list[float] = []  # probe_cpus() after each request

    def begin_pass(self, traced: bool = False) -> dict:
        p = {"id": f"{self.prefix}{len(self.passes)}", "start": time.time(),
             "traced": traced}
        self.passes.append(p)
        self.pass_id = p["id"]
        return p

    def end_pass(self, p: dict, records: int, nbytes: int) -> None:
        """Close a pass. Its ``wall_s`` is the time the program spent on
        it, the sum of its requests' latencies; the benchmark's own work
        between requests (references, output checks) is not counted."""
        p["end"] = time.time()
        p["wall_s"] = sum(r.seconds for r in self.requests if r.parent == p["id"])
        p["records"] = records
        p["bytes"] = nbytes

    def request(self, cls: str, name: str, fn, check=None, sample: bool = True,
                collect: bool = False):
        """Run ``fn()`` as one timed request, then ``check(result)``
        (untimed), which returns (rows, ok). With ``collect``, ``fn``
        returns a DataFrame and the request includes fetching it to the
        client as Arrow. Returns the result, or None if the request
        raised. ``sample=False`` keeps the request's time out of the
        latency families."""
        if self.deadline is not None and time.perf_counter() >= self.deadline:
            raise Deadline
        req = Request(f"r{len(self.requests)}", self.pass_id, cls, name)
        self.requests.append(req)
        try:
            req.start = time.time()
            if self.on_request:
                result = self.on_request(req, fn, collect)
            else:
                result = fn().toArrow() if collect else fn()
            req.end = time.time()
        except Exception as e:  # a failed request is counted, not fatal
            req.end = time.time()
            req.error = f"{type(e).__name__}: {str(e)[:300]}"
            return None
        if check is None:
            req.ok = True
        else:
            try:
                req.rows, req.ok = check(result)
            except Exception as e:
                req.error = f"check {type(e).__name__}: {str(e)[:300]}"
            if not req.ok and req.error is None:
                req.error = "output differs from the reference"
        if sample and req.ok:
            self.samples.append((self.pass_id, cls, name, req.seconds))
        self.probes.append(probe_cpus())
        return result

    def latencies(self, cls: str, passes: set[str]) -> list[float]:
        return [s for p, c, _n, s in self.samples if p in passes and c == cls]

    def kind_latency(self, cls: str, passes: set[str]) -> float:
        """Geometric mean over the request kinds of a family of each
        kind's median latency. Every kind weighs the same however often a
        pass sends it, and the value does not jump from one kind to
        another when the kinds' order by latency changes."""
        by_kind: dict[str, list[float]] = {}
        for p, c, n, s in self.samples:
            if p in passes and c == cls:
                by_kind.setdefault(n, []).append(s)
        if not by_kind:
            return 0.0
        return math.exp(statistics.fmean(
            math.log(statistics.median(v)) for v in by_kind.values()))

    def pass_time(self, plan: list[str], passes: set[str]) -> float:
        """The time of one pass whose requests (``plan``, by name, with
        repeats) each take their median latency among ``passes``;
        requests kept out of the latency families count too."""
        by_name: dict[str, list[float]] = {}
        for r in self.requests:
            if r.ok and r.parent in passes:
                by_name.setdefault(r.name, []).append(r.seconds)
        return sum(statistics.median(by_name[n]) for n in plan)

    def failures(self) -> list[Request]:
        return [r for r in self.requests if not r.ok]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def spread(values: list[float]) -> float:
    """Interquartile range over the median."""
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


# ------------------------------------------------------------------ #
# calibration and memory
# ------------------------------------------------------------------ #


def spin_rate(seconds: float = 0.2, clock=time.perf_counter) -> float:
    """Single-core pure-Python loop iterations per second of ``clock``;
    with ``time.thread_time``, per second the CPU actually ran the loop,
    so time the hypervisor stole from this vCPU does not count."""
    n = 0
    end = time.perf_counter() + seconds
    c0 = clock()
    while time.perf_counter() < end:
        for _ in range(1000):
            n += 1
    return n / (clock() - c0)


def probe_cpus(seconds: float = PROBE_S) -> float:
    """Mean ``spin_rate`` per CPU second over every CPU this process may
    use, the calling thread pinned to each in turn: the program's work
    runs on all of them, and each can be slowed by a different
    neighbour."""
    cpus = os.sched_getaffinity(0)
    rates = []
    try:
        for c in sorted(cpus):
            os.sched_setaffinity(0, {c})
            rates.append(spin_rate(seconds / len(cpus), time.thread_time))
    finally:
        os.sched_setaffinity(0, cpus)
    return statistics.fmean(rates)


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu jiffies (user .. steal)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return []


def steal_share(before: list[int], after: list[int]) -> float:
    """Stolen jiffies over all jiffies."""
    if not before or not after:
        return 0.0
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta)
    return delta[7] / total if total > 0 else 0.0


def delivered_share(before: list[int], after: list[int]) -> float:
    """Of the CPU time the guest wanted (busy plus stolen), the share the
    host delivered: busy / (busy + steal)."""
    if not before or not after:
        return 1.0
    d = [a - b for a, b in zip(after, before)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return busy / (busy + d[7]) if busy + d[7] > 0 else 1.0


def git_commit(root: str) -> str:
    """The checked-out commit, read from .git without running git; a
    checkout without .git reports 'unknown'."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(root, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def peak_rss_mb(jvm_pid: int | None) -> tuple[float, float]:
    """Peak resident memory of this Python driver and of the JVM, in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return py_kb / 1024.0, jvm_kb / 1024.0
