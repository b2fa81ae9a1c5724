"""log_serve: a seeded produce/read request stream against a CommittedLog.

One pass = two produce requests (``CommittedLog.append`` of a small seeded
batch), each followed by half of a fixed mix of read requests, then one
group-coordinator request (a
batch of JOIN/LEAVE/HEARTBEAT requests folded by
``stream_ops.group_coordinator_stream``, availableNow over a checkpoint that
persists across passes, so each pass is one microbatch on carried state),
then
one ``CommittedLog.optimize`` (the background compaction, timed but kept
out of the latency families). The read mix is fixed per pass and shuffled
once from the seed; request parameters are drawn from the seed. Most reads
tail the log end; a minority catch up from the start. Every response is
checked against a pandas mirror of the log.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from harness import row_digest, table_rows

PRODUCES = 2           # produce requests per pass
BATCH = 150            # records per produce request
INITIAL = 10_000       # records in the log before the first request
N_PIDS = 16            # derive_txn_log default
TXN_SIZE = 10          # operators.transactions.TXN_SIZE
READS = [              # the read requests following the produce
    "fetch_tail", "fetch_tail", "fetch_tail", "fetch_bytes", "fetch_catchup",
    "fetch_multi", "latest_offsets", "offsets_for_times", "committed_offsets",
    "consumer_lag", "read_committed",
]
FETCH_BYTES = 4_096    # fetch max_bytes
MULTI_BYTES = 12_288   # fetch_multi response budget
COORD_EVENTS = 600     # membership requests per coordinator request
FETCH_COLS = ["partition", "offset", "key", "value"]


class LogServe:
    name = "log_serve"

    def __init__(self, spark, seed: int, workdir: str):
        from pyspark.sql import types as T

        from starlight_for_kafka_spark.sources.logtable import KAFKA_RECORD_SCHEMA

        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.produce_schema = T.StructType(
            [f for f in KAFKA_RECORD_SCHEMA.fields if f.name != "offset"]
        )

    # ------------------------------------------------------------------ #
    # set-up
    # ------------------------------------------------------------------ #

    def setup(self, round_idx: int) -> None:
        """Build a fresh log and its inputs from the seed."""
        from starlight_for_kafka_spark.sources import CommittedLog

        self.rng = np.random.default_rng(self.seed)
        # per-layer samples as (pass id, value), so a traced run can keep
        # only its traced passes
        self.layer = {"live_files": [], "snapshot_s": [], "optimize_s": [],
                      "user_bytes": 0}
        self.pass_id = None
        self.next_id = 0
        self.next_ts = gen.BASE_TS_US
        self.root = os.path.join(self.workdir, f"log{round_idx}")
        self.log = CommittedLog(self.root)
        self.mirror = pd.DataFrame()
        self.wm: dict[int, int] = {}
        self.view = None
        self.view_version = None
        self._append(self._batch(INITIAL))
        cm = gen.commits(self.rng, self.wm, n_groups=4, per_key=3,
                         first_ts_us=self.next_ts)
        self.commits_pdf = cm
        path = os.path.join(self.workdir, f"commits{round_idx}.parquet")
        cm[["group", "topic", "partition", "offset", "metadata", "commit_ts"]].to_parquet(
            path, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        self.commits = self.spark.read.parquet(path)
        self.read_plan = list(READS)
        self.rng.shuffle(self.read_plan)
        self.coord_src = os.path.join(self.workdir, f"coord_src{round_idx}")
        self.coord_ckpt = os.path.join(self.workdir, f"coord_ckpt{round_idx}")
        os.makedirs(self.coord_src)
        self.coord_state: dict[str, tuple[set, int]] = {}
        self.coord_batches = 0
        self.streams: list[tuple[str, list[dict]]] = []  # (pass id, progress)

    def _batch(self, n: int) -> pd.DataFrame:
        ev = gen.events(self.rng, n, self.next_id, self.next_ts)
        self.next_id += n
        self.next_ts = int(ev["ts_us"].iloc[-1]) + 2_000
        return gen.log_records(ev)

    def _append(self, recs: pd.DataFrame) -> int:
        df = self.spark.createDataFrame(
            recs[[f.name for f in self.produce_schema.fields]], self.produce_schema
        )
        version = self.log.append(df)
        self._mirror_append(recs)
        return version

    def _mirror_append(self, recs: pd.DataFrame) -> None:
        rows = gen.with_offsets(recs, self.wm)
        rows = rows[["partition", "offset", "key", "value", "ts_us"]]
        self.mirror = pd.concat([self.mirror, rows], ignore_index=True)
        for p, n in recs.groupby("partition").size().items():
            self.wm[int(p)] = self.wm.get(int(p), 0) + int(n)
        self.layer["user_bytes"] += int(
            sum(len(k) + len(v) for k, v in zip(recs["key"], recs["value"]))
        )

    def stored_bytes(self) -> int:
        """Bytes of data files under the log root, superseded ones
        included (nothing vacuums them during a run)."""
        total = 0
        for dirpath, _dirs, names in os.walk(os.path.join(self.root, "data")):
            total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
        return total

    # ------------------------------------------------------------------ #
    # one pass
    # ------------------------------------------------------------------ #

    def run_pass(self, rec) -> tuple[int, int]:
        """Returns (input records, key+value bytes produced and fetched)."""
        self.pass_id = rec.pass_id
        moved = [0]
        reads = self.read_plan
        half = -(-len(reads) // PRODUCES)  # ceiling
        for i in range(PRODUCES):
            self._produce(rec, moved)
            for kind in reads[i * half:(i + 1) * half]:
                self._read(rec, kind, moved)
        self._coordinate(rec)
        self._optimize(rec)
        return PRODUCES * BATCH, moved[0]

    def _produce(self, rec, moved=None) -> None:
        recs = self._batch(BATCH)
        df = self.spark.createDataFrame(
            recs[[f.name for f in self.produce_schema.fields]], self.produce_schema
        )

        def check(_version):
            self._mirror_append(recs)
            _, marks, _ = self.log.snapshot()
            return len(recs), {int(k): v for k, v in marks.items()} == self.wm

        # the client builds its request (createDataFrame) before the clock
        rec.request("produce", "produce", lambda: self.log.append(df), check)
        if moved is not None:
            moved[0] += int(sum(len(k) + len(v) for k, v in zip(recs["key"], recs["value"])))

    def _coordinate(self, rec) -> None:
        """Send one batch of membership requests to the group coordinator
        and read back the groups it updated."""
        from starlight_for_kafka_spark.streaming import stream_ops

        ev = gen.membership(gen.events(self.rng, COORD_EVENTS, self.next_id, self.next_ts))
        self.next_id += COORD_EVENTS
        self.next_ts = int(ev["ts"].iloc[-1].value // 1000) + 2_000
        i = self.coord_batches
        self.coord_batches += 1
        f = os.path.join(self.coord_src, f"part-{i:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), f,
                       coerce_timestamps="us")
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))  # arrival order
        expect = row_digest(_coordinator_fold(self.coord_state, ev))
        progress: list[dict] = []

        def fn():
            # foreachBatch, not the memory sink: the memory sink cannot
            # resume from a checkpoint in update mode
            out = []
            src = (self.spark.readStream.schema(
                "`group` string, member string, action string, ts timestamp, event_id long")
                .option("maxFilesPerTrigger", 1).parquet(self.coord_src))
            q = (stream_ops.group_coordinator_stream(src)
                 .writeStream.outputMode("update")
                 .foreachBatch(lambda df, _epoch: out.append(df.toArrow()))
                 .option("checkpointLocation", self.coord_ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            progress.extend(q.recentProgress)
            return pa.concat_tables(out)

        def check(table):
            got = row_digest(table_rows(table, ["group", "generation", "n_members",
                                                "state"]))
            return got[0], got == expect

        rec.request("coordinator", "group_coordinator", fn, check)
        self.streams.append((self.pass_id, progress))

    def _optimize(self, rec) -> None:
        import time

        marks_before = dict(self.wm)

        def check(_version):
            _, marks, files = self.log.snapshot()
            return len(files), (
                {int(k): v for k, v in marks.items()} == marks_before
                and len(files) == len(marks_before)
            )

        t = time.perf_counter()
        rec.request("produce", "optimize", lambda: self.log.optimize(self.spark), check,
                    sample=False)
        self.layer["optimize_s"].append((self.pass_id, time.perf_counter() - t))

    def _table(self):
        """The broker's log view: manifest replay on every request, a new
        DataFrame only when a commit landed since the last request."""
        import time

        from starlight_for_kafka_spark.sources import LogTable

        t = time.perf_counter()
        version, _, files = self.log.snapshot()
        self.layer["snapshot_s"].append((self.pass_id, time.perf_counter() - t))
        self.layer["live_files"].append((self.pass_id, len(files)))
        if version != self.view_version:
            self.view = LogTable(self.log.read(self.spark))
            self.view_version = version
        return self.view

    def _read(self, rec, kind: str, moved=None) -> None:
        from pyspark.sql import functions as F

        from starlight_for_kafka_spark.operators import groups, transactions

        rng = self.rng
        m = self.mirror
        parts = sorted(self.wm)
        p = int(rng.choice(parts))
        cols = FETCH_COLS
        # tail reads start 100-200 records before the log end, so each
        # returns exactly max_records; byte budgets are fixed
        if kind == "fetch_tail":
            start = max(0, self.wm[p] - 100 - int(rng.integers(0, 100)))
            ref = m[(m.partition == p) & (m.offset >= start) & (m.offset < start + 100)]
            fn = lambda: self._table().fetch(p, start, max_records=100)
        elif kind == "fetch_catchup":
            start = int(rng.integers(0, 200))
            ref = m[(m.partition == p) & (m.offset >= start) & (m.offset < start + 500)]
            fn = lambda: self._table().fetch(p, start, max_records=500)
        elif kind == "fetch_bytes":
            start = max(0, self.wm[p] - 300 - int(rng.integers(0, 100)))
            budget = FETCH_BYTES
            cand = m[(m.partition == p) & (m.offset >= start)].sort_values("offset")
            size = cand.key.map(len) + cand.value.map(len)
            keep = (size.cumsum() <= budget).to_numpy()
            if len(keep):
                keep[0] = True
            ref = cand[keep]
            fn = lambda: self._table().fetch(p, start, max_bytes=budget)
        elif kind == "fetch_multi":
            req = [int(x) for x in rng.choice(parts, 3, replace=False)]
            starts = [max(0, self.wm[q] - 100 - int(rng.integers(0, 100))) for q in req]
            budget = MULTI_BYTES
            ref = _fetch_multi_ref(m, list(zip(req, starts)), budget)
            reqs = list(zip(req, starts))
            fn = lambda: self._table().fetch_multi(reqs, budget)
        elif kind == "latest_offsets":
            ref = pd.DataFrame({"partition": list(self.wm), "offset": list(self.wm.values())})
            cols = ["partition", "offset"]
            fn = lambda: self._table().latest_offsets()
        elif kind == "offsets_for_times":
            lo, hi = int(m.ts_us.min()), int(m.ts_us.max())
            ts = int(rng.integers(lo, hi))
            ref = m[m.ts_us >= ts].groupby("partition", as_index=False).offset.min()
            cols = ["partition", "offset"]
            fn = lambda: self._table().offsets_for_times(F.timestamp_micros(F.lit(ts)))
        elif kind == "committed_offsets":
            ref = _committed_ref(self.commits_pdf)
            cols = ["group", "topic", "partition", "offset"]
            fn = lambda: groups.committed_offsets(self.commits)
        elif kind == "consumer_lag":
            c = _committed_ref(self.commits_pdf)
            c["log_end_offset"] = c.partition.map(self.wm)
            c["lag"] = c.log_end_offset - c.offset - 1
            ref = c
            cols = ["group", "partition", "offset", "log_end_offset", "lag"]
            fn = lambda: groups.consumer_lag(self.commits, self._table().latest_offsets())
        elif kind == "read_committed":
            lo = max(0, self.wm[p] - 300)
            ref = _read_committed_ref(m)
            ref = ref[(ref.partition == p) & (ref.offset >= lo)]
            fn = lambda: transactions.read_committed(
                transactions.derive_txn_log(self._table().df)
            ).filter((F.col("partition") == p) & (F.col("offset") >= lo))
        else:
            raise ValueError(kind)
        expect = row_digest(_pyrows(ref, cols))

        def check(table):
            got = row_digest(table_rows(table, cols))
            return got[0], got == expect

        table = rec.request("fetch", kind, fn, check, collect=True)
        if moved is not None and table is not None and cols is FETCH_COLS:
            moved[0] += int(sum(len(k) + len(v) for k, v in zip(ref.key, ref.value)))


def _pyrows(df: pd.DataFrame, cols: list[str]):
    data = [
        [x if isinstance(x, (bytes, str)) else int(x) for x in df[c].tolist()]
        for c in cols
    ]
    return zip(*data)


def _fetch_multi_ref(m: pd.DataFrame, reqs, budget: int) -> pd.DataFrame:
    """Greedy response fill in (request index, offset) order; every
    earlier partition's candidate bytes count, the first record of the
    first partition with candidates always returns."""
    out = []
    prior = 0
    first_done = False
    for p, start in reqs:
        cand = m[(m.partition == p) & (m.offset >= start)].sort_values("offset")
        size = (cand.key.map(len) + cand.value.map(len)).to_numpy()
        cum = prior + np.cumsum(size)
        keep = cum <= budget
        if len(cand) and not first_done:
            keep[0] = True
            first_done = True
        out.append(cand[keep])
        prior += int(size.sum())
    return pd.concat(out) if out else m.iloc[:0]


def _committed_ref(c: pd.DataFrame) -> pd.DataFrame:
    latest = c.sort_values(["ts_us", "offset"]).groupby(
        ["group", "topic", "partition"], as_index=False
    ).last()
    return latest[["group", "topic", "partition", "offset"]].copy()


def _read_committed_ref(m: pd.DataFrame) -> pd.DataFrame:
    t = m.copy()
    t["pid"] = t.key.map(lambda k: int(k.decode())) % N_PIDS
    t = t.sort_values(["pid", "partition", "offset"])
    t["seq"] = t.groupby("pid").cumcount()
    t["txn"] = t.seq // TXN_SIZE
    s = (t.pid + t.txn)
    t["status"] = np.where(s % 7 == 0, "abort", np.where(s % 11 == 3, "open", "commit"))
    spans = t.groupby(["partition", "pid", "txn"]).agg(
        first=("offset", "min"), last=("offset", "max"), status=("status", "max")
    ).reset_index()
    lso = {}
    for part, g in spans.groupby("partition"):
        opn = g[g.status == "open"]["first"]
        lso[part] = int(opn.min()) if len(opn) else int(g["last"].max()) + 1
    aborted = spans[spans.status == "abort"]
    t = t.merge(aborted[["partition", "pid", "first", "last"]],
                on=["partition", "pid"], how="left")
    in_abort = (t.offset >= t["first"]) & (t.offset <= t["last"])
    hit = t[in_abort.fillna(False)][["partition", "offset"]].drop_duplicates()
    t = t.drop(columns=["first", "last"]).drop_duplicates(["partition", "offset"])
    t = t[t.offset < t.partition.map(lso)]
    key = set(zip(hit.partition, hit.offset))
    keep = [(a, b) not in key for a, b in zip(t.partition, t.offset)]
    return t[keep]


def _coordinator_fold(state: dict, ev: pd.DataFrame) -> list[tuple]:
    """The coordinator's state machine over one batch, in (ts, event_id)
    order: join adds the member, leave removes it, each is a rebalance
    (generation + 1); heartbeats change nothing. Updates ``state`` and
    returns the rows the coordinator emits for the groups in the batch."""
    for g, m, a in ev.sort_values(["ts", "event_id"])[["group", "member", "action"]].itertuples(
            index=False):
        members, generation = state.get(g, (set(), 0))
        if a == "join":
            members = members | {m}
            generation += 1
        elif a == "leave":
            members = members - {m}
            generation += 1
        state[g] = (members, generation)
    return [(g, state[g][1], len(state[g][0]), "Stable" if state[g][0] else "Empty")
            for g in sorted(set(ev["group"]))]
