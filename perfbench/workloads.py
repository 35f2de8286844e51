"""The benchmark's two workloads. Each drives the package only through
its public calls, one client, closed loop: the next call starts when
the previous one returns.

A workload has ``stage`` (write its seeded inputs to disk; no program
work), ``warm`` (untimed program work before the first timed operation),
``rep`` (one timed repetition of its fixed operation sequence, returning
its operations) and ``REPS``, the repetitions a run makes at least. An
operation's latency excludes the benchmark's own checks, which run after
the call returns.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import digests
import gen
from spans import Tracer


def tree_cpu_s(root_pids: list[int]) -> float:
    """CPU seconds (user + system, reaped children included) of the given
    processes and all their live descendants."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while we looked
                continue
            stats[int(entry)] = (int(fields[1]), sum(map(int, fields[11:15])))
    tree, frontier = set(root_pids), list(root_pids)
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return sum(stats[p][1] for p in tree if p in stats) / os.sysconf("SC_CLK_TCK")


@dataclass
class Op:
    kind: str
    seconds: float = 0.0
    cpu_s: float = 0.0
    ok: bool = True
    errors: list[str] = field(default_factory=list)

    def fail(self, why: str) -> None:
        self.ok = False
        self.errors.append(why)


class Timed:
    """Time one operation under a root span. An exception inside it is
    printed and recorded as the operation's failure, not raised: one
    failed call must not end the run."""

    def __init__(self, tracer: Tracer, ops: list[Op], kind: str, after=None):
        self.tracer, self.op, self.after = tracer, Op(kind), after
        ops.append(self.op)

    def __enter__(self) -> Op:
        self._cpu0 = tree_cpu_s([os.getpid()])
        self._span = self.tracer.span(self.op.kind, op=self.tracer.new_op())
        self._span.__enter__()
        self._t0 = time.perf_counter()
        return self.op

    def __exit__(self, exc_type, exc, tb):
        self.op.seconds = time.perf_counter() - self._t0
        self._span.__exit__(None, None, None)
        self.op.cpu_s = tree_cpu_s([os.getpid()]) - self._cpu0
        if self.after is not None:
            self.after()
        if exc is None:
            return False
        if not isinstance(exc, Exception):
            return False  # interrupts and exits propagate
        traceback.print_exception(exc_type, exc, tb, file=sys.stderr)
        self.op.fail(f"{exc_type.__name__}: {exc}"[:300])
        return True


def data_files(root: str) -> dict[str, int]:
    """path -> size of the parquet files a reader scans under ``root``
    (directories starting with ``_`` or ``.`` are skipped)."""
    out = {}
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def parquet_rows(paths) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


class LakeBytes:
    """Bytes written under a lake root, found by diffing file listings
    after each operation; files created and deleted within one call are
    not seen."""

    def __init__(self, root: str):
        self.root, self.seen, self.written = root, {}, 0

    def _listing(self) -> dict[str, tuple[int, int]]:
        out = {}
        for dirpath, _dirs, files in os.walk(self.root):
            for f in files:
                st = os.stat(os.path.join(dirpath, f))
                out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
        return out

    def update(self) -> None:
        now = self._listing()
        self.written += sum(v[0] for p, v in now.items() if self.seen.get(p) != v)
        self.seen = now

    def stored(self) -> int:
        return sum(v[0] for v in self._listing().values())


def write_inbox(table: pa.Table, path: str) -> int:
    """Stage ``table`` as one zstd parquet file in directory ``path``
    (the codec the lake writes); returns its size."""
    os.makedirs(path, exist_ok=True)
    f = os.path.join(path, "part-0.parquet")
    pq.write_table(table, f, compression="zstd")
    return os.path.getsize(f)


# -- query_mix ---------------------------------------------------------------


class QueryMix:
    """The ``digests.QUERY_MIX`` rows of bench.py over one fixed
    generated dataset, in an order the seed fixes. An operation is one
    query, built and then collected (through Arrow, as ``toPandas``). The
    warm-up is one untimed pass in the same order; one repetition is one
    timed pass, and a run makes at least ``REPS``. Without the warm-up
    the first rows of each order pay for the session's cold start, which
    makes a pass depend on its order."""

    REPS = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.names = list(digests.QUERY_MIX)
        random.Random(ctx.seed).shuffle(self.names)
        self.expected = digests.load_expected()
        self.data = os.path.join(ctx.work, "data")

    def stage(self) -> None:
        gen.write_tables(gen.star_tables(gen.QUERY_MIX_DATA_SEED,
                                         digests.QUERY_MIX_SCALE), self.data)

    def warm(self) -> None:
        from pydala_spark.queries import QUERIES

        for name in self.names:
            QUERIES[name](self.ctx.spark, self.data).toPandas()

    def rep(self, tracer: Tracer) -> list[Op]:
        from pydala_spark.queries import QUERIES

        spark, ops = self.ctx.spark, []
        for name in self.names:
            with Timed(tracer, ops, name) as op:
                with tracer.span("queries.build"):
                    df = QUERIES[name](spark, self.data)
                with tracer.span("exec.collect"):
                    pdf = df.toPandas()
            if not op.ok:
                continue
            tracer.catalyst(df)
            want = self.expected[name]
            if len(pdf) != want["rows"] or digests.digest(pdf) != want["sha256"]:
                op.fail(f"{name}: result digest differs from the oracle's")
        return ops

    def amplification(self) -> tuple[float, float]:
        return 0.0, 0.0  # read-only: no lake


# -- lake --------------------------------------------------------------------

AGG_SQL = """
SELECT count(*) AS n_rows, count(DISTINCT event_id) AS n_ids,
       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS value_cents
FROM events
"""


class Lake:
    """A seeded two-night lake under one ``Datalake`` root, holding
    ``events`` (TimeFly-managed, partitioned by ``event_type``) and
    ``documents`` split into crawl dumps written through
    ``Writer(signatures=["minhash", "winnowing"])``, with planted
    cross-dump copies and planted copies of a held-out eval set.

    Night 0 (the untimed warm-up) creates every dataset, takes a first
    snapshot and runs both sweeps once. Night 1 is the timed repetition. It runs, as separate
    operations: a delta write of the day's events (with replayed rows),
    an upsert of late corrections to night-0 events, an append to one
    seeded dump, ``Datalake.load`` and a read-your-writes aggregate
    through ``Datalake.sql``, a ``Dataset`` count, ``neardup_dedup`` and
    ``decontaminate`` (incremental, default ``max_concurrency``), a
    copy-mode snapshot with a time-travel read of night 0's, and
    compaction of ``events``, the dataset the delta writes fill with
    small files. Night 1's sweeps reuse night 0's work for the dump that
    got no appends: ``decontaminate`` reports it fresh and skips it, and
    ``neardup_dedup`` re-pairs only the LSH buckets the appended
    documents touch. A further repetition replays both nights on a
    fresh lake root."""

    REPS = 1
    SIGNATURES = ["minhash", "winnowing"]

    def __init__(self, ctx):
        self.ctx = ctx
        self.ingest = gen.ingest_plan(ctx.seed)
        self.sweep = gen.sweep_plan(ctx.seed)
        self.inbox = os.path.join(ctx.work, "inbox")
        self.reps = 0
        self.offered = self.survivors = 0
        self.amps = (0.0, 0.0)
        self.ready = None

    def _in(self, name: str) -> str:
        return os.path.join(self.inbox, name)

    def stage(self) -> None:
        ing, sw = self.ingest, self.sweep
        self.offered = sum(write_inbox(ing[k], self._in(k))
                           for k in ("initial", "batch", "updates"))
        docs = sum(write_inbox(t, self._in(f"{d}_{n}"))
                   for n, batch in enumerate((sw["initial"], sw["appends"]))
                   for d, t in batch.items())
        self.offered += docs
        write_inbox(sw["eval_set"], self._in("eval"))
        # every document survives (append-only); events survive as their
        # final, de-duplicated and corrected state
        self.survivors = docs + write_inbox(ing["survivors"], self._in("survivors"))

    def _timed(self, tracer: Tracer, ops: list[Op], kind: str) -> Timed:
        """A timed call, followed by a listing of the lake root that
        counts the bytes it wrote."""
        return Timed(tracer, ops, kind, after=self.written.update)

    def _bootstrap(self):
        """Night 0 on a fresh lake root (untimed)."""
        from pydala_spark import Datalake, TimeFly, Writer

        spark = self.ctx.spark
        self.reps += 1
        self.root = os.path.join(self.ctx.work, f"lake{self.reps}")
        self.written = LakeBytes(self.root)
        self.events = os.path.join(self.root, "events")
        self.events_cur = os.path.join(self.events, "current")
        Writer(spark, self.events_cur, partition_by="event_type").write(
            self._in("initial"), mode="append")
        tf = TimeFly(spark, self.events)
        tf.new()
        tf.create_current()
        lake = Datalake(spark, self.root)
        lake.add_dataset("events", path=self.events)
        for d in self.sweep["dumps"]:
            Writer(spark, os.path.join(self.root, d),
                   signatures=self.SIGNATURES).write(self._in(f"{d}_0"),
                                                     mode="append")
            lake.add_dataset(d)
        self.stamp0 = tf.add_snapshot()
        bench = self._bench()
        self.night0 = {
            "neardup": lake.neardup_dedup(incremental=True),
            "decontaminate": lake.decontaminate(bench, incremental=True),
        }
        self.written.update()
        return lake, tf

    def warm(self) -> None:
        self.ready = self._bootstrap()

    def _bench(self) -> dict:
        return {"evalset": self.ctx.spark.read.parquet(self._in("eval"))}

    def _content(self, path: str) -> tuple:
        """(row count, order-free hash sum) of a dataset, read by plain
        Spark rather than the package."""
        from pyspark.sql import functions as F

        df = self.ctx.spark.read.parquet(path)
        cols = sorted(df.columns)
        return tuple(df.agg(F.count("*"), F.sum(
            F.xxhash64(*cols).cast("decimal(38,0)"))).first())

    def _sweep_entries(self, tracer: Tracer, op: Op, result: dict, layer: str) -> None:
        """Count a sweep result's per-dump entries. An ``error`` entry,
        in it or in the same sweep's untimed night-0 result, fails the
        operation."""
        for d in self.sweep["dumps"]:
            entry = result.get(d, {})
            for night, e in ((0, self.night0[layer].get(d, {})), (1, entry)):
                if "error" in e:
                    op.fail(f"{layer} night {night} {d}: {e['error']}"[:300])
                    tracer.add("sweeps.dataset_errors", 1)
            tracer.add("sweeps.datasets_swept", 1)
            tracer.add("sweeps.datasets_reused", "fresh" in entry)
            tracer.add("sweeps.sidecars_materialized",
                       entry.get("sidecar") == "materialized")

    def _check_recall(self, nd_op: Op, dc_op: Op, neardup: dict, decon: dict) -> None:
        """Recall of the planted duplicates and contamination must be 1."""
        spark = self.ctx.spark
        cluster, hits = {}, set()
        for d in self.sweep["dumps"]:
            if "report" in neardup.get(d, {}):
                cluster.update(((d, int(r["id"])), r["cluster"]) for r in
                               spark.read.parquet(neardup[d]["report"]).collect())
            else:
                nd_op.fail(f"neardup: no report for {d}")
            if "report" in decon.get(d, {}):
                hits.update((d, int(r["id"])) for r in
                            spark.read.parquet(decon[d]["report"]).collect())
            else:
                dc_op.fail(f"decontaminate: no report for {d}")
        missed = [c for c, src in self.sweep["planted_dups"].items()
                  if cluster.get(c) is None or cluster.get(c) != cluster.get(src)]
        if missed:
            nd_op.fail(f"neardup recall: {len(missed)} planted copies not "
                       f"clustered with their source, e.g. {missed[:3]}")
        missed = [c for c in self.sweep["planted_contam"] if c not in hits]
        if missed:
            dc_op.fail(f"decontaminate recall: {len(missed)} planted copies "
                       f"missed, e.g. {missed[:3]}")

    def rep(self, tracer: Tracer) -> list[Op]:
        from pydala_spark import Dataset, Writer, compact

        spark, ops = self.ctx.spark, []
        lake, tf = self.ready or self._bootstrap()
        self.ready = None
        bench = self._bench()
        want = self.ingest["expected"]
        before = data_files(self.events_cur)
        with self._timed(tracer, ops, "events.delta"):
            with tracer.span("writer.write"):
                Writer(spark, self.events_cur, partition_by="event_type").write(
                    self._in("batch"), mode="delta", delta_subset=["event_id"])
        if tracer.enabled:
            new = set(data_files(self.events_cur)) - set(before)
            tracer.add("writer.files_added", len(new))
            tracer.add("writer.mb_added",
                       sum(os.path.getsize(p) for p in new) / 2**20)
            tracer.add("writer.rows_landed", parquet_rows(new))
            tracer.add("writer.rows_offered", self.ingest["batch"].num_rows)
        with self._timed(tracer, ops, "events.upsert"):
            with tracer.span("writer.upsert"):
                Writer(spark, self.events_cur, partition_by="event_type").write(
                    self._in("updates"), mode="upsert", delta_subset=["event_id"])
        for d in self.sweep["appends"]:
            with self._timed(tracer, ops, "dump.append"):
                with tracer.span("writer.write"):
                    Writer(spark, os.path.join(self.root, d),
                           signatures=self.SIGNATURES).write(
                        self._in(f"{d}_1"), mode="append")
        with self._timed(tracer, ops, "lake.load"):
            with tracer.span("catalog.load"):
                lake.load()
        with self._timed(tracer, ops, "lake.sql") as op:
            with tracer.span("catalog.sql"):
                df = lake.sql(AGG_SQL)
            with tracer.span("exec.collect"):
                row = df.first()
        if op.ok:
            got = (row.n_rows, row.n_ids, row.value_cents)
            exp = (want["events"], want["events"], want["value_cents"])
            if got != exp:
                op.fail(f"aggregate {got} != expected {exp}")
        if tracer.enabled:
            tracer.add("reader.files_listed", len(data_files(self.events_cur)))
        with self._timed(tracer, ops, "dataset.load") as op:
            with tracer.span("reader.load"):
                df = Dataset(spark, self.events_cur).load()
            with tracer.span("exec.collect"):
                count = df.count()
        if op.ok and count != want["events"]:
            op.fail(f"{count} events, expected {want['events']}")
        neardup = decon = {}
        with self._timed(tracer, ops, "sweep.neardup") as nd_op:
            with tracer.span("sweeps.neardup"):
                neardup = lake.neardup_dedup(incremental=True)
        self._sweep_entries(tracer, nd_op, neardup, "neardup")
        with self._timed(tracer, ops, "sweep.decontaminate") as dc_op:
            with tracer.span("sweeps.decontaminate"):
                decon = lake.decontaminate(bench, incremental=True)
        self._sweep_entries(tracer, dc_op, decon, "decontaminate")
        with self._timed(tracer, ops, "timefly.snapshot"):
            with tracer.span("timefly.snapshot"):
                tf.add_snapshot()
        with self._timed(tracer, ops, "timefly.read") as op:
            with tracer.span("timefly.read"):
                df = tf.read(self.stamp0)
            with tracer.span("exec.collect"):
                count = df.count()
        at = self.ingest["initial"].num_rows
        if op.ok and count != at:
            op.fail(f"snapshot {self.stamp0}: {count} rows, expected {at}")
        self._check_recall(nd_op, dc_op, neardup, decon)
        pre = self._content(self.events_cur)
        before = data_files(self.events_cur)
        with self._timed(tracer, ops, "compact") as op:
            with tracer.span("maintain.compact"):
                compact(spark, self.events_cur)
        after = data_files(self.events_cur)
        if tracer.enabled:
            tracer.add("maintain.files_before", len(before))
            tracer.add("maintain.files_after", len(after))
            tracer.add("maintain.mb_rewritten", sum(
                sz for p, sz in after.items() if p not in before) / 2**20)
        post = self._content(self.events_cur)
        if post != pre:
            op.fail(f"compaction changed content: {pre} -> {post}")
        self.amps = (self.written.written / self.offered,
                     self.written.stored() / self.survivors)
        shutil.rmtree(self.root)
        return ops

    def amplification(self) -> tuple[float, float]:
        """(write_amp, space_amp) of the last repetition."""
        return self.amps


WORKLOADS = {"query_mix": QueryMix, "lake": Lake}
