"""In-memory spans around the benchmark's calls into the package, plus
the statistics the benchmark reports.

A span records name, start, end, parent span and operation id, and
counts the py4j round trips made inside it. Each Spark job is given,
with its stages' status-store counters (tasks, task run and CPU time,
GC, shuffle write, spill), to the innermost span open when it was
submitted. With tracing off, ``span`` is a no-op and nothing is patched,
so untraced runs pay nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError


#: samples a tail percentile must leave above it
TAIL_BEYOND = 10


def tail_percentile(values: list[float]) -> tuple[float, str, int]:
    """The highest percentile of ``values`` that still has
    ``TAIL_BEYOND`` samples above it: the (n - TAIL_BEYOND)-th smallest
    value, labelled ``p<floor(100 * (n - TAIL_BEYOND) / n)>``. Returns
    (value, label, n). With ``TAIL_BEYOND`` or fewer samples there is no
    such percentile and the maximum is returned, labelled ``p100``."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= TAIL_BEYOND:
        return xs[-1], "p100", n
    k = n - TAIL_BEYOND  # 1-based rank; exactly TAIL_BEYOND samples rank above it
    return xs[k - 1], f"p{(100 * k) // n}", n


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2


class Tracer:
    """Collects spans for one run. ``enabled=False`` makes every method
    a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op = 0
        self.py4j_calls = 0
        #: wall time spent in the tracer's own bookkeeping
        self.own_s = 0.0
        #: per-layer counts recorded outside spans (files, bytes, ratios)
        self.counts: dict[str, float] = defaultdict(float)
        if not enabled:
            return
        self._sc = spark.sparkContext
        self._status = self._sc.statusTracker()
        self._store = self._sc._jsc.sc().statusStore()
        # jobs before tracing started belong to no span
        self._next_job = 0
        while self._status.getJobInfo(self._next_job) is not None:
            self._next_job += 1
        client = self._sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send
        self._unpatch = lambda: setattr(client, "send_command", send)

    def close(self) -> None:
        if self.enabled:
            self._unpatch()

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value

    def catalyst(self, df) -> None:
        """Add the Catalyst phase times Spark recorded for ``df``."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                self.counts[f"catalyst.{phase}_s"] += (
                    phases.apply(phase).durationMs() / 1000.0)
        self.own_s += time.perf_counter() - t0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "counters": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        calls0 = self.py4j_calls
        rec["wall_start"] = time.time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            rec["counters"]["py4j_calls"] = self.py4j_calls - calls0
            self._stack.pop()
            if parent is None:
                t0 = time.perf_counter()
                self._attribute_jobs(rec["op"])
                self.own_s += time.perf_counter() - t0

    def _attribute_jobs(self, op: int) -> None:
        """Give each Spark job started since the last call, with its
        stages' status-store totals, to the innermost span of ``op``
        that was open when the job was submitted. Runs after the root
        span has closed, so its cost stays outside every span. Job ids
        are dense and increasing."""
        spans = [s for s in self.spans if s["op"] == op]
        while True:
            info = self._status.getJobInfo(self._next_job)
            if info is None:
                return
            job = self._store.job(self._next_job)
            self._next_job += 1
            submitted = job.submissionTime()
            if not submitted.isDefined():
                continue
            t = submitted.get().getTime() / 1000.0
            open_then = [s for s in spans
                         if s["wall_start"] - 0.002 <= t <= s["wall_end"] + 0.002]
            if not open_then:
                continue
            counters = max(open_then, key=lambda s: s["start"])["counters"]
            counters["jobs"] = counters.get("jobs", 0) + 1
            for sid in info.stageIds:
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stages never reach the store
                    continue
                for key, value in (
                    ("tasks", sd.numCompleteTasks()),
                    ("task_run_ms", sd.executorRunTime()),
                    ("task_cpu_ns", sd.executorCpuTime()),
                    ("gc_ms", sd.jvmGcTime()),
                    ("shuffle_write_bytes", sd.shuffleWriteBytes()),
                    ("spill_bytes", sd.diskBytesSpilled()),
                ):
                    counters[key] = counters.get(key, 0) + value

    # -- analysis ----------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def coverage(self) -> list[float]:
        """Per operation: share of the root span's wall time its child
        spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [child[s["id"]] / (s["end"] - s["start"])
                for s in self.spans
                if s["parent"] is None and s["end"] > s["start"]]

    def counter_sum(self, field: str, names: tuple[str, ...] | None = None) -> float:
        return sum(s["counters"].get(field, 0) for s in self.spans
                   if names is None or s["name"] in names)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
