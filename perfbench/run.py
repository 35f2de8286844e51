#!/usr/bin/env python3
"""pydala_spark benchmark: one workload, one seed, one JSON result line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``query_mix`` and ``lake``. One
client drives the package through its public calls on
``local[<cpus>]``, closed loop. After set-up (session start, input
staging, the workload's untimed warm-up) the workload's fixed operation
sequence repeats until ``--seconds`` have passed, at least ``REPS``
times (query_mix 2, lake 1); ``run_s`` and ``run_cpu_s`` are medians
over repetitions. Each workload's minimum takes longer than ten seconds
on a 4-core host, so a ten-second run makes exactly that many.

``--trace 0`` reports the end-to-end metrics (``END_TO_END``).
``--trace 1`` runs the same sequence with spans recorded around every
public call and reports the per-layer metrics (``PER_LAYER``), each for
one repetition. Its ``trace.run_s`` minus an untraced run's ``run_s`` on
the same seed is the tracing overhead; ``trace.overhead_s``
is the time the tracer spent in its own bookkeeping. The spans of a
traced run are written to ``.perfbench/spans-<workload>-s<seed>.json``.
Every run also writes a detail record (host fingerprint, loadavg at
start and end, the host's CPU steal share during the timed part, set-up
parts, every repetition's ``run_s``, peak resident memory of
this process and the JVM, every operation's latency, their median and
tail with the tail percentile's name and sample count, failures) to
``.perfbench/detail-<workload>-s<seed>.json`` and prints it on the line
before the result.

Everything the run writes stays under ``.perfbench/`` in the checkout.
Without the package next to this directory the run exits with code 2.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("query_mix", "lake")

#: end-to-end metrics of an untraced run: name -> unit. ``run_s`` is
#: the wall time of the timed operations and ``run_cpu_s`` their CPU time
#: (this process, the JVM and its Python workers), each a median over
#: repetitions. ``run_s`` sees a change that waits (less parallelism,
#: round trips, I/O); ``run_cpu_s`` is steadier on a shared host, where
#: slow spells stretch wall time more than CPU time (one lake run: +48%
#: wall, +17% CPU); a run's ``steal_share`` and loadavg in the detail
#: record flag such spells. The per-operation latencies go to the detail
#: record: with 11 to 16 operations of 8 to 11 kinds a run, latency
#: percentiles are order statistics that jump between operation kinds.
#: Peak memory is a per-layer metric: the JVM's resident peak moves by a
#: fifth between runs of the same work with the timing of garbage
#: collection.
END_TO_END = {"setup_s": "s", "run_s": "s", "run_cpu_s": "s"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_dirs(work: str) -> None:
    """Point every temporary directory of Python, Spark and the JVM into
    ``work``; must run before pyspark is imported."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM that spark-submit starts to build the session JVM's command
    # line; without this its perf-data file lands in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")


def missing_program() -> str | None:
    """What a run needs from the repository beyond this directory."""
    for path in ("pydala_spark/__init__.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, path)):
            return f"{path} not found under {ROOT}"
    return None


def start_session(work: str, cpus: int):
    from pydala_spark import get_session

    tmp = os.path.join(work, "tmp")
    spark = get_session(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # C1 only: a run is one cold, minute-long JVM, in which C2
            # compiles cost about half the CPU time and a quarter of the
            # wall time without paying back (69.8 s vs 53.4 s wall for one
            # lake run on a 4-core host). C1 alone gets a 48 MiB code
            # cache, which a pass of the 26 bench.py rows fills, after
            # which the JVM stops compiling. No perf-data file: it would
            # land in /tmp whatever java.io.tmpdir says.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
                "-XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Ctx:
    """What a workload gets: the session, its scratch directory, the seed."""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed


#: per-layer metrics of a traced run: name -> unit
PER_LAYER = {
    "session.start_s": "s", "mem.peak_rss_mb": "MiB",
    "queries.build_s": "s", "queries.py4j_calls": "count",
    "queries.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.collect_s": "s", "exec.jobs": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MiB", "exec.spill_mb": "MiB",
    "exec.core_util": "ratio",
    "writer.write_s": "s", "writer.upsert_s": "s",
    "writer.files_added": "count", "writer.mb_added": "MiB",
    "writer.rows_landed_ratio": "ratio",
    "reader.load_s": "s", "reader.files_listed": "count",
    "catalog.load_s": "s", "catalog.sql_s": "s",
    "timefly.snapshot_s": "s", "timefly.read_s": "s",
    "maintain.compact_s": "s", "maintain.files_before": "count",
    "maintain.files_after": "count", "maintain.mb_rewritten": "MiB",
    "sweeps.neardup_s": "s", "sweeps.decontaminate_s": "s",
    "sweeps.reuse_ratio": "ratio", "sweeps.sidecars_materialized": "count",
    "sweeps.dataset_errors": "count",
    "lake.write_amp": "ratio", "lake.space_amp": "ratio",
    "run.error_rate": "ratio",
    "trace.run_s": "s", "trace.overhead_s": "s", "trace.coverage_min": "ratio",
}


def layer_metrics(tracer, wl, cpus: int, reps_run_s: list[float],
                  session_s: float, peak_rss_mb: float, ops) -> dict[str, float]:
    """The PER_LAYER values of a traced run. Times are self times. Times
    and counts are summed over the run's repetitions and divided by their
    number, so that each covers one repetition, as ``trace.run_s`` (the
    mean wall time of a repetition) does; a layer the workload never
    calls reads 0."""
    reps = len(reps_run_s)
    run_s = sum(reps_run_s) / reps
    st = tracer.self_times()
    c = tracer.counts

    def self_s(name: str) -> float:
        return st.get(name, 0.0) / reps

    def count(name: str) -> float:
        return c[name] / reps

    def spans_sum(field: str, *names: str) -> float:
        return tracer.counter_sum(field, names or None) / reps

    def ratio(num: str, den: str) -> float:
        return c[num] / c[den] if c[den] else 0.0

    task_run_s = spans_sum("task_run_ms") / 1000
    write_amp, space_amp = wl.amplification()
    return {
        "session.start_s": session_s,
        "mem.peak_rss_mb": peak_rss_mb,
        "queries.build_s": self_s("queries.build"),
        "queries.py4j_calls": spans_sum("py4j_calls", "queries.build"),
        "queries.build_jobs": spans_sum("jobs", "queries.build"),
        "catalyst.analysis_s": count("catalyst.analysis_s"),
        "catalyst.optimization_s": count("catalyst.optimization_s"),
        "catalyst.planning_s": count("catalyst.planning_s"),
        "exec.collect_s": self_s("exec.collect"),
        "exec.jobs": spans_sum("jobs"),
        "exec.tasks": spans_sum("tasks"),
        "exec.task_run_s": task_run_s,
        "exec.task_cpu_s": spans_sum("task_cpu_ns") / 1e9,
        "exec.gc_s": spans_sum("gc_ms") / 1000,
        "exec.shuffle_write_mb": spans_sum("shuffle_write_bytes") / 2**20,
        "exec.spill_mb": spans_sum("spill_bytes") / 2**20,
        "exec.core_util": task_run_s / (run_s * cpus),
        "writer.write_s": self_s("writer.write"),
        "writer.upsert_s": self_s("writer.upsert"),
        "writer.files_added": count("writer.files_added"),
        "writer.mb_added": count("writer.mb_added"),
        "writer.rows_landed_ratio": ratio("writer.rows_landed", "writer.rows_offered"),
        "reader.load_s": self_s("reader.load"),
        "reader.files_listed": count("reader.files_listed"),
        "catalog.load_s": self_s("catalog.load"),
        "catalog.sql_s": self_s("catalog.sql"),
        "timefly.snapshot_s": self_s("timefly.snapshot"),
        "timefly.read_s": self_s("timefly.read"),
        "maintain.compact_s": self_s("maintain.compact"),
        "maintain.files_before": count("maintain.files_before"),
        "maintain.files_after": count("maintain.files_after"),
        "maintain.mb_rewritten": count("maintain.mb_rewritten"),
        "sweeps.neardup_s": self_s("sweeps.neardup"),
        "sweeps.decontaminate_s": self_s("sweeps.decontaminate"),
        "sweeps.reuse_ratio": ratio("sweeps.datasets_reused", "sweeps.datasets_swept"),
        "sweeps.sidecars_materialized": count("sweeps.sidecars_materialized"),
        "sweeps.dataset_errors": count("sweeps.dataset_errors"),
        "lake.write_amp": write_amp,
        "lake.space_amp": space_amp,
        "run.error_rate": sum(not o.ok for o in ops) / len(ops),
        "trace.run_s": run_s,
        "trace.overhead_s": tracer.own_s / reps,
        "trace.coverage_min": min(tracer.coverage()),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = missing_program()
    if missing:
        print(f"perfbench: {missing}; run from the root of a pydala_spark "
              "checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    prepare_dirs(work)
    sys.path.insert(0, ROOT)
    try:
        return measure(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, base: str, work: str) -> int:
    """Set up, run and check one workload; print the detail record and
    the result line."""
    import pyspark

    import spans
    import workloads

    cpus = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    t = time.time()
    spark = start_session(work, cpus)
    session_s = time.time() - t
    try:
        wl = workloads.WORKLOADS[args.workload](Ctx(spark, work, args.seed))
        t = time.time()
        wl.stage()
        stage_s = time.time() - t
        t = time.time()
        wl.warm()
        warm_s = time.time() - t
        setup_s = time.time() - PROCESS_T0

        tracer = spans.Tracer(spark, enabled=bool(args.trace))
        reps: list[tuple[float, list]] = []  # (sum of op latencies, ops)
        deadline = time.time() + args.seconds
        steal0 = steal_ticks()
        try:
            while len(reps) < wl.REPS or time.time() < deadline:
                ops = wl.rep(tracer)
                reps.append((sum(o.seconds for o in ops), ops))
        finally:
            tracer.close()
        steal1 = steal_ticks()

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = (vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm_pid)) / 1024
        host = {
            "nproc": cpus,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
        }
    finally:
        stop_session(spark)

    all_ops = [o for _, ops in reps for o in ops]
    lat = [o.seconds for o in all_ops]
    tail, tail_label, n_lat = spans.tail_percentile(lat)
    run_s = spans.median([r for r, _ in reps])
    run_cpu_s = spans.median([sum(o.cpu_s for o in ops) for _, ops in reps])
    failures = [f"{o.kind}: {e}" for o in all_ops for e in o.errors]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host, "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "setup_parts_s": {"session": session_s, "stage": stage_s, "warm": warm_s},
        "run_s": run_s,
        "reps_run_s": [r for r, _ in reps],
        "peak_rss_mb": peak_rss_mb,
        "run_cpu_s": run_cpu_s,
        "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "op_p50_s": spans.median(lat),
        "op_tail": {"s": tail, "percentile": tail_label, "samples": n_lat},
        "ops": [[o.kind, o.seconds] for o in all_ops],
        "error_rate": sum(not o.ok for o in all_ops) / len(all_ops),
        "failures": failures[:20],
    }
    if args.trace:
        metrics = layer_metrics(tracer, wl, cpus, [r for r, _ in reps],
                                session_s, peak_rss_mb, all_ops)
        units = PER_LAYER
        tracer.dump(os.path.join(
            base, f"spans-{args.workload}-s{args.seed}.json"))
        if metrics["trace.coverage_min"] < 0.9:
            print("perfbench: spans cover less than 90% of an operation",
                  file=sys.stderr)
    else:
        metrics = {"setup_s": setup_s, "run_s": run_s, "run_cpu_s": run_cpu_s}
        units = END_TO_END
    with open(os.path.join(base, f"detail-{args.workload}-s{args.seed}.json"),
              "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not failures,
        "attempted": len(all_ops),
        "failed": sum(not o.ok for o in all_ops),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
