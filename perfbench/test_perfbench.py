"""The benchmark's own tests; Spark-free. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import importlib.util
import json
import os

import pandas as pd
import pytest

import digests
import gen
import workloads
from spans import Tracer, median, tail_percentile
from workloads import Op

HERE = os.path.dirname(os.path.abspath(__file__))


def test_star_tables_are_a_pure_function_of_the_seed():
    a, b = gen.star_tables(7, 0.001), gen.star_tables(7, 0.001)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    other = gen.star_tables(8, 0.001)
    assert not other["lineitem"].equals(a["lineitem"])


def test_ingest_plan_is_a_pure_function_of_the_seed():
    a, b, c = (gen.ingest_plan(s) for s in (5, 5, 6))
    for key in ("initial", "batch", "updates", "survivors"):
        assert a[key].equals(b[key])
    assert a["expected"] == b["expected"]
    assert a["expected"] != c["expected"]


def test_ingest_plan_invariants_follow_the_batches():
    plan = gen.ingest_plan(3)
    n = gen.EVENTS_PER_NIGHT
    ids = plan["batch"].column("event_id").to_pylist()
    assert len(ids) == len(set(ids))
    assert sum(i < n for i in ids) == round(gen.REPLAY_SHARE * n)  # replays
    assert max(plan["updates"].column("event_id").to_pylist()) < n
    assert plan["expected"]["events"] == 2 * n
    final = plan["survivors"]
    assert final.column("event_id").to_pylist() == list(range(2 * n))
    assert sum(round(v * 100) for v in final.column("value").to_pylist()) == \
        plan["expected"]["value_cents"]
    # the corrected values replace the night-0 ones
    upd = dict(zip(plan["updates"].column("event_id").to_pylist(),
                   plan["updates"].column("value").to_pylist()))
    assert all(final.column("value")[i].as_py() == v for i, v in upd.items())


def test_sweep_plan_is_a_pure_function_of_the_seed():
    a, b, c = (gen.sweep_plan(s) for s in (9, 9, 10))
    assert all(a["initial"][d].equals(b["initial"][d]) for d in a["dumps"])
    assert a["appends"].keys() == b["appends"].keys()
    assert all(a["appends"][d].equals(b["appends"][d]) for d in a["appends"])
    assert a["planted_dups"] == b["planted_dups"]
    assert a["planted_contam"] == b["planted_contam"]
    assert a["planted_dups"] != c["planted_dups"]


def test_sweep_plan_plants_copies_across_dumps():
    plan = gen.sweep_plan(1)
    assert plan["planted_dups"] and plan["planted_contam"]
    assert all(copy[0] != src[0] for copy, src in plan["planted_dups"].items())
    assert len(plan["appends"]) == 1  # the other dump stays unchanged


@pytest.mark.parametrize("n, rank, label", [
    (11, 1, "p9"), (26, 16, "p61"), (100, 90, "p90"), (1000, 990, "p99"),
])
def test_tail_percentile_leaves_ten_samples_beyond(n, rank, label):
    values = [float(i) for i in range(n, 0, -1)]  # n..1, unsorted input
    value, got_label, count = tail_percentile(values)
    assert (value, got_label, count) == (float(rank), label, n)
    assert sum(v > value for v in values) == 10


def test_tail_percentile_without_ten_samples_beyond_is_the_max():
    assert tail_percentile([3.0, 1.0, 2.0]) == (3.0, "p100", 3)
    assert tail_percentile([float(i) for i in range(10)]) == (9.0, "p100", 10)
    with pytest.raises(ValueError):
        tail_percentile([])


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, None, 2.5], "s": ["x", "y", None]})
    shuffled = a.iloc[[2, 0, 1]][["s", "v", "k"]]
    assert digests.digest(a) == digests.digest(shuffled)


def test_digest_sees_values_names_and_float_bits():
    a = pd.DataFrame({"k": [1, 2], "v": [0.1, 0.2]})
    assert digests.digest(a) != digests.digest(a.rename(columns={"v": "w"}))
    b = a.copy()
    b.loc[1, "v"] = 0.2 + 1e-16  # one ulp away: repr tells them apart
    assert digests.digest(a) != digests.digest(b)
    assert digests.digest(a) != digests.digest(a.iloc[:1])


def test_committed_digests_match_the_oracle(tmp_path):
    gen.write_tables(gen.star_tables(gen.QUERY_MIX_DATA_SEED,
                                     digests.QUERY_MIX_SCALE), str(tmp_path))
    assert digests.oracle_digests(str(tmp_path), digests.QUERY_MIX) == \
        digests.load_expected()


def _load_run():
    """run.py, imported under another name than the test helpers'."""
    spec = importlib.util.spec_from_file_location("perfbench_run",
                                                  os.path.join(HERE, "run.py"))
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    return run


class _NoLake:
    def amplification(self):
        return 0.0, 0.0


def _traced_rep(tracer, t0):
    """One two-second query repetition: a 0.5 s build that runs one job
    with 4 s of task time, then a 1.5 s collect."""
    op = tracer.new_op()
    root = len(tracer.spans)
    tracer.spans += [
        {"name": "query", "id": root, "parent": None, "op": op,
         "start": t0, "end": t0 + 2.0, "counters": {}},
        {"name": "queries.build", "id": root + 1, "parent": root, "op": op,
         "start": t0, "end": t0 + 0.5,
         "counters": {"jobs": 1, "task_run_ms": 4000, "py4j_calls": 30}},
        {"name": "exec.collect", "id": root + 2, "parent": root, "op": op,
         "start": t0 + 0.5, "end": t0 + 2.0, "counters": {}},
    ]
    tracer.counts["catalyst.planning_s"] += 0.1
    return Op("query", seconds=2.0)


@pytest.mark.parametrize("reps", [1, 2, 3])
def test_layer_metrics_cover_one_repetition(reps):
    run = _load_run()
    tracer = Tracer(None, enabled=False)
    ops = [_traced_rep(tracer, 10.0 * i) for i in range(reps)]
    m = run.layer_metrics(tracer, _NoLake(), 4, [2.0] * reps, 5.0, 100.0, ops)
    assert m["trace.run_s"] == 2.0
    assert m["queries.build_s"] == 0.5
    assert m["exec.collect_s"] == 1.5
    assert m["queries.build_jobs"] == 1
    assert m["queries.py4j_calls"] == 30
    assert m["exec.task_run_s"] == 4.0
    assert m["exec.core_util"] == 0.5  # 4 s of tasks in 2 s on 4 cores
    assert m["catalyst.planning_s"] == pytest.approx(0.1)
    assert m["trace.coverage_min"] == 1.0
    assert m["run.error_rate"] == 0.0


def test_benchmark_json_lists_what_the_runner_reports():
    run = _load_run()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bm = json.load(f)
    assert {m["name"]: m["unit"] for m in bm["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bm["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bm["workloads"]] == list(run.WORKLOADS)
    assert list(workloads.WORKLOADS) == list(run.WORKLOADS)
