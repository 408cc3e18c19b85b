"""Self-tests of the benchmark on a tiny store.

    python -m pytest perfbench -q

Covers the output contract (every metric named in BENCHMARK.json printed
with its unit), the output checks catching planted faults, the span
accounting, and exact repetition of the count metrics.

Every Spark session runs in a child process (``python3
perfbench/test_perfbench.py <out.pickle>`` makes the crawls the tests
inspect): PySpark keeps one JVM gateway per process and cannot start
another once it is stopped, so a session started and stopped here would
break any later Spark test in the same pytest run.
"""

import json
import os
import pickle
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pytest  # noqa: E402

import tests.oracle as oracle  # noqa: E402
from perfbench import bench, checks  # noqa: E402
from perfbench.model import CrawlModel, Robots  # noqa: E402
from perfbench.tracer import ROUND, Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, make_inputs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
BFS, POLITE = WORKLOADS["crawl_bfs"], WORKLOADS["crawl_polite"]
SEED = 3


def _inputs(wl, out_dir):
    return make_inputs(wl, bench.TINY, SEED, os.path.join(out_dir, "inputs", wl.name))


def make_crawls(work: str) -> dict:
    """Child process: one plain crawl per workload and two traced crawls of
    crawl_bfs, each checked; returns what the tests inspect."""
    spark = bench.start_session(work)
    try:
        out = {}

        def crawl(wl, name, tracer=None):
            inputs = _inputs(wl, work)
            c = bench.run_crawl(spark, wl, inputs, os.path.join(work, name), wl.script, tracer)
            state = bench.check_crawl(wl, inputs, c)
            return c, state

        for wl in (BFS, POLITE):
            c, state = crawl(wl, wl.name)
            out[wl.name] = {"errors": c.errors, "calls": c.calls, "n_rounds": len(c.walls), "state": state}
        out["traced"] = []
        for name in ("traced-a", "traced-b"):
            tracer = Tracer(spark.sparkContext)
            c, state = crawl(BFS, name, tracer)
            metrics = bench.layer_metrics(tracer, c, state) if state is not None else {}
            out["traced"].append({"errors": c.errors, "walls": c.walls, "spans": tracer.spans, "metrics": metrics})
        return out
    finally:
        bench.stop_session(spark)


@pytest.fixture(scope="module")
def crawls(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("crawls")
    path = tmp / "crawls.pickle"
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), str(path)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    with open(path, "rb") as f:
        out = pickle.load(f)
    for run in [out[BFS.name], out[POLITE.name], *out["traced"]]:
        assert run["errors"] == []
    return out


def test_model_equals_oracle_on_complete_crawl(tmp_path):
    inputs = _inputs(BFS, str(tmp_path))
    model = CrawlModel(inputs.store.by_id, inputs.seeds, Robots([], 1.0, 1.0))
    while model.step():
        pass
    golden = oracle.crawl(inputs.store.by_id, inputs.seeds)
    want = sorted((s, q, d, u, c, h, ok) for (s, q, u, c, h, ok), d in zip(golden.trace, golden.rounds))
    assert sorted(model.trace) == want
    assert set(model.seen) == golden.seen


def test_benchmark_json_names_the_workloads():
    assert {w["name"]: w["why"] for w in SPEC["workloads"]} == {k: w.why for k, w in WORKLOADS.items()}


@pytest.mark.parametrize("trace,workload", [(0, "crawl_bfs"), (1, "crawl_polite")])
def test_every_metric_printed_with_unit(trace, workload):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "2",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    for name, unit in want.items():  # the human-readable table names every metric too
        assert any(line.split()[:1] == [name] and line.split()[-1] == unit for line in out.stderr.splitlines())


def test_polite_crawl_schedules_deferred_rows_and_recrawls(crawls, tmp_path):
    run = crawls[POLITE.name]
    assert run["calls"] == list(POLITE.script)
    inputs = _inputs(POLITE, str(tmp_path))
    model = CrawlModel(inputs.store.by_id, inputs.seeds, inputs.robots, per_host=True)
    model.step()
    deferred = {(r.seed_idx, r.canon) for r in model.frontier if r.parent_seq < 0}
    assert deferred, "round 0 defers seed rows"
    round1 = {(t[0], t[4]) for t in run["state"].trace if t[2] == 1}
    assert deferred & round1, "round 1 fetches rows deferred in round 0"


def test_checks_catch_swapped_fetch_seq(crawls, tmp_path):
    inputs = _inputs(BFS, str(tmp_path))
    run = crawls[BFS.name]
    state = run["state"]
    golden = oracle.crawl(inputs.store.by_id, inputs.seeds)
    assert checks.check_oracle(state, golden, run["n_rounds"]) == []
    t = state.trace
    i = next(k for k in range(len(t) - 1) if t[k][0] == t[k + 1][0])  # same seed
    # swap the fetch_seq of two neighbours, keeping the (seed, seq) order
    t[i], t[i + 1] = t[i][:2] + t[i + 1][2:], t[i + 1][:2] + t[i][2:]
    assert checks.check_oracle(state, golden, run["n_rounds"])


def test_checks_catch_robots_denied_url(crawls, tmp_path):
    inputs = _inputs(POLITE, str(tmp_path))
    state = crawls[POLITE.name]["state"]
    closure = CrawlModel(inputs.store.by_id, inputs.seeds, inputs.robots)
    while closure.step():
        pass
    assert checks.check_polite(state, inputs.robots, set(closure.seen)) == []
    host, pattern = next((h, p) for h, p, allow, _ in inputs.rules if not allow and "*" not in p)
    url = f"http://{host}{pattern[:-1]}"
    assert not inputs.robots.allowed(host, url)
    seed, seq = state.trace[-1][0], state.trace[-1][1] + 1
    state.trace.append((seed, seq, state.trace[-1][2], url, url, host, True))
    state.seen.add((seed, url))
    assert checks.check_polite(state, inputs.robots, set(closure.seen))


def test_main_thread_spans_plus_self_time_equal_round_wall(crawls):
    run = crawls["traced"][0]
    tracer = Tracer(None)
    tracer.spans = run["spans"]
    rounds = {s.id: s for s in tracer.spans if s.name == ROUND}
    assert len(rounds) == len(run["walls"])
    walls = tracer.round_self()
    for sid, r in rounds.items():
        kids = [s for s in tracer.spans if s.parent == sid and s.thread == r.thread]
        assert kids, "every round has main-thread layer spans"
        assert all(r.start <= k.start <= k.end <= r.end for k in kids)
        wall, self_s = walls[r.round]
        assert self_s > 0
        assert sum(k.dur for k in kids) + self_s == pytest.approx(wall, abs=1e-9)
    # pool-thread layers are traced too, as children of their round
    assert any(s.name == "metrics.append" and s.parent in rounds for s in tracer.spans)


def test_counts_repeat_exactly(crawls):
    exact = ["engine.jobs_per_round", "engine.stages_per_round", "engine.tasks_per_round",
             "seq.jobs", "snapshots.files_written", "funnel.frontier_in", "funnel.scheduled",
             "funnel.fetch_failed", "funnel.schedule_yield"]
    a, b = (run["metrics"] for run in crawls["traced"])
    assert {k: a[k] for k in exact} == {k: b[k] for k in exact}
    assert a["engine.jobs_per_round"] > 0 and a["funnel.scheduled"] > 0


if __name__ == "__main__":
    out_path = sys.argv[1]
    result = make_crawls(os.path.join(os.path.dirname(os.path.abspath(out_path)), "work"))
    with open(out_path, "wb") as f:
        pickle.dump(result, f)
