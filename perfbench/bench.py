"""The benchmark proper: set-up, closed-loop crawls, checks, metrics.

One process, one Spark session on ``local[<cores>]``, one crawl at a time.
Each timed call advances an unmodified ``CrawlEngine`` by exactly one
round: ``start()``, then ``run()`` with ``cfg.max_rounds`` raised by one,
or ``expire_and_recrawl()`` the same way.  Crawls repeat (fresh run
directory, same inputs) until the timed calls have taken ``--seconds``;
every crawl is checked against the references in ``checks``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` makes one
traced crawl and reports its per-layer metrics (``tracer``), including
the tracer's own bookkeeping time inside the timed calls.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import tests.oracle as oracle
from grabspark import synth
from grabspark.engine import CrawlEngine
from grabspark.session import attach_package

from . import checks
from .model import CrawlModel
from .tracer import Tracer
from .workloads import WARM_SPEC, WORKLOADS, Inputs, Workload, expired_round, make_inputs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
TINY = synth.StoreSpec(n_hosts=5, pages_per_host=10, out_degree=4)


# -- session ---------------------------------------------------------------------


def start_session(work: str):
    """Spark session on every core, with all scratch space under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # Python workers and grabspark's pyfile zip
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("grabspark-perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the tracer reads job and stage data back from the status store
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_proc():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def peak_rss_mb() -> tuple[float, float]:
    """Peak RSS of (this Python process, the JVM it launched)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = _jvm_proc()
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return py_kb / 1024.0, jvm_kb / 1024.0


def live_heap_mb(spark) -> float:
    """JVM heap in use right after a full collection: the heap the engine
    holds on to.  The JVM's RSS is no measure of that: G1 grows the heap
    by a timing-driven policy, and between runs of one workload the JVM's
    RSS spread over hundreds of MB.  Python's collection goes first, so
    JVM objects that only dead Python proxies still pin are released too.
    Spark's ContextCleaner drops unreferenced broadcasts and shuffles only
    after a collection has found them (it polls every 100 ms), so a
    second collection follows a pause."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: on a shared virtual machine
    the share of CPU time taken by other guests, a run-to-run noise source."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM: it exits when its stdin closes."""
    proc = _jvm_proc()
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- one crawl -------------------------------------------------------------------


@dataclass
class Crawl:
    engine: CrawlEngine
    walls: list[float] = field(default_factory=list)
    rows: list[int] = field(default_factory=list)
    calls: list[str] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)


def run_crawl(spark, wl: Workload, inputs: Inputs, run_dir: str, script, tracer: Tracer | None = None) -> Crawl:
    """Run ``script`` as timed one-round engine calls on a fresh engine."""
    cfg = wl.config(run_dir, inputs)
    cfg.max_rounds = 0
    eng = CrawlEngine(spark, cfg)
    crawl = Crawl(eng)
    if tracer is not None:
        tracer.install(eng)
    try:
        for i, call in enumerate(script):
            if i > 0 and call == "round" and eng.frontier.row_count() == 0:
                break  # crawl finished early: no empty timed calls
            pred = f"round = {expired_round(call)}" if call.startswith("expire") else None
            cfg.max_rounds = i + 1
            before = eng.trace.row_count()
            with tracer.round_span(i) if tracer is not None else nullcontext():
                t0 = time.perf_counter()
                try:
                    if i == 0:
                        eng.start(inputs.seeds)
                    elif pred is None:
                        eng.run()
                    else:
                        eng.expire_and_recrawl(pred)
                except Exception as exc:  # a failed call fails the run, reported below
                    crawl.errors.append(f"call {i} ({call}) raised {str(exc)[:1500]}")
                crawl.walls.append(time.perf_counter() - t0)
            crawl.rows.append(eng.trace.row_count() - before)
            crawl.calls.append(call)
            if crawl.errors:
                break
    finally:
        if tracer is not None:
            tracer.uninstall()
        # the engine has no close(); its round pool's threads hold py4j
        # connections, so end them while the JVM is still up
        eng._pool.shutdown()
    return crawl


def check_crawl(wl: Workload, inputs: Inputs, crawl: Crawl) -> checks.EngineState | None:
    """Replay the calls on the references; failures go to ``crawl.errors``."""
    if crawl.errors:
        return None
    state = checks.collect(crawl.engine, pages=not wl.polite)
    model = CrawlModel(inputs.store.by_id, inputs.seeds, inputs.robots, per_host=wl.polite)
    cycles, seen_before = [], None
    for call in crawl.calls:
        if call == "round":
            model.step()
            continue
        if seen_before is None:
            seen_before = set(model.seen)
        k = expired_round(call)
        rnd = model.round
        cycles.append((rnd, model.expire(lambda s, c, r: r == k)))
    errs = checks.check_model(state, model)
    if wl.polite:
        closure = CrawlModel(inputs.store.by_id, inputs.seeds, inputs.robots)
        while closure.step():
            pass
        errs += checks.check_polite(state, inputs.robots, set(closure.seen))
        if cycles:
            errs += checks.check_recrawl(state, cycles, seen_before)
    else:
        errs += checks.check_oracle(state, oracle.crawl(inputs.store.by_id, inputs.seeds), model.round)
    crawl.errors += errs
    return state


# -- metrics ---------------------------------------------------------------------

SPAN_LAYERS = {
    "fetch.trace_append_s": ("fetch.trace_append",),
    "extract.frontier_write_s": ("extract.frontier_write",),
    "seq.assign_s": ("seq.assign",),
    "snapshots.seen_append_s": ("snapshots.seen_append",),
    "snapshots.commit_s": ("snapshots.commit", "snapshots.manifest"),
    "snapshots.delete_s": ("snapshots.delete",),
    "metrics.append_s": ("metrics.append",),
    "bloom.update_s": ("bloom.update",),
    "cuckoo.update_s": ("cuckoo.update",),
    "cuckoo.delete_s": ("cuckoo.delete",),
}


def urls_per_s(crawls: list[Crawl]) -> float:
    return sum(sum(c.rows) for c in crawls) / sum(sum(c.walls) for c in crawls)


def layer_metrics(tracer: Tracer, crawl: Crawl, state: checks.EngineState) -> dict[str, float]:
    """Per-layer figures of one traced crawl (sums over its rounds)."""
    out: dict[str, float] = {}
    by_id = {s.id: s for s in tracer.spans}
    for metric, names in SPAN_LAYERS.items():
        # outermost spans of the group only: a manifest read inside a
        # commit is already inside the commit's time
        out[metric] = sum(
            s.dur
            for s in tracer.spans
            if s.name in names and not (s.parent in by_id and by_id[s.parent].name in names)
        )
    stages = tracer.harvest()
    n_rounds = len(crawl.walls)

    def stage_sum(layer: str, attr: str) -> float:
        return float(sum(getattr(r, attr) for r in stages if r.layer == layer))

    out["fetch.executor_run_s"] = stage_sum("fetch.trace_append", "run_s")
    out["fetch.executor_cpu_s"] = stage_sum("fetch.trace_append", "cpu_s")
    out["fetch.shuffle_mb"] = stage_sum("fetch.trace_append", "shuffle_bytes") / 2**20
    out["extract.executor_cpu_s"] = stage_sum("extract.frontier_write", "cpu_s")
    out["seq.jobs"] = float(sum(1 for _, layer in tracer.job_owner.values() if layer == "seq.assign"))
    out["seq.executor_cpu_s"] = stage_sum("seq.assign", "cpu_s")
    out["seq.shuffle_mb"] = stage_sum("seq.assign", "shuffle_bytes") / 2**20
    out["engine.jobs_per_round"] = len(tracer.job_owner) / n_rounds
    out["engine.stages_per_round"] = len(stages) / n_rounds
    out["engine.tasks_per_round"] = sum(r.tasks for r in stages) / n_rounds
    out["engine.untagged_jobs"] = float(sum(1 for _, layer in tracer.job_owner.values() if layer is None))
    out["engine.executor_cpu_s"] = float(sum(r.cpu_s for r in stages))
    out["engine.spill_mb"] = sum(r.spill_bytes for r in stages) / 2**20
    out["engine.round_self_s"] = sum(s for _, s in tracer.round_self().values())
    out["snapshots.files_written"] = float(tracer.files_written)
    tot = {k: sum(c.get(k, 0) for c in state.counters) for k in checks.COUNTERS}
    out["funnel.frontier_in"] = float(tot["frontier_in"])
    out["funnel.scheduled"] = float(tot["scheduled"])
    out["funnel.fetch_failed"] = float(tot["fetch_failed"])
    out["funnel.schedule_yield"] = tot["scheduled"] / tot["frontier_in"] if tot["frontier_in"] else 0.0
    eng = crawl.engine
    rows, wall = sum(crawl.rows), sum(crawl.walls)
    out["tracer.urls_per_s"] = rows / wall
    out["tracer.overhead_s"] = tracer.overhead_s
    # throughput lost to tracing: untraced minus traced, the untraced wall
    # being the traced one less the tracer's bookkeeping inside the calls
    out["tracer.overhead_urls_per_s"] = rows / (wall - tracer.overhead_s) - rows / wall
    out["bloom.est_fpp_end"] = float(eng.bloom.est_fpp()) if eng.bloom is not None else 0.0
    load = getattr(eng.pbloom, "load_factor", None)
    out["cuckoo.load_factor_end"] = float(load()) if load is not None else 0.0
    return out


def _units() -> dict[str, dict[str, str]]:
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    return {
        "e2e": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


# -- main ------------------------------------------------------------------------


def parse_args(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py", description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test scale: a 3x10-page store")
    return p.parse_args(argv)


def main(argv=None, t_process: float | None = None) -> int:
    t_process = time.perf_counter() if t_process is None else t_process
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    units = _units()
    work = os.path.join(WORK_ROOT, f"{wl.name}-s{args.seed}-p{os.getpid()}")
    os.makedirs(work)

    # inputs: the benchmark's own work, outside set-up and timing
    t_gen = time.perf_counter()
    inputs = make_inputs(wl, TINY if args.tiny else wl.spec, args.seed, os.path.join(work, "inputs"))
    warm = make_inputs(wl, WARM_SPEC, args.seed, os.path.join(work, "warm"))
    gen_s = time.perf_counter() - t_gen

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        t1 = time.perf_counter()
        attach_package(spark)
        t2 = time.perf_counter()
        run_crawl(spark, wl, warm, os.path.join(work, "run-warm"), wl.script[:1])
        t3 = time.perf_counter()
        setup = {
            "setup_s": (t3 - t_process) - gen_s,
            "setup.session_s": t1 - t0,
            "setup.attach_s": t2 - t1,
            "setup.warmup_s": t3 - t2,
        }

        # closed loop: whole crawls until the timed calls add up to
        # --seconds; a traced run makes exactly one (traced) crawl
        tracer = Tracer(spark.sparkContext) if args.trace else None
        crawls: list[Crawl] = []
        check_s = 0.0
        steal0 = cpu_steal_ticks()
        while not crawls or (
            tracer is None and not crawls[-1].errors and sum(sum(c.walls) for c in crawls) < args.seconds
        ):
            run_dir = os.path.join(work, f"run-{len(crawls)}")
            crawls.append(run_crawl(spark, wl, inputs, run_dir, wl.script, tracer))
            t_check = time.perf_counter()
            state = check_crawl(wl, inputs, crawls[-1])
            check_s += time.perf_counter() - t_check
        steal1 = cpu_steal_ticks()

        rss = peak_rss_mb()
        walls = [w for c in crawls for w in c.walls]
        errors = [e for c in crawls for e in c.errors]
        attempted = len(walls)
        failed = attempted if errors else 0
        e2e = {
            "urls_per_s": urls_per_s(crawls),
            "round_p50_s": statistics.median(walls),
            "setup_s": setup["setup_s"],
        }
        layers = {"failed_ratio": failed / attempted, "peak_rss_mb": sum(rss)}
        if tracer is not None and state is not None:
            layers["live_heap_mb"] = live_heap_mb(spark)
            layers.update(layer_metrics(tracer, crawls[0], state))
            layers.update({k: v for k, v in setup.items() if k != "setup_s"})
            os.makedirs(os.path.join(WORK_ROOT, "spans"), exist_ok=True)
            tracer.write(os.path.join(WORK_ROOT, "spans", f"{wl.name}-s{args.seed}.json"))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for e in errors:
        print(f"CHECK FAILED [{wl.name}]: {e}", file=sys.stderr)
    for i, c in enumerate(crawls):
        calls = " ".join(f"{k}:{w:.2f}s/{r}" for k, w, r in zip(c.calls, c.walls, c.rows))
        print(f"# crawl {i}: {calls}", file=sys.stderr)
    report = {
        **{k: (v, units["e2e"][k]) for k, v in e2e.items()},
        "failed_ratio": (failed / attempted, "ratio"),
        "rounds": (attempted, "count"),
        "inputs_s": (gen_s, "s"),
        "checks_s": (check_s, "s"),
        "peak_rss_mb": (sum(rss), "MB"),
        "python_rss_mb": (rss[0], "MB"),
        "jvm_rss_mb": (rss[1], "MB"),
        "cpu_steal": ((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), "ratio"),
    }
    if tracer is not None:
        report.update({k: (v, units["layer"][k]) for k, v in sorted(layers.items())})
    print(f"# {wl.name} seed={args.seed} trace={args.trace}", file=sys.stderr)
    for k, (v, u) in report.items():
        print(f"  {k:32s} {v:14.4f} {u}", file=sys.stderr)
    chosen = units["layer"] if tracer is not None else units["e2e"]
    values = {**e2e, **layers}
    metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in chosen.items()}
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 1 if errors else 0
