"""Workloads and their seeded inputs.

Every input is a pure function of (workload, seed): a ``synth.StoreSpec``
page store written as parquet, its seed list and, for the polite
workload, a robots rules parquet.  The engine receives only those files
and the seed list; the generated store and rules also feed the output
checks.  Generation runs before the set-up clock starts.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from grabspark import synth
from grabspark.config import BloomConfig, EngineConfig

from .model import Robots, host_of

TICK_SECONDS = 8.0  # crawl-delays 1/2/4/8 s give exact budgets 8/4/2/1
DEFAULT_DELAY = 1.0
# store of the untimed one-round warm-up crawl in set-up
WARM_SPEC = synth.StoreSpec(n_hosts=2, pages_per_host=6, out_degree=3)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    spec: synth.StoreSpec  # ``seed`` is replaced by the run's seed
    # one engine round per entry: "round", or "expire<k>" = TTL-expire the
    # seen entries fetched in round k and re-crawl them
    script: tuple[str, ...]
    # False: unlimited budget, no robots rules, broadcast Bloom seen filter.
    # True: per-host budget, robots rules, cuckoo seen filter.
    polite: bool = False

    def config(self, run_dir: str, inputs: "Inputs") -> EngineConfig:
        return EngineConfig(
            run_dir=run_dir,
            store_path=inputs.store_path,
            budget_mode="per_host" if self.polite else "unlimited",
            tick_seconds=TICK_SECONDS,
            default_crawl_delay=DEFAULT_DELAY,
            robots_path=inputs.rules_path,
            bloom=BloomConfig(mode="cuckoo" if self.polite else "broadcast"),
        )


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="crawl_bfs",
            why="unlimited budget, broadcast Bloom, 100 hosts seeded at once: wide rounds"
            " where per-URL layers (fetch join, image validation, link extraction) work most",
            spec=synth.StoreSpec(n_hosts=100, pages_per_host=30, out_degree=24, max_wh=48),
            script=("round",) * 2,
        ),
        Workload(
            name="crawl_polite",
            why="per-host crawl-delay budgets (1-8 fetches/round) with a deferred backlog, robots"
            " deny rules, cuckoo seen filter and TTL re-crawl: fixed per-round cost dominates",
            spec=synth.StoreSpec(n_hosts=8, pages_per_host=40, out_degree=20),
            # round 1 schedules a row deferred in round 0 (make_inputs); the TTL cycle
            # re-crawls round 1 and, like the engine, drops the backlog
            script=("round", "round", "expire1"),
            polite=True,
        ),
    )
}


def expired_round(call: str) -> int:
    """Round whose seen entries an ``expire<k>`` call expires.  Any one
    round fetched at most the budget per host, so under a per-host budget
    the re-crawl of those entries also fits in one round."""
    return int(call[len("expire"):])


@dataclass
class Inputs:
    store: synth.SynthStore
    store_path: str
    seeds: list[str]
    rules: list[tuple]
    rules_path: str | None
    robots: Robots


def robots_rules(spec: synth.StoreSpec, rng: np.random.Generator) -> list[tuple]:
    """Per host: a crawl-delay of 8, 4, 2 or 1 s by host index, so every
    seed gets the same total budget per round and host0, which holds four
    seed rows, defers three of them in round 0; a wildcard deny
    ``/p*<a>``, a longer allow ``/p<b>*<a>`` that wins over it, and an
    end-anchored deny ``/p<c>$``.  With ``a`` in 2-9 and ``b``, ``c`` in
    1-9 every seed (``/p0`` and the default ``/p1#frag``) stays allowed,
    so each seed's crawl fetches the same number of pages per round."""
    rules = []
    for i in range(spec.n_hosts):
        host = spec.host(i)
        delay = float(2 ** (3 - i % 4))
        a = int(rng.integers(2, 10))
        b, c = (int(x) for x in rng.integers(1, 10, size=2))
        rules += [
            (host, f"/p*{a}", False, delay),
            (host, f"/p{b}*{a}", True, delay),
            (host, f"/p{c}$", False, delay),
        ]
    return rules


_RULES_SCHEMA = pa.schema(
    [("host", pa.string()), ("rule_prefix", pa.string()), ("allow", pa.bool_()), ("crawl_delay", pa.float64())]
)


def make_inputs(wl: Workload, spec: synth.StoreSpec, seed: int, out_dir: str) -> Inputs:
    os.makedirs(out_dir, exist_ok=True)
    spec = replace(spec, seed=seed)
    rng = np.random.default_rng([seed, 7])
    store = synth.build_store(spec)
    store_path = os.path.join(out_dir, "store.parquet")
    synth.write_store_parquet(store, store_path)
    rules, rules_path = [], None
    if wl.polite:
        rules = robots_rules(spec, rng)
        rules_path = os.path.join(out_dir, "rules.parquet")
        cols = list(zip(*rules))
        pq.write_table(pa.Table.from_arrays([pa.array(c) for c in cols], schema=_RULES_SCHEMA), rules_path)
    robots = Robots(rules, TICK_SECONDS, DEFAULT_DELAY)
    # one extra seed per host (its /p0, which no robots rule denies) keeps
    # every host busy from round 0; the default seeds keep the slash /
    # fragment / duplicate / missing variants.  Under the polite budget, a
    # budget-1 host outside the default seeds first gets a missing page:
    # it takes round 0's one fetch and yields no links, so /p0 is deferred
    # in round 0 and scheduled in round 1
    seeds = synth.default_seeds(spec)
    default_hosts = {host_of(s) for s in seeds}
    for i in range(spec.n_hosts):
        host = spec.host(i)
        if wl.polite and host not in default_hosts and robots.budget(host) == 1:
            seeds.append(f"http://{host}/gone")
        seeds.append(f"http://{host}/p0")
    return Inputs(store, store_path, seeds, rules, rules_path, robots)
