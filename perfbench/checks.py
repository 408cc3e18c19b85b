"""Output checks: the engine's crawl state against independent references.

``collect`` reads a finished crawl back from the engine; the ``check_*``
functions take plain Python values, so a planted fault can be checked
without Spark.  Each returns a list of failure messages (empty = pass).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

from pyspark.sql import functions as F

TRACE_COLS = ["seed_idx", "fetch_seq", "round", "url", "url_canon", "host", "ok"]
COUNTERS = ["frontier_in", "scheduled", "fetched_ok", "fetch_failed"]


@dataclass
class EngineState:
    trace: list[tuple]  # TRACE_COLS, ordered by (seed_idx, fetch_seq)
    seen: set[tuple]  # (seed_idx, url_canon)
    pages: set[tuple]  # (seed_idx, fetch_seq, url, title, content)
    counters: list[dict]  # per round, from the engine's metrics table
    frontier_rows: int


def collect(eng, pages: bool = False) -> EngineState:
    trace = [
        tuple(r)
        for r in eng.trace_df().select(*TRACE_COLS).orderBy("seed_idx", "fetch_seq").collect()
    ]
    seen = {(r[0], r[1]) for r in eng.seen_df().select("seed_idx", "url_canon").collect()}
    page_rows = set()
    if pages:
        page_rows = {
            tuple(r)
            for r in eng.pages_df().select("seed_idx", "fetch_seq", "url", "title", "content").collect()
        }
    rows = (
        eng.metrics_df()
        .filter(F.col("scope") == "round")
        .select("round", "metric", "value")
        .collect()
    )
    n_rounds = 1 + max((r["round"] for r in rows), default=-1)
    counters = [{} for _ in range(n_rounds)]
    for r in rows:
        counters[r["round"]][r["metric"]] = r["value"]
    return EngineState(trace, seen, page_rows, counters, eng.frontier.row_count())


def _diff(what: str, got, want) -> list[str]:
    if got == want:
        return []
    if isinstance(got, list) and isinstance(want, list):
        for i, (g, w) in enumerate(zip(got, want)):
            if g != w:
                return [f"{what}: first difference at #{i}: got {g!r}, want {w!r}"]
        return [f"{what}: got {len(got)} rows, want {len(want)}"]
    if isinstance(got, set) and isinstance(want, set):
        return [
            f"{what}: {len(got - want)} unexpected (e.g. {sorted(got - want)[:2]!r}), "
            f"{len(want - got)} missing (e.g. {sorted(want - got)[:2]!r})"
        ]
    return [f"{what}: got {got!r}, want {want!r}"]


def check_oracle(state: EngineState, golden, n_rounds: int) -> list[str]:
    """Unlimited-budget crawl cut after ``n_rounds`` rounds equals the
    reference crawl's BFS levels < n_rounds: trace order, seen set, pages."""
    keep = [d < n_rounds for d in golden.rounds]
    want = [
        (s, q, d, u, c, h, ok)
        for (s, q, u, c, h, ok), d, k in zip(golden.trace, golden.rounds, keep)
        if k
    ]
    kept = {(s, q) for (s, q, *_), k in zip(golden.trace, keep) if k}
    want_pages = {p for p in golden.pages if (p[0], p[1]) in kept}
    return (
        _diff("trace vs oracle", state.trace, want)
        + _diff("seen vs oracle", state.seen, {(t[0], t[4]) for t in want})
        + _diff("pages vs oracle", state.pages, want_pages)
    )


def check_model(state: EngineState, model) -> list[str]:
    """Trace (order and round), seen set and per-round funnel counters
    equal the round model's."""
    want = sorted(model.trace)
    counters = [{k: c.get(k, 0) for k in COUNTERS} for c in state.counters]
    return (
        _diff("trace vs model", state.trace, want)
        + _diff("seen vs model", state.seen, set(model.seen))
        + _diff("round counters vs model", counters, model.counters)
    )


def check_polite(state: EngineState, robots, closure: set) -> list[str]:
    """Per-host budget and robots, from the engine's output alone: every
    (round, host) count within that host's budget; no denied URL fetched
    or marked seen; rounds non-decreasing in fetch order per (seed, host);
    seen within the robots-aware reference's seen set, equal to it once
    the frontier is empty."""
    errs = []
    per = Counter((t[2], t[5]) for t in state.trace)
    over = [(k, n) for k, n in per.items() if n > robots.budget(k[1])]
    if over:
        errs.append(f"budget exceeded (round, host) -> fetches: {sorted(over)[:3]}")
    denied = [t for t in state.trace if not robots.allowed(t[5], t[4])]
    if denied:
        errs.append(f"robots-denied URLs fetched: {denied[:2]}")
    last: dict[tuple, tuple] = {}
    for t in state.trace:  # (seed_idx, fetch_seq) order
        k = (t[0], t[5])
        if k in last and t[2] < last[k][2]:
            errs.append(f"round goes back in fetch order for {k}: {last[k][:3]} then {t[:3]}")
            break
        last[k] = t
    if not state.seen <= closure:
        errs += _diff("seen within robots-aware reference", state.seen, state.seen & closure)
    if state.frontier_rows == 0:
        errs += _diff("seen vs robots-aware reference", state.seen, closure)
    return errs


def check_recrawl(state: EngineState, cycles: list[tuple[int, list[tuple]]], seen_before: set) -> list[str]:
    """Each TTL cycle ``(round, expired (seed_idx, canon, first_seq))``
    re-fetches every expired URL exactly once, in its round, in original
    first_seq order per seed; the seen set ends as it was before expiry."""
    errs = []
    for rnd, expired in cycles:
        got = [(t[0], t[4]) for t in state.trace if t[2] == rnd]  # fetch order per seed
        want = [(s, c) for s, c, _ in sorted(expired, key=lambda e: (e[0], e[2]))]
        dup = [k for k, n in Counter(got).items() if n > 1]
        if dup:
            errs.append(f"cycle round {rnd}: re-fetched more than once: {dup[:2]}")
        errs += _diff(f"cycle round {rnd} re-fetch order", got, want)
    errs += _diff("seen restored after expiry", state.seen, seen_before)
    return errs
