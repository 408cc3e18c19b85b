"""Reference model of the engine's round semantics, for output checks.

``tests/oracle.py`` is the sequential reference crawl (unlimited budget,
no robots).  The per-host budget, robots rules and TTL expiry change the
ORDER of a crawl but not what it may fetch, so those workloads are
checked against this round-by-round model instead.  It reuses only the
oracle's independent URL helpers (Go ``net/url`` emulation,
``NormalizeURL``, same-host filter), never engine code, and reproduces
one engine round as documented in ``grabspark/engine.py``:

A1 first occurrence per (seed, canon) by (parent_seq, link_idx) ->
J1 drop seen -> X3 robots -> W1 per-host budget in (seed_idx,
parent_seq, link_idx) order, the rest deferred -> W2 per-seed fetch_seq
in (parent_seq, link_idx) order -> fetch -> mark seen -> same-host links
not yet seen, plus the deferred rows, form the next frontier.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

import tests.oracle as oracle

_HREF = re.compile(r'href="([^"]*)"')
_AUTHORITY = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*")


def host_of(url: str) -> str | None:
    try:
        return oracle.go_hostname(oracle.go_parse(url).netloc)
    except oracle.GoParseError:
        return None


def url_path(canon: str) -> str:
    """Path (plus query and fragment) after scheme://authority; "/" if empty."""
    m = _AUTHORITY.match(canon)
    path = canon[m.end():] if m else canon
    return path or "/"


def _pattern_re(pattern: str) -> re.Pattern:
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    return re.compile("^" + re.escape(body).replace(r"\*", ".*") + ("$" if anchored else ""))


class Robots:
    """RFC 9309 matching over ``(host, pattern, allow, crawl_delay)`` rules:
    longest matching pattern wins, allow wins a length tie, no match
    allows.  Budget per host is max(1, floor(tick / crawl_delay))."""

    def __init__(self, rules: list[tuple], tick_seconds: float, default_delay: float):
        self.by_host: dict[str, list[tuple]] = {}
        for host, pat, allow, delay in rules:
            self.by_host.setdefault(host, []).append((pat, _pattern_re(pat), allow, delay))
        self.tick = tick_seconds
        self.default_delay = default_delay

    def allowed(self, host: str, canon: str) -> bool:
        path = url_path(canon)
        best = None
        for pat, rx, allow, _ in self.by_host.get(host, ()):
            if rx.match(path):
                key = (len(pat), allow)
                best = key if best is None or key > best else best
        return True if best is None else best[1]

    def budget(self, host: str) -> int:
        delays = [d for *_, d in self.by_host.get(host, ()) if d is not None]
        delay = max(delays) if delays else self.default_delay
        return max(1, math.floor(self.tick / delay))


@dataclass
class _Row:
    seed_idx: int
    url: str
    canon: str
    host: str
    parent_seq: int
    link_idx: int

    @property
    def order(self) -> tuple[int, int]:
        return (self.parent_seq, self.link_idx)


@dataclass
class CrawlModel:
    """Round-stepped crawl over a synth store (``store_by_id`` as in
    ``synth.SynthStore.by_id``); the budget binds only when ``per_host``."""

    store_by_id: dict
    seeds: list[str]
    robots: Robots  # rules (may be empty) and the per-host budget
    per_host: bool = False
    round: int = field(default=0, init=False)
    frontier: list[_Row] = field(init=False)
    seen: dict = field(default_factory=dict, init=False)  # (seed_idx, canon) -> (first_seq, round)
    next_seq: dict = field(default_factory=dict, init=False)
    # (seed_idx, fetch_seq, round, url, url_canon, host, ok)
    trace: list[tuple] = field(default_factory=list, init=False)
    # per round: frontier_in, scheduled, fetched_ok, fetch_failed
    counters: list[dict] = field(default_factory=list, init=False)

    def __post_init__(self):
        self.frontier = [
            _Row(i, s, oracle.normalize_url(s), host_of(s) or "", -1, 0)
            for i, s in enumerate(self.seeds)
        ]

    def step(self) -> bool:
        """One engine round; False (and no round) when the frontier is empty."""
        if not self.frontier:
            return False
        first: dict[tuple, _Row] = {}
        for r in self.frontier:
            k = (r.seed_idx, r.canon)
            if k not in first or r.order < first[k].order:
                first[k] = r
        cand = [r for k, r in first.items() if k not in self.seen]
        cand = [r for r in cand if self.robots.allowed(r.host, r.canon)]
        deferred: list[_Row] = []
        if self.per_host:
            by_host: dict[str, list[_Row]] = {}
            for r in cand:
                by_host.setdefault(r.host, []).append(r)
            sched = []
            for host, rows in by_host.items():
                rows.sort(key=lambda r: (r.seed_idx, r.parent_seq, r.link_idx))
                b = self.robots.budget(host)
                sched += rows[:b]
                deferred += rows[b:]
        else:
            sched = cand
        sched.sort(key=lambda r: (r.seed_idx, r.parent_seq, r.link_idx))
        fetched = []
        n_ok = 0
        for r in sched:
            seq = self.next_seq.get(r.seed_idx, 0)
            self.next_seq[r.seed_idx] = seq + 1
            tgt = oracle.fetch_target(r.url)
            page = self.store_by_id.get(tgt) if tgt is not None else None
            ok = page is not None
            n_ok += ok
            self.trace.append((r.seed_idx, seq, self.round, r.url, r.canon, r.host, ok))
            self.seen[(r.seed_idx, r.canon)] = (seq, self.round)
            if ok:
                fetched.append((r, seq, page))
        links = []
        for r, seq, page in fetched:
            for idx, link in enumerate(_HREF.findall(page.caption)):
                if host_of(link) != r.host:
                    continue
                canon = oracle.normalize_url(link)
                if (r.seed_idx, canon) not in self.seen:
                    links.append(_Row(r.seed_idx, link, canon, r.host, seq, idx))
        self.counters.append(
            {
                "frontier_in": len(self.frontier),
                "scheduled": len(sched),
                "fetched_ok": n_ok,
                "fetch_failed": len(sched) - n_ok,
            }
        )
        self.frontier = deferred + links
        self.round += 1
        return True

    def expire(self, pred) -> list[tuple]:
        """TTL expiry (``CrawlEngine.expire_and_recrawl``): seen entries
        with ``pred(seed_idx, canon, round)`` leave the seen set and REPLACE the
        frontier, prioritised by their original fetch_seq; then one round.
        Returns the expired ``(seed_idx, canon, first_seq)`` entries."""
        expired = sorted(
            (k[0], k[1], v[0]) for k, v in self.seen.items() if pred(k[0], k[1], v[1])
        )
        if expired:
            for s, c, _ in expired:
                del self.seen[(s, c)]
            self.frontier = [_Row(s, c, c, host_of(c) or "", q, 0) for s, c, q in expired]
        self.step()
        return expired
