"""Outside-in tracer: spans around the engine's layer calls, plus Spark
stage metrics harvested per job group.

Nothing here edits the engine.  ``Tracer.install`` wraps the functions
``grabspark.engine`` looks up by name at call time (``fetch_and_validate``,
``links_to_frontier``, ``seq_mod.assign_fetch_seq_counted``) and the
methods of one engine's tables and seen filter.  Each wrapper opens a
span and sets ``sc.setJobGroup("<tracer>/r<round>/<layer>")`` on its OWN thread:
the engine runs the Bloom/cuckoo update and the metrics append on pool
threads, and a Spark job group is a per-thread property.  A timed engine
call is the round span; jobs it runs outside every layer span carry the
round's own group, or no group at all on a pool thread, and both count
as untagged.  Spans stay in memory until ``write``.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass

GROUP_KEY = "spark.jobGroup.id"
ROUND = "engine.round"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    round: int
    thread: str

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class StageRow:
    round: int
    layer: str | None  # None: untagged
    job: int
    stage: int
    tasks: int
    run_s: float
    cpu_s: float
    shuffle_bytes: int
    spill_bytes: int


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.round = -1
        self.files_written = 0
        self.overhead_s = 0.0  # bookkeeping time of the layer spans
        self._round_span: int | None = None
        self._tls = threading.local()
        self._ids = itertools.count()
        self._token = uuid.uuid4().hex[:8]  # job groups of another tracer never collide
        self._lock = threading.Lock()
        self._groups: dict[str, tuple[int, str]] = {}  # group id -> (round, layer)
        self._untagged: dict[int, list[int]] = {}  # round -> ungrouped job ids
        self._patches: list[tuple[object, str, object, bool]] = []
        self.job_owner: dict[int, tuple[int, str | None]] = {}  # set by harvest

    # -- spans -----------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def _set_group(self, gid: str | None) -> None:
        if gid is None:
            self.sc.setLocalProperty(GROUP_KEY, None)
        else:
            self.sc.setJobGroup(gid, gid)

    @contextmanager
    def span(self, name: str, tag: bool = True):
        """``tag`` False for calls that start no Spark job (manifest reads):
        the span is kept, the job group is left alone."""
        t_enter = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self._round_span
        sid = next(self._ids)
        prev = None
        if tag:
            prev = self.sc.getLocalProperty(GROUP_KEY)
            gid = f"{self._token}/r{self.round}/{name}"
            with self._lock:
                self._groups[gid] = (self.round, name)
            self._set_group(gid)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            if tag:
                self._set_group(prev)
            with self._lock:
                self.spans.append(
                    Span(sid, name, t0, t1, parent, self.round, threading.current_thread().name)
                )
                if name != ROUND:  # the round span's own work is outside the timed wall
                    self.overhead_s += (t0 - t_enter) + (time.perf_counter() - t1)

    def _ungrouped(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    @contextmanager
    def round_span(self, rnd: int):
        """One timed engine call (one crawl round)."""
        self.round = rnd
        before = self._ungrouped()
        with self.span(ROUND) as sid:
            self._round_span = sid
            try:
                yield
            finally:
                self._round_span = None
        self._untagged[rnd] = sorted(self._ungrouped() - before)

    # -- wrapping ----------------------------------------------------------------

    def _patch(self, owner, attr: str, name: str, tag: bool = True) -> None:
        orig = getattr(owner, attr)
        had_own = attr in vars(owner)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, tag):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig, had_own))

    def _count_files(self, table) -> None:
        orig = table._write_batch
        tracer = self

        def wrapper(df):
            files, rows, parts = orig(df)
            with tracer._lock:
                tracer.files_written += len(files)
            return files, rows, parts

        table._write_batch = wrapper
        self._patches.append((table, "_write_batch", orig, False))

    def install(self, eng) -> None:
        """Wrap the layer calls of one ``CrawlEngine``."""
        import grabspark.engine as engine_mod

        self._patch(engine_mod.seq_mod, "assign_fetch_seq_counted", "seq.assign")
        self._patch(engine_mod, "fetch_and_validate", "fetch.plan")
        self._patch(engine_mod, "links_to_frontier", "extract.plan")
        self._patch(eng.trace, "append", "fetch.trace_append")
        self._patch(eng.frontier, "prepare_overwrite", "extract.frontier_write")
        self._patch(eng.frontier, "overwrite", "snapshots.frontier_overwrite")
        self._patch(eng.frontier, "commit_prepared", "snapshots.commit")
        self._patch(eng.trace, "commit_meta", "snapshots.commit")
        self._patch(eng.seen, "append", "snapshots.seen_append")
        self._patch(eng.seen, "delete_where", "snapshots.delete")
        self._patch(eng.metrics, "append", "metrics.append")
        for table in (eng.frontier, eng.seen, eng.trace, eng.metrics):
            self._patch(table, "manifest", "snapshots.manifest", tag=False)
            self._count_files(table)
        if eng.bloom is not None:
            self._patch(eng, "_bloom_broadcast_update", "bloom.update")
        if eng.pbloom is not None:
            self._patch(eng.pbloom, "update", "cuckoo.update")
            if hasattr(eng.pbloom, "delete"):
                self._patch(eng.pbloom, "delete", "cuckoo.delete")

    def uninstall(self) -> None:
        for owner, attr, orig, had_own in reversed(self._patches):
            if had_own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._patches.clear()

    # -- analysis ----------------------------------------------------------------

    def harvest(self) -> list[StageRow]:
        """Stage metrics of every job run inside a round span, each stage
        counted once (for the first job that lists it) and only if it ran
        (a stage whose shuffle output was reused reports SKIPPED)."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_owner: dict[int, tuple[int, str | None]] = {}
        for gid, (rnd, layer) in self._groups.items():
            owner = None if layer == ROUND else layer
            for jid in tracker.getJobIdsForGroup(gid):
                job_owner[jid] = (rnd, owner)
        for rnd, jids in self._untagged.items():
            for jid in jids:
                job_owner[jid] = (rnd, None)
        self.job_owner = job_owner
        rows, counted = [], set()
        for jid in sorted(job_owner):
            rnd, layer = job_owner[jid]
            info = tracker.getJobInfo(jid)
            for sid in sorted(info.stageIds if info is not None else ()):
                if sid in counted:
                    continue
                counted.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                rows.append(
                    StageRow(
                        rnd, layer, jid, sid,
                        sd.numCompleteTasks(),
                        sd.executorRunTime() / 1e3,
                        sd.executorCpuTime() / 1e9,
                        sd.shuffleReadBytes() + sd.shuffleWriteBytes(),
                        sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    )
                )
        return rows

    def round_self(self) -> dict[int, tuple[float, float]]:
        """Per round: (wall, self) where self = round span minus the time
        its direct main-thread children cover."""
        rounds = {s.id: s for s in self.spans if s.name == ROUND}
        covered: dict[int, list[tuple[float, float]]] = {sid: [] for sid in rounds}
        for s in self.spans:
            if s.parent in rounds and s.thread == rounds[s.parent].thread:
                covered[s.parent].append((s.start, s.end))
        out = {}
        for sid, r in rounds.items():
            busy, end = 0.0, r.start
            for a, b in sorted(covered[sid]):
                a = max(a, end)
                if b > a:
                    busy += b - a
                    end = b
            out[r.round] = (r.dur, r.dur - busy)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
