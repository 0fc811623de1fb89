"""Spans and counters for the traced run, recorded from outside the engine.

The tracer patches the engine's public functions with span-recording
wrappers (nothing inside the package changes), counts py4j round trips per
unit of work by wrapping ``ClientServerConnection.send_command``, tags each
unit's Spark jobs with ``setJobGroup`` and reads their stage statistics
from the status store, and reads Catalyst's phase times from
``queryExecution().tracker()``. Spans stay in memory until ``write``.

A unit is one ingest batch, one fresh read, one served request, one store
build or one suite query pass; counts and Spark statistics are kept per
unit. Time the tracer spends reading the status store and the Catalyst
tracker is excluded from py4j counts and summed in ``bookkeeping_s``.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

CATALYST_PHASES = ("analysis", "optimization", "planning")


class Span:
    __slots__ = ("name", "unit", "start", "end", "parent", "child_s")

    def __init__(self, name, unit, start, parent):
        self.name, self.unit, self.start, self.parent = name, unit, start, parent
        self.end = None
        self.child_s = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.units: dict[str, dict] = {}
        self.bookkeeping_s = 0.0
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self._install_py4j_counter()

    # -- patching --------------------------------------------------------
    def _patch(self, owner, attr, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*a, **k):
            with self.span(name):
                return orig(*a, **k)

        self._patch(owner, attr, wrapped)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _install_py4j_counter(self) -> None:
        import py4j.clientserver as cs

        orig = cs.ClientServerConnection.send_command
        tls = self._tls

        def counted(conn, *a, **k):
            if getattr(tls, "counting", False):
                tls.calls += 1
            return orig(conn, *a, **k)

        self._patch(cs.ClientServerConnection, "send_command", counted)

    # -- spans and units -------------------------------------------------
    @contextmanager
    def span(self, name: str):
        tls = self._tls
        stack = tls.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sp = Span(name, getattr(tls, "unit", None), time.perf_counter(), parent)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if parent is not None:
                parent.child_s += sp.dur
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def unit(self, kind: str, uid: str):
        """One unit of work: its Spark jobs carry ``uid`` as job group and
        its py4j round trips are counted on this thread."""
        tls = self._tls
        self.sc.setJobGroup(uid, kind)
        tls.unit, tls.calls, tls.counting = uid, 0, True
        try:
            with self.span(kind):
                yield
        finally:
            tls.counting = False
            self.units[uid] = {"kind": kind, "py4j": tls.calls}
            tls.unit = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def paused(self):
        """Tracer work inside a unit: not counted, timed as bookkeeping."""
        tls = self._tls
        was = getattr(tls, "counting", False)
        tls.counting = False
        t = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t
            with self._lock:
                self.bookkeeping_s += dt
            tls.counting = was

    # -- Spark-side readings ---------------------------------------------
    def record_catalyst(self, df) -> float:
        """Milliseconds Catalyst spent analysing, optimising and planning
        ``df``'s query."""
        with self.paused():
            phases = df._jdf.queryExecution().tracker().phases()
            ms = 0.0
            for p in CATALYST_PHASES:
                opt = phases.get(p)
                if opt.isDefined():
                    ms += opt.get().durationMs()
        return ms

    def spark_stats(self) -> dict[str, dict]:
        """Per-unit job, stage and task counts, executor run time, shuffle
        write and spill, from the status store (read after the run)."""
        t = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {}
        for uid in self.units:
            s = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                 "shuffle_write_bytes": 0, "spill_bytes": 0}
            stage_ids = set()
            for jid in tracker.getJobIdsForGroup(uid):
                s["jobs"] += 1
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            for sid in stage_ids:
                seq = store.stageData(sid, False, None, False, None)
                if seq.isEmpty():
                    continue
                sd = seq.head()
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                s["stages"] += 1
                s["tasks"] += sd.numCompleteTasks()
                s["executor_run_s"] += sd.executorRunTime() / 1000.0
                s["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                s["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out[uid] = s
        self.bookkeeping_s += time.perf_counter() - t
        return out

    # -- aggregation -----------------------------------------------------
    def unit_totals(self, name: str, kind: str | None = None) -> dict[str, float]:
        """Seconds spent in spans ``name`` per unit (of ``kind``); a span
        nested in a same-named span is not added again."""
        out: dict[str, float] = {}
        for sp in self.spans:
            if sp.name != name or sp.unit is None:
                continue
            if kind is not None and self.units.get(sp.unit, {}).get("kind") != kind:
                continue
            if sp.parent is not None and sp.parent.name == name:
                continue
            out[sp.unit] = out.get(sp.unit, 0.0) + sp.dur
        return out

    def unit_counts(self, name: str, kind: str) -> dict[str, int]:
        out = {uid: 0 for uid, u in self.units.items() if u["kind"] == kind}
        for sp in self.spans:
            if sp.name == name and sp.unit in out:
                out[sp.unit] += 1
        return out

    def self_s(self, name: str) -> float:
        """Summed self time of every span ``name``."""
        return sum(sp.self_s for sp in self.spans if sp.name == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        index = {id(sp): i for i, sp in enumerate(self.spans)}
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": sp.name, "unit": sp.unit,
                    "start": sp.start, "end": sp.end,
                    "parent": index.get(id(sp.parent)), "self_s": sp.self_s,
                }) + "\n")
