"""In-memory spans around calls into the engine's layers, plus the stage
and job records of Spark's in-process status store.

A span is (id, name, start, end, parent, run id, attrs). Times are
``time.time()`` seconds so spans line up with the status store's epoch
milliseconds. The benchmark always records spans for its own operations
(rounds, reads, legs); ``Tracer.patch`` adds spans around engine
functions and is only used in a traced run. The ingest's ``foreachBatch``
callback runs on a py4j callback thread, so a span opened on a thread
with no open span of its own takes the main thread's innermost open span
as its parent.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._patches: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, name: str, **attrs: Any):
        tid = threading.get_ident()
        with self._lock:
            sid = len(self.spans)
            stack = self._stacks.setdefault(tid, [])
            src = stack or self._stacks.get(self._main, [])
            parent = src[-1] if src else None
            sp = Span(sid, name, time.time(), 0.0, parent, self.run_id, dict(attrs))
            self.spans.append(sp)
            stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = sp.start + (time.perf_counter() - t0)
            with self._lock:
                stack.pop()

    def patch(
        self, owner: Any, attr: str, name: str, on_result: Callable[[Span, Any], None] | None = None
    ) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, out)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end > 0]

    def within(self, outer: Span, name: str) -> list[Span]:
        return [s for s in self.named(name) if outer.start <= s.start and s.end <= outer.end + 1e-6]


# ------------------------------------------------------------ status store
def _opt_ts(opt) -> float | None:
    return None if opt.isEmpty() else opt.get().getTime() / 1000.0


def _as_java(spark, seq):
    return spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


def status_stages(spark) -> list[dict[str, float]]:
    """Completed stages: wall window, task run/CPU time, shuffle and I/O
    bytes. Works with the UI off (the store is always live)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    out = []
    for s in _as_java(spark, store.stageList(None, False, False, empty, None)):
        start, end = _opt_ts(s.submissionTime()), _opt_ts(s.completionTime())
        if start is None or end is None:
            continue
        out.append(
            {
                "start": start,
                "end": end,
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_write": float(s.shuffleWriteBytes()),
                "shuffle_read": float(s.shuffleReadBytes()),
                "input": float(s.inputBytes()),
                "output": float(s.outputBytes()),
            }
        )
    return out


def status_jobs(spark) -> list[dict[str, float]]:
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in _as_java(spark, store.jobsList(None)):
        start, end = _opt_ts(j.submissionTime()), _opt_ts(j.completionTime())
        if start is not None and end is not None:
            out.append({"start": start, "end": end})
    return out


def in_window(items: list[dict], sp: Span) -> list[dict]:
    """Status-store records that started inside the span (ms-resolution
    JVM clock: allow 5 ms of slack on each side)."""
    return [r for r in items if sp.start - 0.005 <= r["start"] <= sp.end + 0.005]


def busy_s(jobs: list[dict], sp: Span) -> float:
    """Seconds of the span during which at least one Spark job ran."""
    iv = sorted((max(j["start"], sp.start), min(j["end"], sp.end)) for j in jobs)
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in iv:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def module_table(tracer: Tracer, stages: list[dict]) -> list[dict]:
    """Per span name: count, wall, self time (wall not covered by child
    spans) and the task run/CPU seconds of the stages that started inside
    it, each stage charged to the innermost span containing its start."""
    spans = [s for s in tracer.spans if s.end > 0]
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    charged: dict[int, list[dict]] = {}
    for st in stages:
        inner = None
        for s in spans:
            if s.start - 0.005 <= st["start"] <= s.end + 0.005 and (inner is None or s.dur < inner.dur):
                inner = s
        if inner is not None:
            charged.setdefault(inner.sid, []).append(st)
    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s.name, {"name": s.name, "n": 0, "wall_s": 0.0, "self_s": 0.0, "task_run_s": 0.0, "task_cpu_s": 0.0})
        r["n"] += 1
        r["wall_s"] += s.dur
        r["self_s"] += s.dur - sum(c.dur for c in children.get(s.sid, []))
        for st in charged.get(s.sid, []):
            r["task_run_s"] += st["run_s"]
            r["task_cpu_s"] += st["cpu_s"]
    return sorted(rows.values(), key=lambda r: r["name"])


def write_spans(tracer: Tracer, path: str) -> None:
    import json

    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for s in tracer.spans:
            f.write(json.dumps({
                "id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "run": s.run, "attrs": s.attrs,
            }, default=str) + "\n")
