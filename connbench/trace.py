"""Outside-in tracing for the traced run.

The program is not edited. Instead the tracer

- wraps public calls into each module (a span per call: name, start,
  end, parent span, thread), and inspects what some of them return;
- gives every span its own Spark job group, so ``statusTracker`` counts
  the jobs each call launched itself (the pattern of
  ``tools/r14_profile.py``);
- snapshots ``metrics.REGISTRY`` before and after, for deltas of the
  engine's own timers and counters.

Spans stay in memory and are written out once, at the end of the run.
``StreamingQueryProgress.durationMs`` is read by the workload driver.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "connbench-span-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: str
    start: float
    end: float = 0.0
    ok: bool = True
    counts: dict = field(default_factory=dict)
    jobs: int = 0  # jobs launched while this span was the innermost one

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def _evolution(result, args, kwargs) -> dict:
    """``plan_evolution`` → whether the incoming batch changed the schema."""
    return {"evolved": int(not result.is_noop)}


def targets():
    """(owner, attribute, span name, inspector) for every wrapped call.
    Modules that import a function by name are patched in the importing
    module, which is where the call resolves."""
    from ducklake_kafka_connect_spark.lake import maintenance, mor, table, writer
    from ducklake_kafka_connect_spark.streaming import ingest

    return [
        (ingest.IngestPipeline, "process_batch", "streaming.process_batch", None),
        (ingest, "decode_json", "sources.decode_json", None),
        (ingest, "split_dlq", "sources.split_dlq", None),
        (writer, "plan_evolution", "schema.reconcile", _evolution),
        (writer.LakeWriter, "write", "lake.writer.write", None),
        (writer.LakeWriter, "write_many", "lake.writer.write_many", None),
        (writer.LakeWriter, "append", "lake.writer.append", None),
        (writer.LakeWriter, "merge", "lake.writer.merge", None),
        (writer.LakeWriter, "merge_many", "lake.writer.merge_many", None),
        (table.LakeTable, "write_data_files", "lake.table.write_data_files", None),
        (table.LakeTable, "manifest", "lake.table.manifest", None),
        (table.LakeTable, "read", "lake.table.read", None),
        (mor, "read_visible", "lake.mor.read_visible", None),
        (maintenance, "compact", "lake.maintenance.compact", None),
    ]


class Tracer:
    """Installs wrappers on ``install()`` and removes them on ``uninstall()``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    # -- spans --

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setJobGroup(None, None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name)

    @staticmethod
    def _run(fn, inspect, args, kwargs, span):
        try:
            result = fn(*args, **kwargs)
        except BaseException:
            span.ok = False
            raise
        if inspect is not None:
            span.counts = inspect(result, args, kwargs)
        return result

    def span(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span of its own (benchmark-side operations)."""
        return self._call(name, None, fn, args, kwargs)

    def _call(self, name, inspect, fn, args, kwargs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = Span(
            id=next(self._ids),
            name=name,
            parent=parent.id if parent else None,
            thread=threading.current_thread().name,
            start=time.perf_counter(),
        )
        stack.append(span)
        self._set_group(span)
        try:
            return self._run(fn, inspect, args, kwargs, span)
        finally:
            span.end = time.perf_counter()
            stack.pop()
            self._set_group(parent)
            with self._lock:
                self.spans.append(span)

    def _wrap(self, fn, name, inspect):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer._call(name, inspect, fn, args, kwargs)

        return traced

    def install(self) -> None:
        for owner, attr, name, inspect in targets():
            original = owner.__dict__[attr] if attr in owner.__dict__ else getattr(owner, attr)
            self._patched.append((owner, attr, original))
            setattr(owner, attr, self._wrap(original, name, inspect))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def count_jobs(self) -> None:
        """Attribute Spark jobs to spans (call once the traced work ended)."""
        tracker = self.sc.statusTracker()
        for s in self.spans:
            s.jobs = len(tracker.getJobIdsForGroup(f"{GROUP_PREFIX}{s.id}") or [])

    # -- aggregation --

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def inclusive_jobs(self, span: Span, kids: dict) -> int:
        return span.jobs + sum(self.inclusive_jobs(k, kids) for k in kids.get(span.id, []))

    def outermost(self, prefix: str) -> list[Span]:
        """Spans named ``prefix*`` whose ancestors carry another name
        prefix (a writer call nested in a writer call counts once)."""
        by_id = {s.id: s for s in self.spans}
        out = []
        for s in self.named(prefix):
            p = by_id.get(s.parent)
            while p is not None and not p.name.startswith(prefix):
                p = by_id.get(p.parent)
            if p is None:
                out.append(s)
        return out

    def within(self, span: Span, prefix: str) -> bool:
        """Is ``span`` nested inside a span named ``prefix*``?"""
        by_id = {s.id: s for s in self.spans}
        p = by_id.get(span.parent)
        while p is not None:
            if p.name.startswith(prefix):
                return True
            p = by_id.get(p.parent)
        return False

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                rec = {
                    "id": s.id,
                    "name": s.name,
                    "parent": s.parent,
                    "thread": s.thread,
                    "start": round(s.start, 6),
                    "ms": round(s.ms, 3),
                    "ok": s.ok,
                    "jobs": s.jobs,
                }
                if s.counts:
                    rec["counts"] = s.counts
                fh.write(json.dumps(rec) + "\n")


def registry_delta(before: dict, after: dict) -> dict:
    """Delta of two ``metrics.REGISTRY.snapshot()`` results:
    {op: {"count", "total_ms"}} and {counter: delta}."""
    ops = {}
    for op, a in after["operations"].items():
        b = before["operations"].get(op, {"count": 0, "avg_ms": 0.0})
        n = a["count"] - b["count"]
        if n:
            ops[op] = {
                "count": n,
                "total_ms": a["count"] * a["avg_ms"] - b["count"] * b["avg_ms"],
            }
    counters = {
        k: v - before["counters"].get(k, 0)
        for k, v in after["counters"].items()
        if v - before["counters"].get(k, 0)
    }
    return {"operations": ops, "counters": counters}
