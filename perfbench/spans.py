"""In-memory spans around the benchmark's calls into each engine layer.

A span is (name, start, end, parent, run id). Spans live in a list and
are written out once, when the benchmark ends. Spans are recorded from
the benchmark's side of each layer boundary: the benchmark wraps the
public entry points it calls and, for the duration of a traced segment,
replaces `deploy.ship_package`, `EpochCommitSink.write_epoch` and
`sink.lineage_of` with wrappers that record a span and call the
original. Nothing in the engine is edited.

`foreachBatch` callbacks run on a py4j callback thread, so the parent of
a span opened on a thread with no open span is the current root span
(the `cli.main` or `start_fanout` call that caused it).
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None
        self.run_id = ""

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            sid = len(self.spans)
            sp = Span(sid, name, time.perf_counter(), float("nan"), parent, self.run_id)
            self.spans.append(sp)
        stack.append(sid)
        if root:
            self._root = sid
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if root:
                self._root = parent

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patched(self):
        """Route the engine's internal layer calls through spans."""
        from stellar_etl_spark import deploy
        from stellar_etl_spark.streaming import sink

        originals = [
            (deploy, "ship_package", deploy.ship_package),
            (sink.EpochCommitSink, "write_epoch", sink.EpochCommitSink.write_epoch),
            (sink, "lineage_of", sink.lineage_of),
        ]
        names = {
            "ship_package": "deploy.ship_package",
            "write_epoch": "sink.write_epoch",
            "lineage_of": "sink.lineage_of",
        }
        for owner, attr, fn in originals:
            setattr(owner, attr, self.wrap(fn, names[attr]))
        try:
            yield self
        finally:
            for owner, attr, fn in originals:
                setattr(owner, attr, fn)

    def named(self, name: str, run_ids: set[str] | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (run_ids is None or s.run_id in run_ids)
        ]

    def self_ms(self, span: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted(
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.spans
            if c.parent == span.span_id
        )
        covered, edge = 0.0, span.start
        for a, b in kids:
            a = max(a, edge)
            if b > a:
                covered += b - a
                edge = b
        return (span.end - span.start - covered) * 1000.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class NullTracer(Tracer):
    """Records nothing: the untraced runs' tracer."""

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False):
        yield None

    @contextlib.contextmanager
    def patched(self):
        yield self
