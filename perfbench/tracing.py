"""In-memory spans around the engine's public calls.

The tracer wraps module and class attributes of the engine for the
duration of a ``with tracer.installed():`` block and restores them after.
Each span records a name, start, end, parent and the keyword attributes
the wrapper captured. Spans that can launch Spark jobs also tag those
jobs: ``setJobDescription("pb<span id>")`` on entry, the caller's
description restored on exit, so the event-log fold maps each job to the
innermost span that ran it.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass, field

from eventlog import union_s

TAG_PREFIX = "pb"


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def tag(self) -> str:
        return f"{TAG_PREFIX}{self.span_id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, tags_jobs: bool = False, **attrs):
        stack = self._stack()
        with self._lock:
            sp = Span(next(self._ids), name, stack[-1].span_id if stack else None, 0.0, attrs=attrs)
            self.spans.append(sp)
        prior = None
        if tags_jobs:
            prior = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobDescription(sp.tag)
        stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if tags_jobs:
                self.sc.setJobDescription(prior)

    def wrap(self, fn, name: str, tags_jobs: bool, capture=(), keep_result=False):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = {k: kwargs[k] for k in capture if k in kwargs}
            with tracer.span(name, tags_jobs, **attrs) as sp:
                out = fn(*args, **kwargs)
                if keep_result:
                    sp.attrs["result"] = out
                return out

        return traced

    @contextlib.contextmanager
    def installed(self):
        """Wrap the engine's public calls; restore the originals on exit."""
        from caterpillar_spark import cdc
        from caterpillar_spark.sinks.snapshot_table import SnapshotTable
        from caterpillar_spark.streaming import apply as streaming_apply

        targets = [
            (cdc, "replay_chunks", "cdc.replay_chunks", True, ()),
            (cdc, "apply_changes", "cdc.apply_changes", True, ("batch_id",), True),
            (cdc, "segment_footer_stats", "cdc.segment_footer_stats", False, ()),
            (streaming_apply, "apply_changes", "cdc.apply_changes", True, ("batch_id",), True),
            (SnapshotTable, "merge", "snapshot_table.merge", True, ()),
            (SnapshotTable, "read", "snapshot_table.read", False, ()),
            (SnapshotTable, "snapshot", "snapshot_table.snapshot", False, ()),
            (SnapshotTable, "applied_ranges", "snapshot_table.applied_ranges", False, ()),
            (SnapshotTable, "current_version", "snapshot_table.current_version", False, ()),
            (SnapshotTable, "maintain", "snapshot_table.maintain", True, ()),
            (SnapshotTable, "compact", "snapshot_table.compact", True, ()),
        ]
        saved = []
        try:
            for owner, attr, name, tags_jobs, *rest in targets:
                orig = owner.__dict__[attr]
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(orig, name, tags_jobs, *rest))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    # ------------------------------------------------------------ queries
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def subtree_tags(self, root: Span) -> set[str]:
        """Job tags of ``root`` and every span below it."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        tags, todo = set(), [root]
        while todo:
            s = todo.pop()
            tags.add(s.tag)
            todo.extend(children.get(s.span_id, []))
        return tags

    def self_seconds(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct child
        spans cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None and s.end:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if not s.end:
                continue
            covered = union_s(
                [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.span_id, [])]
            )
            out[s.name] = out.get(s.name, 0.0) + s.seconds - covered
        return out

