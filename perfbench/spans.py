"""In-memory span recorder for the traced run.

A span is (id, name, parent, thread, start, end) plus free-form
attributes. Each span also owns a Spark job group, so every Spark job is
attributed to the innermost span that was open on its thread when the
job started; `sparkstats` reads the jobs back from the status stores.

`Tracer.install` wraps the package's public functions where the module
that calls them looks them up (for example `pipeline.build_outputs`, not
`transforms.build_outputs`), and `Tracer.uninstall` restores them.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: str
    start: float  # epoch seconds
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(children.get(s.id, []), s.start, s.end) for s in spans}


class Recorder:
    """Thread-safe span store; `sc` (a SparkContext) is optional so the
    arithmetic can be tested without Spark."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        s = Span(
            id=sid,
            name=name,
            parent=stack[-1].id if stack else None,
            thread=threading.current_thread().name,
            start=time.time(),
            group=f"perfbench-{os.getpid()}-{sid}",
            attrs=attrs,
        )
        prev_group = None
        if self.sc is not None:
            prev_group = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setLocalProperty(JOB_GROUP, s.group)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(JOB_GROUP, prev_group)
            with self._lock:
                self.spans.append(s)

    def save(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([dict(asdict(s), self_s=selfs[s.id]) for s in self.spans], f)


class Tracer:
    """Wraps package entry points in spans; `uninstall` undoes it."""

    def __init__(self, recorder: Recorder):
        self.rec = recorder
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        orig = getattr(owner, attr)
        rec = self.rec

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = attrs_of(*args, **kwargs) if attrs_of else {}
            with rec.span(name, **attrs) as s:
                out = orig(*args, **kwargs)
                if isinstance(out, int):
                    s.attrs["result"] = out
                return out

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from helium_etl_lite_spark import serving, tables
        from helium_etl_lite_spark.etl import pipeline
        from helium_etl_lite_spark.queries import filters, scans

        for mod in (tables, scans, filters):
            self._wrap(mod, "load_table", "tables.open")
        self._wrap(pipeline, "build_outputs", "etl.transform_build")

        def write_attrs(spark, df, path, lo, hi, *a, **k):
            return {"table": os.path.basename(path.rstrip("/")), "lo": lo, "hi": hi}

        self._wrap(pipeline, "write_block_range_idempotent", "etl.write", write_attrs)
        self._wrap(pipeline.CursorStore, "read", "etl.cursor_read")
        self._wrap(pipeline.CursorStore, "write", "etl.cursor_commit")
        self._wrap(pipeline.IncrementalFollower, "init_cursor", "etl.init_cursor")
        self._wrap(pipeline.IncrementalFollower, "run_once", "etl.run_once")
        self._wrap(serving, "register_views", "serve.register_views")

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)
