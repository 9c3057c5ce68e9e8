"""In-memory spans around the calls the benchmark makes into each layer.

Spark evaluates lazily, so a stage's work runs inside the
`SnapshotStore.write` that materialises it. The write wrapper therefore
names its span after the crawl stage that owns the table, and sets the
Spark job group to the same name, so the event log's task metrics can
be joined to the span that caused them. Nothing here is imported by
the engine; `instrument` patches the classes for the duration of a
`with` block and restores them on exit.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float  # time.perf_counter()
    end: float
    parent: int | None
    run: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover;
    nested or overlapping children are counted once."""
    return span.duration - covered(
        [(c.start, c.end) for c in children], span.start, span.end
    )


class Tracer:
    def __init__(self, run: str):
        self.run = run
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # SparkContext whose job group follows the span
        # perf_counter → epoch seconds, to line spans up with the
        # event log's millisecond wall-clock stamps
        self.epoch_offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, time.perf_counter(), 0.0, parent,
                  self.run, attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1].name if self._stack else None)

    def _set_group(self, name: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", name)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span.id]
        while todo:
            parent = todo.pop()
            kids = [s for s in self.spans if s.parent == parent]
            out += kids
            todo += [k.id for k in kids]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _pending_stage(store) -> str:
    """The cycle stage whose sink is being written: the first stage of
    the newest segment the manifest has not marked done."""
    cycles = store.read_manifest()["cycles"]
    segs = sorted(s for s in cycles if s != "inject")
    done = cycles[segs[-1]] if segs else {}
    for stage in ("generate", "fetch", "parse", "updatedb"):
        if stage not in done:
            return stage
    return "generate"  # the next segment's generate


def write_layer(store, table: str) -> str:
    """Span name for a `SnapshotStore.write` of `table` inside a cycle:
    the frontier is written twice, by mark_generated and by updatedb."""
    if table == "frontier":
        return "updatedb" if _pending_stage(store) == "updatedb" else "mark_generated"
    if table == "fetchlist":
        return "generate"
    if table == "fetch_results":
        return "fetch"
    return table  # parse_text, parse_data, crawl_parse, seen, linkdb, ...


def _patch(cls, name: str, make):
    orig = getattr(cls, name)
    setattr(cls, name, make(orig))
    return cls, name, orig


@contextmanager
def instrument(tracer: Tracer):
    """Wrap the store's public methods in spans. (The timed cycle runs
    without a seen filter; `workloads.seen_layer` times the filter's
    calls itself.)"""
    from nutch_spark.store import SnapshotStore

    def write(orig):
        def wrapped(self, df, table, *a, **kw):
            layer = write_layer(self, table)
            with tracer.span(layer, table=table) as sp:
                snap = orig(self, df, table, *a, **kw)
            sp.attrs["path"] = self.snapshot_path(table, snap)
            return snap
        return wrapped

    def append(orig):
        def wrapped(self, df, table):
            with tracer.span(f"{table}.append", table=table) as sp:
                snap = orig(self, df, table)
            sp.attrs["path"] = self.snapshot_path(table, snap)
            return snap
        return wrapped

    def read(orig):
        # only names what was read; layers.per_layer counts its files
        # after the run, so a traced read does no more work than an
        # untraced one
        def wrapped(self, spark, table, snapshot=None):
            with tracer.span("store.read", table=table, root=self.root) as sp:
                df = orig(self, spark, table, snapshot)
            sp.attrs["snapshot"] = (self.current_snapshot(table)
                                    if snapshot is None else snapshot)
            return df
        return wrapped

    def commit(orig):
        def wrapped(self, segment, stage, **extra):
            with tracer.span("store.commit", stage=stage):
                return orig(self, segment, stage, **extra)
        return wrapped

    patches = [
        _patch(SnapshotStore, "write", write),
        _patch(SnapshotStore, "append", append),
        _patch(SnapshotStore, "read", read),
        _patch(SnapshotStore, "mark_stage", commit),
    ]
    try:
        yield tracer
    finally:
        for cls, name, orig in reversed(patches):
            setattr(cls, name, orig)


def instrument_app(tracer: Tracer, app) -> None:
    """Wrap every Flask view of a `server.create_app` app in a span
    named after its endpoint."""
    for endpoint, view in list(app.view_functions.items()):
        def wrapped(*a, _view=view, _name=endpoint, **kw):
            with tracer.span(f"server.{_name}"):
                return _view(*a, **kw)
        app.view_functions[endpoint] = wrapped
