"""In-memory spans around calls into the engine's layers.

A :class:`Tracer` patches module attributes and ``DataFrame`` methods
with wrappers that record one :class:`Span` per call, and puts every
original back in :meth:`Tracer.restore`.  Nothing inside the engine is
edited: the spans sit at the boundaries the benchmark calls through.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None  # index of the enclosing span
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its direct children
    cover (children clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    return [
        s.duration - _covered(children.get(i, [])) for i, s in enumerate(spans)
    ]


def busy_time(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Part of ``[lo, hi]`` covered by ``intervals``."""
    return _covered(
        [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]
    )


class Tracer:
    """Spans of one traced iteration.  Single-threaded: the engine runs
    its jobs from the calling Python thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, time.time(), parent=parent, attrs=attrs))
        self._open.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._open.pop()
            self.spans[idx].end = time.time()

    def wrap(self, owner: object, attr: str, name: str, attrs_of=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span named
        ``name`` per call.  ``attrs_of(args, kwargs)`` adds attributes;
        every span also records the calling module as ``caller``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = attrs_of(args, kwargs) if attrs_of else {}
            attrs["caller"] = sys._getframe(1).f_globals.get("__name__")
            with tracer.span(name, **attrs):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.named(name))

    def dump(self) -> list[dict]:
        return [
            dict(asdict(s), self_s=t) for s, t in zip(self.spans, self_times(self.spans))
        ]


def _eager(args, kwargs) -> dict:
    """``eager`` argument of ``localCheckpoint`` / ``checkpoint``."""
    return {"eager": bool(kwargs.get("eager", args[1] if len(args) > 1 else True))}


def install_engine_wrappers(tracer: Tracer) -> None:
    """Wrap the layer entry points the benchmark attributes time to.

    ``truncate`` is bound by module-level imports in ``bursts``,
    ``graphs`` and ``pagerank``, so each of those names is wrapped as
    well as the defining module; ``connected_components`` and the
    pipeline stage functions are imported at call time, so wrapping the
    defining module covers every caller."""
    from pyspark.sql.classic.dataframe import DataFrame

    from bigdatamlteamrepo_spark.operators import checkpoint, graph, pagerank
    from bigdatamlteamrepo_spark.queries import bursts, graphs
    from bigdatamlteamrepo_spark.sources import shard_writer

    tracer.wrap(DataFrame, "localCheckpoint", "materialize.local_checkpoint", _eager)
    tracer.wrap(DataFrame, "checkpoint", "materialize.reliable_checkpoint", _eager)
    tracer.wrap(DataFrame, "persist", "materialize.persist")
    tracer.wrap(DataFrame, "cache", "materialize.persist")
    for mod in (checkpoint, bursts, graphs, pagerank):
        tracer.wrap(mod, "truncate", "operators.truncate")
    tracer.wrap(graph, "connected_components", "operators.connected_components")
    tracer.wrap(shard_writer, "write_training_shards", "pipelines.shard_write")


def write_spans(path: str, traces: dict[str, Tracer]) -> None:
    with open(path, "w") as f:
        json.dump({k: t.dump() for k, t in traces.items()}, f)
