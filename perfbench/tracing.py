"""In-memory span tracing for the benchmark's traced runs.

Spans record name, start, end, parent and operation id. They are opened
from the benchmark's own files: around the engine calls the workloads make,
and by wrapping engine functions at their module boundary (``install``),
which swaps module attributes for the life of the process and edits no
engine file. Counts ride on spans. With tracing off every span is a no-op.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op: int = -1
    counts: dict[str, float] = field(default_factory=dict)
    child_time: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        # spans nest on one thread, so children never overlap: their summed
        # durations are exactly the parent interval they cover
        return self.duration - self.child_time


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else -1, op=self.op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            if s.parent >= 0:
                self.spans[s.parent].child_time += s.duration

    def count(self, key: str, value: float) -> None:
        """Add ``value`` to counter ``key`` on the innermost open span."""
        if self.enabled and self._stack:
            counts = self.spans[self._stack[-1]].counts
            counts[key] = counts.get(key, 0) + value

    def per_op(self, ops: set[int]) -> dict[int, dict[str, float]]:
        """Per operation: summed inclusive seconds per span name (as
        ``<name>_s``) and summed counters, over the operations in ``ops``."""
        out: dict[int, dict[str, float]] = {op: {} for op in ops}
        for s in self.spans:
            if s.op not in out:
                continue
            acc = out[s.op]
            acc[f"{s.name}_s"] = acc.get(f"{s.name}_s", 0.0) + s.duration
            for k, v in s.counts.items():
                acc[k] = acc.get(k, 0) + v
        return out

    def layer_medians(self, ops: set[int]) -> dict[str, float]:
        """Median over the operations that touched each layer."""
        values: dict[str, list[float]] = {}
        for acc in self.per_op(ops).values():
            for k, v in acc.items():
                values.setdefault(k, []).append(v)
        return {k: statistics.median(v) for k, v in values.items()}

    def self_times(self, ops: set[int]) -> dict[str, float]:
        """Total self time per span name over ``ops``."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.op in ops:
                out[s.name] = out.get(s.name, 0.0) + s.self_time
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end, "self": s.self_time,
                    "counts": s.counts,
                }) + "\n")


def wrap(tracer: Tracer, owner, attr: str, name: str, counter=None) -> None:
    """Replace ``owner.attr`` with a version that runs inside span ``name``;
    ``counter(result, span)`` may record counts from the result."""
    original = getattr(owner, attr)
    is_classmethod = isinstance(owner.__dict__.get(attr), classmethod)
    func = original.__func__ if is_classmethod else original

    @functools.wraps(func)
    def traced(*args, **kwargs):
        with tracer.span(name):
            result = func(*args, **kwargs)
            if counter is not None:
                counter(result, tracer)
            return result

    setattr(owner, attr, classmethod(traced) if is_classmethod else traced)


def _count_tree(node) -> int:
    return 1 + sum(_count_tree(c) for c in node.children.values())


def install(tracer: Tracer, force_plan) -> None:
    """Wrap the engine's internal layer boundaries. ``force_plan(df)``
    times Catalyst on a DataFrame about to be written by a sink."""
    from config_driven_pyspark_spark import pipeline as pipeline_mod
    from config_driven_pyspark_spark.operators import transform as transform_mod

    wrap(tracer, pipeline_mod.Pipeline, "from_yaml", "pipeline.parse")
    wrap(tracer, pipeline_mod.Pipeline, "run", "pipeline.run")
    wrap(tracer, pipeline_mod, "stage_source", "sources.source")
    wrap(tracer, transform_mod.NestedTransformer, "apply", "transform.apply")
    wrap(tracer, transform_mod, "flatten_schema", "schema.flatten",
         lambda r, t: t.count("schema.leaves", len(r)))
    wrap(tracer, transform_mod, "build_path_tree", "plans.path_tree",
         lambda r, t: t.count("plans.nodes", _count_tree(r) - 1))
    wrap(tracer, transform_mod, "lower_root", "plans.lower")

    sink = pipeline_mod.stage_sink

    @functools.wraps(sink)
    def traced_sink(df, spec):
        with tracer.span("sources.sink"):
            force_plan(df)
            with tracer.span("exec.action"):
                return sink(df, spec)

    pipeline_mod.stage_sink = traced_sink
