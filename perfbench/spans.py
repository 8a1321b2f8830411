"""Spans recorded from outside the library.

A ``Tracer`` wraps public functions by rebinding their module attribute.
Each call becomes a span (name, layer, start, end, parent).  While a span
is open the SparkContext local property ``bench.span`` holds its id, so
every job Spark starts inside the call carries it in the event log; the
parent's id is restored on return.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

from perfbench.eventlog import SPAN_PROPERTY


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark_context):
        self._sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        rec = Span(str(len(self.spans)), name, layer, parent, time.perf_counter())
        self.spans.append(rec)
        self._stack.append(rec.id)
        self._sc.setLocalProperty(SPAN_PROPERTY, rec.id)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            self._sc.setLocalProperty(SPAN_PROPERTY, parent)

    def wrap(self, qualified: str, layer: str) -> None:
        """Rebind ``package.module.function`` to a span-recording wrapper."""
        module_name, attr = qualified.rsplit(".", 1)
        module = importlib.import_module(module_name)
        original = getattr(module, attr)
        name = f"{module_name.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                return original(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._restore.append((module, attr, original))

    def unwrap(self) -> None:
        while self._restore:
            module, attr, original = self._restore.pop()
            setattr(module, attr, original)


# share of the traced loop's wall time the top-level spans must cover
COVERAGE_MIN = 0.99


def span_coverage(spans: list[Span], wall_s: float) -> float:
    """Share of ``wall_s`` covered by the top-level spans, each of which is
    its own self time plus its children's."""
    return sum(s.seconds for s in spans if s.parent is None) / wall_s


def coverage_problems(spans: list[Span], wall_s: float) -> list[str]:
    """Time outside every top-level span is time the trace cannot attribute
    to a layer; it must stay below ``1 - COVERAGE_MIN`` of ``wall_s``."""
    share = span_coverage(spans, wall_s)
    if share < COVERAGE_MIN:
        return [f"top-level spans cover {share:.3f} of the traced wall time, "
                f"below {COVERAGE_MIN}"]
    return []


def write_trace(path: str, header: dict, tracer: Tracer, log) -> None:
    """One trace file: ``header``, then every span and every traced job."""
    doc = dict(header)
    doc["spans"] = [
        {"id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
         "start": s.start, "end": s.end}
        for s in tracer.spans
    ]
    doc["jobs"] = [
        {"id": j.job_id, "span": j.span, "batch": j.batch_id,
         "submitted_ms": j.submitted_ms, "completed_ms": j.completed_ms,
         "stages": j.stages, "tasks": j.tasks,
         **{k: round(v, 3) for k, v in j.totals.items()}}
        for j in sorted(log.jobs.values(), key=lambda j: j.job_id)
    ]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
