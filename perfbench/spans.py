"""Spans around the calls the copier makes into each layer, recorded from
the benchmark's own code.

``Tracer.install`` replaces module attributes (``db_copier.apply_subsetting``,
``propagation.self_ref_closure``, ...) with wrappers; ``uninstall`` puts the
originals back. Each wrapper records a span (name, label, start, end,
parent) in memory and sets the Spark job group to
``<run>|<span name>|<label>`` while the call runs, so every Spark job,
including those fired from ``DbCopier``'s thread pool, maps to the span and
table that caused it. Parents come from a per-thread span stack.
"""

from __future__ import annotations

import itertools
import threading
import time
from dataclasses import asdict, dataclass

from simple_anonymizer_spark.plans import coverage, db_copier, propagation
from simple_anonymizer_spark.sources import jdbc

# (module, attribute, span name): the functions the copier calls, plus the
# closure's private driver path, whose span tells which closure path ran.
TARGETS = [
    (db_copier, "add_keys", "copier.add_keys"),
    (coverage, "validate", "copier.validate"),
    (db_copier, "sort_tables", "copier.sort_tables"),
    (db_copier, "apply_subsetting", "propagation.apply_subsetting"),
    (propagation, "self_ref_closure", "propagation.self_ref_closure"),
    (propagation, "_closure_on_driver", "propagation.closure_on_driver"),
    (db_copier, "apply_spec", "compiler.apply_spec"),
    (jdbc, "write_jdbc", "jdbc.write_jdbc"),
]
# Span names whose first positional argument names the table.
_TABLE_ARG = {"source.read_table", "sink.write_table", "copier.add_keys"}


@dataclass
class Span:
    id: int
    name: str
    label: str
    run: int
    start: float
    end: float
    parent: int | None
    thread: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it covered by its children.
    Children of one span may overlap each other (thread pool), so covered
    time is the length of the union of the child intervals, clipped to
    the parent."""
    by_parent: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            by_parent.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(by_parent.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


class Tracer:
    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[Span] = []
        self.run = -1
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            label = str(args[0]) if name in _TABLE_ARG and args else ""
            stack = self._stack()
            parent = stack[-1][0] if stack else None
            span_id = next(self._ids)
            group = f"{self.run}|{name}|{label}"
            self.sc.setJobGroup(group, group)
            stack.append((span_id, group))
            start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.perf_counter()
                stack.pop()
                if stack:
                    self.sc.setJobGroup(stack[-1][1], stack[-1][1])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                with self._lock:
                    self.spans.append(Span(span_id, name, label, self.run, start,
                                           end, parent, threading.current_thread().name))

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        for module, attr, name in TARGETS:
            original = getattr(module, attr)
            self._saved.append((module, attr, original))
            setattr(module, attr, self.wrap(name, original))

    def uninstall(self) -> None:
        for module, attr, original in reversed(self._saved):
            setattr(module, attr, original)
        self._saved.clear()

    def to_json(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [{**asdict(s), "self": selfs[s.id]} for s in self.spans]
