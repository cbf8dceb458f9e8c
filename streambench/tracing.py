"""Spans and counters for the traced run.

Spans live in memory and are written once, at exit. Each has a name, start,
end, parent id and the run id; counters are attached at the same
boundaries. The wrappers time calls into the engine's public functions
from outside: they replace ``tables.load_table``, ``hints.maybe_broadcast``
and ``hints.plan_size_bytes`` on their modules before the registry imports
the operator modules, so names bound there by ``from ... import`` are the
wrapped ones too. The untraced run installs nothing.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = True
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a finished span (used for intervals known only afterwards,
        such as the parts of a trigger from its progress event)."""
        with self._lock:
            span_id = next(self._ids)
            self.spans.append(
                {
                    "id": span_id,
                    "parent": parent,
                    "run": self.run_id,
                    "name": name,
                    "start": start,
                    "end": end,
                    **attrs,
                }
            )
        return span_id

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block as a child of the innermost open span of this
        thread. Yields the attrs dict, so counts can be attached on exit."""
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            span_id = next(self._ids)
        stack.append(span_id)
        start = time.time()
        try:
            yield attrs
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {
                        "id": span_id,
                        "parent": parent,
                        "run": self.run_id,
                        "name": name,
                        "start": start,
                        "end": end,
                        **attrs,
                    }
                )

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += value

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[int, float]:
        """Per span: its duration minus the part of it its children cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, cursor), min(hi, s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, metrics: dict) -> None:
        self_time = self.self_times()
        spans = [{**s, "self_s": self_time[s["id"]]} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "metrics": metrics, "counts": self.counts, "spans": spans}, f)

    # ------------------------------------------------------------ wrappers

    def install(self) -> None:
        """Wrap the source and plan-hint layers. Must run before the
        registry (or any operator module) is imported."""
        import flink_streaming_gnn_spark.plans.hints as hints
        import flink_streaming_gnn_spark.sources.tables as tables

        tracer = self
        load_table = tables.load_table
        memo_attr = tables._DF_MEMO_ATTR

        def traced_load_table(spark, sf_dir, name):
            if not tracer.enabled:
                return load_table(spark, sf_dir, name)
            before = len(getattr(spark, memo_attr, None) or {})
            with tracer.span("sources.load_table", table=name):
                df = load_table(spark, sf_dir, name)
            tracer.count("sources.load_table_calls")
            tracer.count("sources.memo_hits", float(len(getattr(spark, memo_attr, None) or {}) == before))
            return df

        plan_size_bytes = hints.plan_size_bytes

        def traced_plan_size_bytes(df):
            if not tracer.enabled:
                return plan_size_bytes(df)
            with tracer.span("plans.plan_size_bytes"):
                return plan_size_bytes(df)

        maybe_broadcast = hints.maybe_broadcast

        def traced_maybe_broadcast(df, *args, **kwargs):
            if not tracer.enabled:
                return maybe_broadcast(df, *args, **kwargs)
            with tracer.span("plans.maybe_broadcast"):
                out = maybe_broadcast(df, *args, **kwargs)
            tracer.count("plans.maybe_broadcast_calls")
            tracer.count("plans.broadcast_hints", float(out is not df))
            return out

        tables.load_table = traced_load_table
        hints.plan_size_bytes = traced_plan_size_bytes
        hints.maybe_broadcast = traced_maybe_broadcast
