"""Spans and counters recorded around the benchmark's calls into each
layer of the program.

With tracing off every helper runs the action and nothing else, so the
untraced run pays no measurement cost. With tracing on, spans (name,
start, end, parent, request id) are kept in memory and written out once
at the end; counters read Spark's status store through
``eeg_data_lake_spark.plans.metrics`` around the same action.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from contextlib import contextmanager

from stats import Span, self_times


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.unavailable: dict[str, str] = {}

    @contextmanager
    def span(self, name: str, request: str):
        """Record a span around the block; yields the span's counter
        dict (a throwaway dict when tracing is off)."""
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, request)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s.counters
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def measured(
        self,
        counters: dict,
        action: Callable[[], object],
        shuffle: bool = False,
        spill: bool = False,
        sql: tuple[tuple[str, str, str | None], ...] = (),
    ) -> None:
        """Run ``action`` once and, when tracing, add the requested
        counters to ``counters``: shuffle bytes/records, spill bytes and
        SQL metrics given as (counter name, metric name, node name).
        Each measuring wrapper snapshots the status store before and
        after, so nesting them measures the one execution of ``action``.
        A ``ShuffleMetricsUnavailable`` leaves the counters it prevented
        at None and records why."""
        if not self.enabled:
            action()
            return
        from eeg_data_lake_spark.plans.metrics import (
            ShuffleMetricsUnavailable,
            measure_shuffle,
            measure_spill,
            measure_sql_metric,
        )

        ran = []
        run: Callable[[], object] = lambda: ran.append(action())
        wrappers = []
        if shuffle:
            wrappers.append(("shuffle", lambda f: measure_shuffle(self.spark, f)))
        if spill:
            wrappers.append(("spill", lambda f: measure_spill(self.spark, f)))
        for key, metric, node in sql:
            wrappers.append(
                (key, lambda f, m=metric, n=node: measure_sql_metric(self.spark, f, m, n))
            )
        values: dict[str, object] = {}
        for key, wrap in wrappers:
            run = self._wrap(key, wrap, run, values)
        try:
            run()
        except ShuffleMetricsUnavailable as exc:
            for key, _ in wrappers:
                if key not in values:
                    values[key] = None
                    self.unavailable[key] = str(exc)
            if not ran:
                action()
        for key, v in values.items():
            if key == "shuffle":
                counters["shuffle_bytes"], counters["shuffle_records"] = v or (None, None)
            elif key == "spill":
                counters["spill_bytes"] = None if v is None else sum(v)
            else:
                counters[key] = v

    @staticmethod
    def _wrap(key, wrap, inner, values):
        def run():
            values[key] = wrap(inner)

        return run

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def counter_sum(self, name: str, key: str):
        vals = [s.counters.get(key) for s in self.spans if s.name == name]
        if any(v is None for v in vals):
            return None
        return sum(vals)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, (s, t) in enumerate(zip(self.spans, self_times(self.spans))):
                fh.write(
                    json.dumps(
                        {
                            "id": i, "name": s.name, "start": s.start, "end": s.end,
                            "parent": s.parent, "request": s.request,
                            "self_s": t, "counters": s.counters,
                        }
                    )
                    + "\n"
                )
