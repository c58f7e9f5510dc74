"""Spans for the traced run, recorded from the benchmark's side of each
layer boundary: micro-batch progress events (one StreamingQueryListener),
sink calls (wrappers around the sink_factory callables) and corpus
stages (each materialized and timed on its own).

Spans stay in memory and are written as JSON lines at the end, each with
its self time: its duration minus the part of it that its child spans
cover. Spans of one micro-batch share the trace id ``<query>:<batchId>``.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

# the order in which a micro-batch runs its phases; progress events give
# only their durations, so child spans are laid out in this order
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        # time spent inside the tracer's own callbacks
        self.own_s = 0.0

    def add(self, name, start, end, trace_id, parent=None, sid=None, **attrs) -> int:
        with self._lock:
            sid = sid or next(self._ids)
            self.spans.append(
                {"id": sid, "parent": parent, "trace": trace_id, "name": name,
                 "start": start, "end": end, **attrs}
            )
        return sid

    @contextmanager
    def span(self, name, trace_id, parent=None, **attrs):
        """Time the block as a span. The yielded dict holds the span's
        ``id`` (for children) and, once the block ends, its duration
        ``dur`` in seconds."""
        with self._lock:
            holder = {"id": next(self._ids)}
        start = time.time()
        try:
            yield holder
        finally:
            end = time.time()
            self.add(name, start, end, trace_id, parent, sid=holder["id"], **attrs)
            holder["dur"] = end - start

    def link(self) -> None:
        """Give spans recorded before their parent existed (a sink call
        runs inside addBatch, whose span arrives with the progress event
        after the batch) the parent named by their ``parent_name``."""
        by_key = {(s["trace"], s["name"]): s["id"] for s in self.spans}
        for s in self.spans:
            name = s.pop("parent_name", None)
            if name is not None and s["parent"] is None:
                s["parent"] = by_key.get((s["trace"], name))

    def with_self_times(self) -> list[dict]:
        self.link()
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out.append({**s, "self_s": round(s["end"] - s["start"] - covered, 6)})
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.with_self_times():
                f.write(json.dumps(s) + "\n")


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressSpans(StreamingQueryListener):
    """One span per micro-batch, with a child per batch phase and a
    ``stateCommit`` child per stateful operator under ``addBatch``."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        t0 = time.perf_counter()
        p = event.progress
        d = p.durationMs
        trace_id = f"{p.name}:{p.batchId}"
        start = _epoch(p.timestamp)
        total = d.get("triggerExecution", 0) / 1000
        root = self.tracer.add(
            "streaming.batch", start, start + total, trace_id, query=p.name,
            batch=p.batchId, input_rows=p.numInputRows,
        )
        at = start
        for phase in BATCH_PHASES:
            ms = d.get(phase)
            if not ms:
                continue
            sid = self.tracer.add(f"streaming.{phase}", at, at + ms / 1000, trace_id, root)
            if phase == "addBatch":
                for i, op in enumerate(p.stateOperators):
                    self.tracer.add(
                        "streaming.stateCommit", at, at + op.commitTimeMs / 1000, trace_id, sid,
                        operator=i, rows=op.numRowsTotal, bytes=op.memoryUsedBytes,
                        dropped_late=op.numRowsDroppedByWatermark,
                    )
            at += ms / 1000
        self.tracer.own_s += time.perf_counter() - t0
