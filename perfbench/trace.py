"""In-memory spans for the traced run, and the Spark event-log reader.

The traced run wraps the engine's public calls from outside: ``patch``
replaces a function attribute with a wrapper that opens a span, and
``Tracer.restore`` puts every original back.  Spans stay in memory and
are written out once at the end.  Each records its name, start, end,
parent span and op id; a layer's self time is its duration minus the
part of it that its child spans cover.

Spark job counts and times come from the event log the traced session
writes (``spark.eventLog.enabled``), attributed to ops by time: the
workloads are closed loops with one client, so the jobs that start
inside an op's interval are that op's jobs.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder.  ``enabled=False`` makes ``span`` a bare yield,
    so workload code can call it unconditionally."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        #: the op the main loop is running; callbacks from Spark's
        #: streaming thread (foreachBatch) attach to it
        self.op_span: dict | None = None
        self._undo: list = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        """Record one span; ``op`` names a new op (a top-level span)."""
        if not self.enabled:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else self.op_span
        rec = {
            "id": len(self.spans), "name": name,
            "parent": None if parent is None else parent["id"],
            "op": op if op is not None else (parent or {}).get("op"),
            "start": time.time(), "end": None, **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        st.append(rec)
        if op is not None:
            self.op_span = rec
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            st.pop()
            if op is not None:
                self.op_span = None

    def patch(self, owner, attr: str, name: str, outcome=None) -> None:
        """Wrap ``owner.attr`` in a span named ``name``.  ``outcome``
        maps the call's result to a value stored on the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(name) as rec:
                out = orig(*a, **kw)
                if outcome is not None:
                    rec["outcome"] = outcome(out)
                return out

        self.replace(owner, attr, wrapper)

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until ``restore``."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        if s["end"] is None:
            continue
        lo, hi = s["start"], s["end"]
        clipped = [(max(a, lo), min(b, hi)) for a, b in kids.get(s["id"], [])]
        out[s["id"]] = (hi - lo) - _union_len([c for c in clipped if c[1] > c[0]])
    return out


def read_jobs(event_dir: str) -> list[tuple[float, float]]:
    """(submit, complete) epoch seconds of every job in the event logs
    under ``event_dir``."""
    starts: dict[int, float] = {}
    jobs = []
    paths = sorted(
        os.path.join(d, f) for d, _sub, files in os.walk(event_dir) for f in files
        if not f.startswith(".")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJob' not in line[:40]:
                    continue
                ev = json.loads(line)
                if ev["Event"] == "SparkListenerJobStart":
                    starts[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                elif ev["Event"] == "SparkListenerJobEnd":
                    t0 = starts.pop(ev["Job ID"], None)
                    if t0 is not None:
                        jobs.append((t0, ev["Completion Time"] / 1000.0))
    return jobs


def jobs_in(jobs: list[tuple[float, float]], lo: float, hi: float):
    """(count, busy seconds) of the jobs submitted inside [lo, hi]; busy
    time is the union of their intervals clipped to the op."""
    mine = [(a, min(b, hi)) for a, b in jobs if lo <= a <= hi]
    return len(mine), _union_len([m for m in mine if m[1] > m[0]])
