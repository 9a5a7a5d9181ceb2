"""Span tracer for the traced (``--trace 1``) runs.

Spans are recorded around calls into the package's public functions from
the benchmark's side only — a function is replaced (``patch_attr``) in the
module namespace that calls it or on the object that owns it, and put back
afterwards; the package's source is never edited.

Each span carries name, start, end, parent, op id (the epoch or batch it
belongs to) and free-form attributes. Spark jobs are attributed exactly:
every open span owns a job group, so ``statusTracker`` reports the jobs
that ran while the span was the innermost one (its *exclusive* jobs).

Spark is lazy: a span around a write covers every lazy layer upstream of
it, so spans are named by what they cover, not by the function that built
the plan.

Keeping spans in memory and writing them once at the end keeps file I/O
out of the measured loop. The tracer's own bookkeeping (job-group calls,
status reads, filesystem scans) is timed separately as ``overhead``.
"""

from __future__ import annotations

import functools
import json
import time


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        self.op: str | None = None
        self.overhead: dict[str, float] = {}
        self._restore: list = []

    # -- bookkeeping clock ----------------------------------------------------
    def _charge(self, t0: float) -> None:
        if self.op is not None:
            self.overhead[self.op] = self.overhead.get(self.op, 0.0) + (
                time.perf_counter() - t0
            )

    # -- spans ----------------------------------------------------------------
    def begin(self, name: str, **attrs) -> dict | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        sid = self._next
        self._next += 1
        span = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
            "start": t0,
            "end": None,
            "jobs": 0,
            "attrs": dict(attrs),
        }
        self._stack.append(span)
        self.spans.append(span)
        self.sc.setJobGroup(f"perfbench-{sid}", name)
        self._charge(t0)
        span["start"] = time.perf_counter()
        return span

    def end(self, span: dict | None, **attrs) -> None:
        if span is None:
            return
        t_end = time.perf_counter()
        if not self._stack or self._stack[-1] is not span:
            raise RuntimeError(f"span {span['name']!r} ended out of nesting order")
        self._stack.pop()
        span["end"] = t_end
        span["attrs"].update(attrs)
        span["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(f"perfbench-{span['id']}"))
        if self._stack:
            parent = self._stack[-1]
            self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._charge(t_end)

    def close_open(self, name: str) -> None:
        """End the innermost span if it has ``name`` (a gap span that the
        next instrumented call closes)."""
        if self._stack and self._stack[-1]["name"] == name:
            self.end(self._stack[-1])

    def abandon(self) -> None:
        """Drop spans still open (they stay in ``spans`` with no end)."""
        self._stack.clear()
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def bookkeeping(self):
        """Context for tracer-side work inside an op (charged as overhead)."""
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.t0 = time.perf_counter()

            def __exit__(self, *exc):
                tracer._charge(self.t0)
                return False

        return _Ctx()

    # -- instrumentation -------------------------------------------------------
    def wrap(self, fn, name, before=None, after=None):
        """Time ``fn`` as span ``name`` (a string, or a callable of the call's
        args returning the name). ``before(args, kwargs)`` runs first;
        ``after(span, result, args, kwargs)`` may add attributes."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            if before is not None:
                before(args, kwargs)
            label = name(*args, **kwargs) if callable(name) else name
            span = tracer.begin(label)
            try:
                result = fn(*args, **kwargs)
            except BaseException:
                span["attrs"]["error"] = True
                tracer.end(span)
                raise
            if after is not None:
                after(span, result, args, kwargs)
            tracer.end(span)
            return result

        return traced

    def patch_attr(self, owner, attr: str, wrapper) -> None:
        original = getattr(owner, attr)
        self._restore.append((owner, attr, original))
        setattr(owner, attr, wrapper(original))

    def unpatch(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    # -- output ----------------------------------------------------------------
    def write(self, path: str, t0: float, meta: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"meta": meta}) + "\n")
            for s in self.spans:
                rec = dict(s)
                rec["start"] = round(s["start"] - t0, 6)
                rec["end"] = None if s["end"] is None else round(s["end"] - t0, 6)
                f.write(json.dumps(rec, default=str) + "\n")

    # -- derived tables ----------------------------------------------------------
    def op_spans(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op and s["end"] is not None]


def span_seconds(spans: list[dict], prefix: str) -> float:
    """Total duration of spans whose name starts with ``prefix``."""
    return sum(s["end"] - s["start"] for s in spans if s["name"].startswith(prefix))


def self_seconds(spans: list[dict], span: dict) -> float:
    """Span duration minus the time its direct children cover."""
    kids = sum(s["end"] - s["start"] for s in spans if s["parent"] == span["id"])
    return (span["end"] - span["start"]) - kids
