"""In-memory spans around the engine's layer entry points.

The benchmark traces from its own files: :meth:`Tracer.wrap` swaps a
module- or class-level function for a wrapper that records a span and
calls through. The engine's code is not edited; ``Tracer.restore`` puts
every original back. While ``Tracer.active`` is false a wrapper only calls
through, so one run can time traced and untraced operations side by side.

A span records its id, name, start, end, parent span id and request id (the
timed operation it belongs to). Spans stay in memory and are written out once,
at the end of the run.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import Any


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.active = False
        self.request: str | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, name: str, attrs: dict[str, Any] | None = None) -> Iterator[dict[str, Any]]:
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            "attrs": {} if attrs is None else attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        observe: Callable[[dict[str, Any], tuple, Any], None] | None = None,
        enter: Callable[[dict[str, Any], tuple], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` by a traced wrapper. ``enter(span_attrs,
        args)`` and ``observe(span_attrs, args, result)`` record counts at
        the same boundary, just before and just after the span."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            attrs: dict[str, Any] = {}
            if enter is not None:
                enter(attrs, args)
            with tracer.span(name, attrs):
                out = orig(*args, **kwargs)
            if observe is not None:
                observe(attrs, args, out)
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def spans_of(self, requests: set[str]) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["request"] in requests]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def self_times(spans: list[dict[str, Any]], all_spans: list[dict[str, Any]]) -> dict[str, float]:
    """Total self time (s) per span name over ``spans``: a span's duration
    minus the part its direct children cover (children of one span run
    one after another, so their durations add up without overlap)."""
    child_s: dict[int, float] = defaultdict(float)
    for s in all_spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += (s["end"] - s["start"]) - child_s[s["id"]]
    return dict(out)


def total_times(spans: list[dict[str, Any]]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += s["end"] - s["start"]
    return dict(out)


class StageMetrics:
    """Shuffle bytes from Spark's own stage metrics, read through the
    status REST API of the live UI (enabled in traced runs only)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._url = f"{self._sc.uiWebUrl}/api/v1/applications/{self._sc.applicationId}/stages"
        self._seen = self._max_stage()

    def _stages(self) -> list[dict[str, Any]]:
        # the status store is fed by an asynchronous listener bus: drain it
        # so stages of a job that just returned are already listed
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        with urllib.request.urlopen(self._url + "?status=complete", timeout=30) as resp:
            return json.load(resp)

    def _max_stage(self) -> int:
        return max((s["stageId"] for s in self._stages()), default=-1)

    def shuffle_write_bytes_since_last(self) -> int:
        """Shuffle bytes written by stages completed since the last call."""
        stages = [s for s in self._stages() if s["stageId"] > self._seen]
        self._seen = max([self._seen] + [s["stageId"] for s in stages])
        return int(sum(s.get("shuffleWriteBytes", 0) for s in stages))
