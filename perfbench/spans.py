"""In-memory span recorder and the wrappers that time the engine's layers
from outside.

A span is one call into a layer: name, start, end, parent span and run id.
Spans stay in memory while the benchmark runs and are written out once at
the end. Wrappers replace a public function or method for the duration of
a ``with`` block and restore the original on exit, so nothing outside the
traced run sees them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections.abc import Callable, Iterator
from typing import Any


class Recorder:
    """Collects spans. ``run_id`` tags every span opened while it is set."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self.run_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[dict[str, Any]]:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrapper(self, name: str, fn: Callable, *, when=None) -> Callable:
        """``fn`` wrapped in a span. ``when(*args, **kwargs)`` may veto the
        span for calls that run no Spark action (a cache hit)."""

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if when is not None and not when(*args, **kwargs):
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    # -- summaries -----------------------------------------------------------

    def named(self, name: str, run: str | None = None) -> list[dict[str, Any]]:
        return [
            s for s in self.spans
            if s["name"] == name and (run is None or s["run"] == run)
        ]

    def durations(self, name: str, run: str | None = None) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name, run)]

    def total(self, name: str, run: str | None = None) -> float:
        return sum(self.durations(name, run))

    def self_time(self, span: dict[str, Any]) -> float:
        """Duration minus the part of the span's interval its children
        cover (children may overlap; their union is subtracted once)."""
        kids = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.spans
            if c["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


@contextlib.contextmanager
def patched(targets: list[tuple[Any, str, Callable]]) -> Iterator[None]:
    """Set each ``(owner, attribute, replacement)`` and restore the
    originals on exit, in reverse order."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, repl in targets:
            setattr(owner, attr, repl)
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

