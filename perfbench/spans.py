"""In-memory spans for the traced run.

Spans are recorded from the benchmark's own files, around calls into the
program's public functions; nothing inside the program is instrumented.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    """Collects spans (name, start, end, parent) in memory; ``write`` dumps
    them once at the end. Disabled tracers record nothing. The generator's
    request spans, which carry a request id, are added by the runner."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def _record(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        start = time.time()
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            span = {"id": sid, "name": name, "start": start, "end": time.time(), "parent": parent}
            with self._lock:
                self.spans.append(span)

    def span(self, name: str):
        """Context manager timing one call; yields the span id (None when off)."""
        if not self.enabled:
            return nullcontext(None)
        return self._record(name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part
    of its interval that its direct children cover (overlapping children
    are counted once, and children are clipped to the parent)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cursor = s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out
