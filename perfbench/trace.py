"""In-memory spans around the benchmark's calls into each layer.

A span is ``(id, name, parent, start, end)`` on the monotonic clock.
Spans stay in memory and are written once, when the benchmark exits.
A disabled tracer records nothing, so untraced runs pay nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

from .stats import span_self_time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: Path) -> None:
        """Write the spans, each with its self time, as JSON."""
        if not self.enabled:
            return
        for rec in self.spans:
            kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == rec["id"]]
            rec["self_s"] = span_self_time((rec["start"], rec["end"]), kids)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))
