"""In-memory span recorder for traced benchmark runs.

A span has a name (its layer), start, end, parent and op id. Spans nest
through a stack, so ``self_times`` can subtract each span's children
and attribute every second to exactly one layer.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op": op,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def mark(self) -> int:
        """Position to pass to ``self_times``/``totals`` to restrict them
        to spans opened after this point."""
        return len(self.spans)

    def totals(self, start: int = 0, end: int | None = None) -> dict[str, float]:
        """Inclusive time per span name."""
        out: dict[str, float] = {}
        for s in self.spans[start:end]:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def self_times(self, start: int = 0, end: int | None = None) -> dict[str, float]:
        """Exclusive time per span name: each span minus its children."""
        spans = self.spans[start:end]
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str, meta: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": spans}, f)


class NoTracer:
    """Stand-in for untraced runs: spans cost one ``nullcontext``."""

    def span(self, name: str, op: str | None = None):
        return nullcontext()


NO_TRACE = NoTracer()
