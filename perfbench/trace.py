"""In-memory spans recorded around calls into the package's layers."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent) sharing one trace id; kept in
    memory and written once by ``write``."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for k in sorted(kids.get(s["id"], ()), key=lambda k: k["start"]):
                lo, hi = max(k["start"], cursor), min(k["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["id"]] = s["end"] - s["start"] - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        self_t = self.self_times()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{"trace_id": self.trace_id, "id": s["id"],
                  "name": s["name"], "parent": s["parent"],
                  "start_s": s["start"] - t0, "end_s": s["end"] - t0,
                  "self_s": self_t[s["id"]]} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": spans, **extra},
                      f, indent=1)
