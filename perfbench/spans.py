"""In-memory spans for the traced run.

Each workload -> op -> engine call gets a span: name, start, end, parent
and the op id its spans share. Spans stay in memory and are written when
the run ends. A span's self time is its duration minus the part of it
that its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "op_id", "attrs")

    def __init__(self, sid, name, start, parent, op_id):
        self.sid, self.name, self.start = sid, name, start
        self.end = None
        self.parent, self.op_id = parent, op_id
        self.attrs: dict = {}

    def as_dict(self) -> dict:
        return {"id": self.sid, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent, "op_id": self.op_id,
                **self.attrs}


class Tracer:
    """Records spans when enabled; a disabled tracer adds one branch per
    call and keeps nothing, so untraced runs measure the engine alone."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = parent.op_id
        s = Span(len(self.spans), name, time.perf_counter(),
                 parent.sid if parent else None, op_id)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s.sid, ()), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.sid] = (s.end - s.start) - covered
        return out

    def summary(self) -> dict[str, dict]:
        """Per span name: count, total and self milliseconds."""
        selfs = self.self_times()
        out: dict[str, dict] = {}
        for s in self.spans:
            r = out.setdefault(s.name, {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
            r["count"] += 1
            r["total_ms"] += (s.end - s.start) * 1000.0
            r["self_ms"] += selfs[s.sid] * 1000.0
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                d = s.as_dict()
                d["self_s"] = selfs[s.sid]
                f.write(json.dumps(d) + "\n")
