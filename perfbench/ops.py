"""The closed-loop op recorder: one client thread issues each op only
after the previous one returned, times it, and keeps its output for the
correctness checks that run after the timed loop."""

from __future__ import annotations

import statistics
import time
from contextlib import nullcontext

from stats import latency_metrics, metric


class Op:
    __slots__ = ("op_id", "kind", "seconds", "error", "result", "arg", "mismatch")

    def __init__(self, op_id, kind, arg):
        self.op_id, self.kind, self.arg = op_id, kind, arg
        self.seconds = None
        self.error = None
        self.result = None
        self.mismatch = None

    @property
    def ok(self) -> bool:
        return self.error is None and self.mismatch is None


class Recorder:
    """Runs ops, records latency and failures. With tracing on, each op
    gets a span and a Spark job group named by its op id."""

    def __init__(self, tracer, store=None):
        self.tracer = tracer
        self.store = store
        self.ops: list[Op] = []

    def run(self, kind: str, fn, arg=None) -> Op:
        op = Op(f"{kind}-{len(self.ops)}", kind, arg)
        self.ops.append(op)
        group = self.store.group(op.op_id) if self.store else nullcontext()
        with self.tracer.span(kind, op.op_id), group:
            t0 = time.perf_counter()
            try:
                op.result = fn()
            except Exception as e:  # an op failure is data, not a crash
                first = (str(e).strip().splitlines() or [""])[0]
                op.error = f"{type(e).__name__}: {first[:300]}"
            op.seconds = time.perf_counter() - t0
        return op

    # ------------------------------------------------------------ results
    def of(self, kind: str) -> list[Op]:
        return [o for o in self.ops if o.kind == kind]

    def ok_seconds(self, kind: str) -> list[float]:
        return [o.seconds for o in self.of(kind) if o.ok]

    def n_failed(self, kind: str | None = None) -> int:
        return sum(1 for o in self.ops if not o.ok and (kind is None or o.kind == kind))

    def latency(self, kind: str, tails=("tail",)) -> dict:
        return latency_metrics(
            kind, [s * 1000.0 for s in self.ok_seconds(kind)], self.n_failed(kind), tails
        )

    def rate(self, name: str, kind: str, units_of, unit: str) -> dict:
        """Median over successful ops of units_of(op) / op seconds."""
        vals = [units_of(o) / o.seconds for o in self.of(kind) if o.ok]
        return {name: metric(statistics.median(vals) if vals else None, unit, len(vals),
                             failed=self.n_failed(kind))}

    def error_rate(self) -> dict:
        n = len(self.ops)
        return {"error_rate": metric(self.n_failed() / n if n else None,
                                     "failed/attempted", n, failed=self.n_failed())}

    def samples_ms(self, max_ops: int = 50) -> dict[str, list[float]]:
        """Per op type, every successful latency (ms) of types that ran at
        most max_ops times, so the within-run spread can be read off."""
        out = {}
        for kind in dict.fromkeys(o.kind for o in self.ops):
            secs = self.ok_seconds(kind)
            if secs and len(self.of(kind)) <= max_ops:
                out[kind] = [round(s * 1000.0, 3) for s in secs]
        return out

    def failures(self, limit: int = 5) -> list[dict]:
        bad = [o for o in self.ops if not o.ok]
        seen, out = set(), []
        for o in bad:
            msg = o.error or o.mismatch
            if (o.kind, msg) in seen:
                continue
            seen.add((o.kind, msg))
            out.append({"kind": o.kind, "error": o.error, "mismatch": o.mismatch,
                        "count": sum(1 for b in bad if b.kind == o.kind
                                     and (b.error or b.mismatch) == msg)})
            if len(out) >= limit:
                break
        return out
