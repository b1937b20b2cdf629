"""Summary statistics and metric records for the benchmark.

Latencies are reported as a median plus the highest percentile of
``TAIL_LADDER`` that has at least ``MIN_BEYOND`` samples beyond it, with
the sample count. A failed op is one more sample at +inf: it misses every
latency limit, so failures push percentiles up instead of vanishing. A
metric with no successful sample is ``None`` with ``n=0``; it is never
dropped or estimated.
"""

from __future__ import annotations

import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+\Z")
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def check_name(name: str) -> str:
    if not METRIC_NAME.match(name) or len(name) > 64:
        raise ValueError(f"bad metric name {name!r}")
    return name


def _rank(p: float, n: int) -> int:
    # rounding first keeps 99.9% of 10000 at rank 9990, not 9991
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile of an ascending list (p in (0, 100])."""
    if not sorted_vals:
        raise ValueError("percentile of no samples")
    return sorted_vals[_rank(p, len(sorted_vals)) - 1]


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with >= MIN_BEYOND of n samples above it."""
    for p in TAIL_LADDER:
        if n and n - _rank(p, n) >= MIN_BEYOND:
            return p
    return None


def metric(value, unit: str, n: int, **extra) -> dict:
    """One reported metric. ``value`` is None exactly when n == 0."""
    if n == 0:
        value = None
    return {"value": value, "unit": unit, "n": n, **extra}


def latency(samples_ms: list[float], n_failed: int = 0) -> dict:
    """{p50, tail percentile} over successes plus failures at +inf."""
    ok = sorted(samples_ms)
    vals = ok + [math.inf] * n_failed
    out = {"n": len(ok), "failed": n_failed}
    if not ok:
        out.update(p50=None, tail_p=None, tail=None)
        return out
    p50 = percentile(vals, 50.0)
    tp = tail_percentile(len(vals))
    tail = percentile(vals, tp) if tp is not None else None
    out.update(
        p50=None if math.isinf(p50) else p50,
        tail_p=tp,
        tail=None if tail is None or math.isinf(tail) else tail,
    )
    return out


def latency_metrics(name: str, samples_ms: list[float], n_failed: int = 0,
                    tails: tuple[str, ...] = ()) -> dict:
    """``<name>_p50_ms`` plus one ``<name>_<tag>_ms`` per requested tail
    tag (e.g. "p99"); the tag records which percentile the sample count
    actually supports, so a short run reports a lower percentile rather
    than an unsupported one."""
    s = latency(samples_ms, n_failed)
    n = s["n"] if s["p50"] is not None else 0
    out = {check_name(f"{name}_p50_ms"): metric(s["p50"], "ms", n, failed=n_failed)}
    for tag in tails:
        tn = s["n"] if s["tail"] is not None else 0
        out[check_name(f"{name}_{tag}_ms")] = metric(
            s["tail"], "ms", tn, failed=n_failed, percentile=s["tail_p"]
        )
    return out


def median_or_none(vals: list[float]):
    return statistics.median(vals) if vals else None
