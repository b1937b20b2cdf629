"""Self-tests of the benchmark's helpers (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import pytest  # noqa: E402

from ops import Recorder  # noqa: E402
from spans import Tracer  # noqa: E402
from stats import (  # noqa: E402
    METRIC_NAME,
    latency,
    latency_metrics,
    metric,
    percentile,
    tail_percentile,
)


# ------------------------------------------------------ percentile rule
@pytest.mark.parametrize("n, want", [
    (0, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
    (200, 95.0), (999, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want
    if want is not None:
        assert n - math.ceil(round(want * n / 100, 9)) >= 10


def test_percentile_is_nearest_rank():
    vals = list(range(1, 101))
    assert percentile(vals, 50) == 50
    assert percentile(vals, 90) == 90
    assert percentile(vals, 100) == 100


def test_failures_count_as_missing_every_limit():
    s = latency([1.0] * 60, n_failed=40)
    assert s["n"] == 60 and s["failed"] == 40
    assert s["p50"] == 1.0
    assert s["tail_p"] == 90.0 and s["tail"] is None  # p90 lands on a failure
    assert latency([1.0] * 4, n_failed=6)["p50"] is None


# ------------------------------------------------------- null reporting
def test_no_success_reports_null_with_n_zero():
    assert metric(3.0, "s", 0) == {"value": None, "unit": "s", "n": 0}
    m = latency_metrics("wand", [], n_failed=3, tails=("tail",))
    assert m["wand_p50_ms"]["value"] is None and m["wand_p50_ms"]["n"] == 0
    assert m["wand_p50_ms"]["failed"] == 3
    assert m["wand_tail_ms"]["value"] is None and m["wand_tail_ms"]["n"] == 0


def test_rate_of_all_failed_ops_is_null():
    rec = Recorder(Tracer(False))

    def boom():
        raise RuntimeError("CONFLICTING_DIRECTORY_STRUCTURES")

    for _ in range(3):
        rec.run("compact", boom)
    r = rec.rate("compact_per_s", "compact", lambda o: 1, "1/s")["compact_per_s"]
    assert r["value"] is None and r["n"] == 0 and r["failed"] == 3
    assert rec.error_rate()["error_rate"]["value"] == 1.0
    assert rec.failures()[0]["count"] == 3


# -------------------------------------------------------- metric names
def test_metric_names_are_well_formed():
    from workloads import build_layers, spark_layers

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    declared = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    assert len(declared) == len(set(declared))
    names = declared + [w["name"] for w in spec["workloads"]]
    names += list(latency_metrics("local", [1.0], tails=("tail",)))
    names += list(spark_layers(Recorder(Tracer(False)), {}))
    c = {"stage_seconds": {"docs": 1.0, "postings": 1.0, "dictionary": 1.0},
         "postings_emitted": 10, "blocks_built": 2, "bytes_postings": 30}
    names += list(build_layers([c]))
    for n in names:
        assert METRIC_NAME.match(n) and len(n) <= 64, n


def test_every_per_layer_metric_is_produced():
    """The per-layer names in BENCHMARK.json are the ones the code emits."""
    from workloads import build_layers, spark_layers

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    c = {"stage_seconds": {"docs": 1.0, "postings": 1.0, "dictionary": 1.0},
         "postings_emitted": 10, "blocks_built": 2, "bytes_postings": 30}
    emitted = set(spark_layers(Recorder(Tracer(False)), {})) | set(build_layers([c])) | {
        "analyzers.tokenize_s", "analyzers.tokens", "codec.decode_mb_per_s",
        "engine.plan_ms", "engine.batch_plan_ms", "wand.local_score_ms",
        "wand.pruned_share", "incremental.append_s", "incremental.delete_s",
        "incremental.delta_segments", "engine.refresh_ms", "trace.overhead_ms"}
    assert {m["name"] for m in spec["per_layer"]} == emitted


# ---------------------------------------------------------- seeded inputs
class _Conf:
    def get(self, _key):
        return "8"


class _Spark:
    conf = _Conf()


def _ctx(seed):
    from workloads import Ctx

    return Ctx(_Spark(), seed, "/nonexistent")


def test_seed_gives_identical_corpus_queries_and_deletes():
    from bench import bench_queries

    from workloads import Ingest, Search

    a, b, c = _ctx(3), _ctx(3), _ctx(4)
    assert a.rows == b.rows and a.rows != c.rows
    assert bench_queries(50, seed=3) == bench_queries(50, seed=3)

    def ingest(ctx):
        w = Ingest.__new__(Ingest)
        w.ctx, w.pool = ctx, list(bench_queries(400, seed=ctx.seed).values())
        return w

    ia, ib, ic = ingest(a), ingest(b), ingest(c)
    assert ia.delete_set(0) == ib.delete_set(0) != ic.delete_set(0)
    assert ia.batch_rows(0, 1) == ib.batch_rows(0, 1)
    assert ia.batch_rows(0, 1) != ia.batch_rows(0, 2)

    def ops(ctx, n=300):
        w = Search.__new__(Search)
        w.ctx, w.pool = ctx, list(bench_queries(400, seed=ctx.seed).values())
        it = w.schedule()
        return [next(it) for _ in range(n)]

    assert ops(a) == ops(b) != ops(c)


# ----------------------------------------------------------------- spans
def test_self_time_subtracts_children():
    t = Tracer(True)
    with t.span("op", op_id="op-0"):
        with t.span("child"):
            pass
        with t.span("child"):
            pass
    op, c1, c2 = t.spans
    assert c1.parent == op.sid and c1.op_id == "op-0"
    selfs = t.self_times()
    want = (op.end - op.start) - (c1.end - c1.start) - (c2.end - c2.start)
    assert selfs[op.sid] == pytest.approx(want, abs=1e-9)
    assert Tracer(False).spans == []
