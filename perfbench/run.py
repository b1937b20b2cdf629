#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {search,ingest} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from --seed; the
timed loop runs for --seconds; outputs are checked after it. The
second-to-last stdout line is the full report (every end-to-end metric of
the workload with unit and sample count, the check verdicts, host noise
and, when traced, per-layer metrics and span self times). The last line
is {"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer ones.
Everything the run writes stays under .perfbench_work/ (removed at exit)
and .perfbench_out/ (span files) in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["search", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def benchmark_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def import_engine():
    """Import the engine from this checkout only; fail if it is absent."""
    sys.path.insert(0, str(ROOT))
    import marlin_spark

    where = Path(marlin_spark.__file__).resolve()
    if ROOT not in where.parents:
        raise RuntimeError(f"marlin_spark imported from {where}, not from {ROOT}")


def start_spark(work: Path):
    from marlin_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            # keep every job of a run in the status store for the trace
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    from probes import process_tree

    me = os.getpid()
    pids = [p for p in process_tree(me) if p != me]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway else None
    if gateway:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while pids and time.time() < deadline:
        pids = [p for p in pids if _alive(p)]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    pids = [p for p in pids if _alive(p)]
    while pids and time.time() < deadline + 10:
        time.sleep(0.1)
        pids = [p for p in pids if _alive(p)]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run(args, spark, work: Path, rss) -> dict:
    from ops import Recorder
    from probes import StatusStore
    from stats import metric
    from spans import Tracer
    from workloads import (WORKLOADS, Ctx, build_layers, call, counters_key, decode_pass,
                           postings_integrity, spark_layers, tokenize_pass)

    phases, t = {}, time.perf_counter()

    def phase(name):
        nonlocal t
        now = time.perf_counter()
        phases[name] = phases.get(name, 0.0) + now - t
        t = now

    ctx = Ctx(spark, args.seed, str(work))
    w = WORKLOADS[args.workload](ctx)  # stages the seeded inputs (untimed)
    phase("inputs_s")
    setup_times = w.setup()
    phase("setup_s")

    def measured(rec):
        w.loop(rec, time.perf_counter() + args.seconds)
        phase("loop_s")
        checks = w.check(rec)
        phase("checks_s")
        return rec, checks

    rec, checks = measured(Recorder(Tracer(False)))
    recs, all_checks = [rec], [checks]
    report, drive = w.metrics(rec)
    layers, trace_info = {}, {}
    if args.trace:
        tracer = Tracer(True)
        store = StatusStore(spark)
        with tracer.span(f"workload:{args.workload}", op_id=args.workload):
            trec, tchecks = measured(Recorder(tracer, store))
            # the build layers, from one warm rebuild of the base index
            rebuilt = ctx.path("rebuild")
            build = trec.run("build", lambda: call(
                tracer, "IndexBuilder.build", ctx.build, w.corpus, rebuilt, "rebuild"), rebuilt)
        if build.ok:
            with open(os.path.join(w.index, "counters.json")) as f:
                base = json.load(f)
            build.mismatch = ("counters differ from the base build"
                              if counters_key(build.result) != counters_key(base)
                              else postings_integrity(rebuilt, base["n_docs"]))
        tchecks["rebuild"] = {"made": 1, "mismatches": int(build.mismatch is not None)}
        recs.append(trec)
        all_checks.append(tchecks)
        checks = {"untraced": checks, "traced": tchecks}
        treport, _ = w.metrics(trec)
        tok_s, tokens = tokenize_pass(ctx, w.corpus)
        primary = next(k for k in report if k.endswith("_p50_ms"))
        base_ms, traced_ms = report[primary]["value"], treport[primary]["value"]
        layers = {
            "analyzers.tokenize_s": metric(tok_s, "s", 1),
            "analyzers.tokens": metric(tokens, "count", 1),
            **(build_layers([build.result]) if build.ok else {}),
            "codec.decode_mb_per_s": metric(decode_pass(rebuilt) if build.ok else None,
                                            "MB/s", int(build.ok)),
            **w.layers(trec),
            **spark_layers(trec, store.collect()),
            "trace.overhead_ms": metric(
                traced_ms - base_ms if None not in (base_ms, traced_ms) else None,
                "ms", 1, op=primary),
        }
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        span_file = out_dir / f"spans_{args.workload}_seed{args.seed}.jsonl"
        tracer.write(str(span_file))
        trace_info = {"spans": len(tracer.spans), "span_file": str(span_file.relative_to(ROOT)),
                      "self_ms_by_span": tracer.summary()}

    ops = [o for r in recs for o in r.ops]
    report.update({
        "setup_s": metric(statistics.median(setup_times), "s", len(setup_times),
                          reps=setup_times),
        **recs[0].error_rate(),
        "peak_rss_mb": metric(rss.peak / 2**20, "MB", 1, max_workers=rss.max_workers,
                              by_process_mb={k: v / 2**20 for k, v in rss.peak_by.items()}),
    })
    drive["setup_s"] = report["setup_s"]["value"]
    return {
        "report": report, "drive": drive, "layers": layers, "trace": trace_info,
        "checks": checks, "failures": [f for r in recs for f in r.failures()],
        "phases": phases, "samples_ms": recs[0].samples_ms(),
        "correct": all(c["mismatches"] == 0 for chk in all_checks for c in chk.values()),
        "attempted": len(ops), "failed": sum(1 for o in ops if not o.ok),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = benchmark_spec()
    work = ROOT / ".perfbench_work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "spark-local").mkdir()
    # nothing the run writes may leave the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = None

    # stdout carries only the two result lines: everything else the run
    # (or the JVM it starts) prints goes to stderr
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        import_engine()
        from probes import RssSampler, host_noise, host_snapshot

        host0 = host_snapshot()
        t0 = time.perf_counter()
        spark = start_spark(work)
        spark_start_s = time.perf_counter() - t0
        try:
            with RssSampler(period=1.0) as rss:
                res = run(args, spark, work, rss)
        finally:
            stop_spark(spark)
        res["host"] = host_noise(host0, host_snapshot())
        res["wall_s"] = time.perf_counter() - t0
        res["phases"]["spark_start_s"] = spark_start_s
    finally:
        shutil.rmtree(work, ignore_errors=True)
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)

    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, **{k: res[k] for k in (
                  "correct", "attempted", "failed", "checks", "failures", "host", "wall_s",
                  "phases", "samples_ms",
                  "report", "layers", "trace")}}
    source = res["layers"] if args.trace else res["drive"]
    metrics = {}
    for m in spec["per_layer" if args.trace else "end_to_end"]:
        v = source.get(m["name"])
        v = v["value"] if isinstance(v, dict) else v
        if v is None and not args.trace:
            print(json.dumps(report, default=float), file=sys.stderr)
            raise SystemExit(f"end-to-end metric {m['name']} has no sample")
        # per-layer: 0 stands for "no sample" (layer idle in this workload
        # or its ops failed); the report line keeps null with n=0
        metrics[m["name"]] = {"value": 0 if v is None else v, "unit": m["unit"]}
    print(json.dumps(report, default=float))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
