"""The two workloads: search and ingest.

Each drives the engine only through its public calls, times every op in
a closed loop with one client thread, then checks the outputs outside
the timed region. A workload's ``metrics`` returns the report (every
end-to-end metric of the workload by name, unit and sample count) and the
values BENCHMARK.json gates; ``layers`` returns its per-layer metrics.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from ops import Recorder
from stats import median_or_none, metric

# ~13.7k turns: sized so that JVM start, set-up, an 8 s measured window
# and the checks fit a run budget of ~45 s on 4 cores (see README.md).
N_CONVS = 3000
K = 10
SETUP_REPS = 3
QUERY_POOL = 400
BATCH_QUERIES = 200
INGEST_BATCH_CONVS = 120
INGEST_DELETES = 20
INGEST_LOCAL_PER_WRITE = 30
INGEST_WAND_PER_WRITE = 1
SCORE_TOL = 1e-6
# the pure-Python oracle costs ms per query, so it checks a seeded sample:
# up to ORACLE_LOCAL local ops and ORACLE_PER_BATCH queries of each batch;
# every wand, filtered and match op is checked
ORACLE_LOCAL = 40
ORACLE_PER_BATCH = 10


class Ctx:
    """Per-run state: the Spark session, seed, work dir and staged inputs."""

    def __init__(self, spark, seed: int, work: str):
        from marlin_spark.config import EngineConfig

        self.spark, self.seed, self.work = spark, seed, work
        self.cfg = EngineConfig(
            n_term_buckets=32,
            build_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
        )
        self._rows = None
        self._oracle = None

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    # ------------------------------------------------------------ inputs
    @property
    def rows(self) -> list[dict]:
        """The corpus rows in Python, from the same generator (and seed)
        the Spark stage uses, in docid order."""
        if self._rows is None:
            from marlin_spark.oracle.corpus import generate

            self._rows = sorted(generate(N_CONVS, seed=self.seed),
                                key=lambda r: (r["conv_id"], r["turn_idx"]))
        return self._rows

    @property
    def text_bytes(self) -> int:
        return sum(len(r["text"].encode("utf-8")) for r in self.rows)

    def oracle(self):
        if self._oracle is None:
            from marlin_spark.oracle.bm25 import OracleIndex, assign_docids

            self._oracle = OracleIndex(assign_docids(self.rows))
        return self._oracle

    def stage_corpus(self) -> str:
        from marlin_spark.corpus_spark import synthesize_transcripts

        out = self.path("corpus")
        synthesize_transcripts(self.spark, N_CONVS, seed=self.seed).write.mode(
            "overwrite").parquet(out)
        return out

    def build(self, corpus: str, index_dir: str, build_id: str) -> dict:
        """IndexBuilder.build with the default (shuffling) docid path; the
        opt-in source_path fast path is not used (see README.md)."""
        from marlin_spark.index.build import IndexBuilder

        shutil.rmtree(index_dir, ignore_errors=True)
        return IndexBuilder(self.spark, index_dir, self.cfg).build(
            self.spark.read.parquet(corpus), build_id)

    def setup(self, once) -> tuple[object, list[float]]:
        """Run the workload's set-up SETUP_REPS times; keep the last result."""
        times, out = [], None
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            out = once(i)
            times.append(time.perf_counter() - t0)
        return out, times


def dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(d) for f in fs)


def call(tracer, name: str, fn, *a, **kw):
    """One engine call, as a child span of the current op."""
    with tracer.span(name):
        return fn(*a, **kw)


def same_ranking(got, want) -> str | None:
    """None when two [(docid, score)] rankings agree, else a reason."""
    g = [(int(d), float(s)) for d, s in got]
    w = [(int(d), float(s)) for d, s in want]
    if [d for d, _ in g] != [d for d, _ in w]:
        return f"docids {[d for d, _ in g][:5]}.. != {[d for d, _ in w][:5]}.."
    for (d, a), (_, b) in zip(g, w):
        if abs(a - b) > SCORE_TOL:
            return f"score of {d}: {a} != {b}"
    return None


def counters_key(c: dict) -> dict:
    """The build counters that must repeat exactly (timings excluded)."""
    return {k: v for k, v in c.items()
            if isinstance(v, int) and not k.startswith(("ms_", "cpu_"))}


# ----------------------------------------------------------- per-layer
def tokenize_pass(ctx, corpus: str) -> tuple[float, int]:
    """Tokenize-only pass over the staged corpus through tokens_col."""
    from pyspark.sql import functions as F

    from marlin_spark.functions.analyzers import tokens_col

    t0 = time.perf_counter()
    n = ctx.spark.read.parquet(corpus).select(
        F.size(tokens_col(F.col("text"), ctx.cfg.analyzer, "index")).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    return time.perf_counter() - t0, int(n)


def _blocks(index_dir: str):
    import pyarrow.dataset as pads

    from marlin_spark.index.catalog import IndexCatalog

    tbl = pads.dataset(IndexCatalog(index_dir).path("postings"), format="parquet",
                       partitioning="hive").to_table(columns=["postings", "n_docs"])
    return tbl["postings"].to_pylist(), tbl["n_docs"].to_numpy()


def decode_pass(index_dir: str) -> float:
    """Driver-side decode_blocks_many over every block of an index: MB/s."""
    from marlin_spark.functions.codec import decode_blocks_many

    bufs, n_docs = _blocks(index_dir)
    t0 = time.perf_counter()
    decode_blocks_many(bufs, n_docs)
    dt = time.perf_counter() - t0
    return sum(len(b) for b in bufs) / 1e6 / dt


def postings_integrity(index_dir: str, n_docs: int) -> str | None:
    """None when every block decodes to docids in [1, n_docs] that rise
    strictly within the block, else a reason."""
    import numpy as np

    from marlin_spark.functions.codec import decode_blocks_many

    docids, _, _, d_start = decode_blocks_many(*_blocks(index_dir))
    if docids.size == 0:
        return "no postings"
    rising = np.diff(docids) > 0
    rising[d_start[1:] - 1] = True  # a block boundary may step down
    if docids.min() < 1 or docids.max() > n_docs or not rising.all():
        return (f"decoded docids span [{docids.min()}, {docids.max()}] for {n_docs} docs, "
                f"{int((~rising).sum())} non-rising steps")
    return None


SPARK_OPS = ("build", "wand", "filtered", "match", "batch", "append", "compact")
SPARK_FIELDS = ("jobs", "task_s", "shuffle_bytes", "spill_bytes", "python_bytes")


def spark_layers(rec: Recorder, by_group: dict) -> dict:
    """spark.<op>.<field>: median per op of that type; 0 when none ran."""
    out = {}
    for kind in SPARK_OPS:
        recs = [by_group.get(o.op_id) or {} for o in rec.of(kind)]
        for f in SPARK_FIELDS:
            vals = [r.get(f, 0) for r in recs]
            unit = {"jobs": "count", "task_s": "s"}.get(f, "B")
            out[f"spark.{kind}.{f}"] = metric(
                statistics.median(vals) if vals else 0, unit, len(vals))
    return out


def build_layers(counters: list[dict]) -> dict:
    """build.* from the builds' returned stage_seconds and counters."""
    def med(key, sub=None):
        vals = [(c["stage_seconds"][sub] if sub else c[key]) for c in counters]
        return statistics.median(vals)

    n = len(counters)
    return {
        "build.docs_s": metric(med(None, "docs"), "s", n),
        "build.postings_s": metric(med(None, "postings"), "s", n),
        "build.dictionary_s": metric(med(None, "dictionary"), "s", n),
        "build.postings_emitted": metric(med("postings_emitted"), "count", n),
        "build.blocks_built": metric(med("blocks_built"), "count", n),
        "build.bytes_postings": metric(med("bytes_postings"), "B", n),
        "codec.bytes_per_posting": metric(
            med("bytes_postings") / med("postings_emitted"), "B/posting", n),
    }


def base_index_check(ctx, index_dir: str) -> dict:
    """The base index holds every input row and its postings decode."""
    import json

    with open(os.path.join(index_dir, "counters.json")) as f:
        n_docs = json.load(f)["n_docs"]
    why = (f"n_docs {n_docs} != {len(ctx.rows)} rows" if n_docs != len(ctx.rows)
           else postings_integrity(index_dir, n_docs))
    return {"base_index": {"made": 1, "mismatches": int(why is not None), "why": why}}


# ------------------------------------------------------------ workloads
class Search:
    """A read-only stream of mixed query types against a built index."""

    name = "search"
    # one round of the closed loop: the Spark-backed ops in a seeded
    # order, each followed by a run of driver-local queries. Spreading
    # every op type over the whole window averages out the host's
    # seconds-scale speed swings (measured at +-30% on the 4-core host)
    SPARK_ROUND = ["batch"] * 3 + ["wand", "filtered", "match"]
    LOCALS_AFTER_EACH = 20

    def __init__(self, ctx):
        from bench import bench_queries

        self.ctx = ctx
        self.corpus = ctx.stage_corpus()
        self.index = ctx.path("index")
        ctx.build(self.corpus, self.index, "base")
        self.pool = list(bench_queries(QUERY_POOL, seed=ctx.seed).values())
        self.role_of = {i + 1: r["role"] for i, r in enumerate(ctx.rows)}

    def setup(self):
        from bench import bench_queries
        from pyspark.sql import functions as F

        from marlin_spark.query.engine import SearchEngine

        ctx = self.ctx
        # untimed warm-up of every Spark-backed op type, twice for the
        # gated batch path: first calls pay worker, codegen and JIT start-up
        # that a serving engine pays once (measured: the first timed batch
        # ran ~25% slower after a single 20-query warm-up batch)
        eng = SearchEngine(ctx.spark, self.index, ctx.cfg)
        q = self.pool[-1]
        eng.search(q, k=K, filter_cond=F.col("role") == "user").collect()
        eng.match_marlin(q, prefix_last=True).collect()
        for i in (1, 2):
            eng.search(self.pool[-i], k=K, use_wand=True).collect()
            eng.search_many_wand(bench_queries(BATCH_QUERIES, seed=ctx.seed + i), k=K).collect()

        def once(i):
            """Set-up: open the engine and answer a first local and WAND query."""
            eng = SearchEngine(ctx.spark, self.index, ctx.cfg)
            eng.search_local(self.pool[i], k=K)
            eng.search(self.pool[i], k=K, use_wand=True).collect()
            return eng

        self.eng, times = ctx.setup(once)
        return times

    def schedule(self):
        """The seeded op sequence; every loop of a run replays it."""
        from bench import bench_queries

        rng = random.Random(f"search:{self.ctx.seed}")
        while True:
            spark_ops = list(self.SPARK_ROUND)
            rng.shuffle(spark_ops)
            kinds = []
            for k in spark_ops:
                kinds += [k] + ["local"] * self.LOCALS_AFTER_EACH
            for kind in kinds:
                if kind == "batch":
                    yield kind, bench_queries(BATCH_QUERIES, seed=rng.randrange(1 << 30))
                elif kind == "filtered":
                    yield kind, (rng.choice(self.pool), rng.choice(["user", "assistant", "tool"]))
                else:
                    yield kind, rng.choice(self.pool)

    def loop(self, rec: Recorder, deadline: float) -> None:
        from pyspark.sql import functions as F

        eng, tr, traced = self.eng, rec.tracer, rec.tracer.enabled
        self.plan_ms: list[float] = []
        self.local_minus_plan_ms: list[float] = []
        self.wand_ranges = [0, 0]  # scored, skipped

        def local(q):
            op = rec.run("local", lambda: call(tr, "SearchEngine.search_local",
                                               eng.search_local, q, k=K), q)
            if traced and op.ok:
                with tr.span("probe.SearchEngine.plan"):
                    t0 = time.perf_counter()
                    eng.plan(q, K)
                    p = (time.perf_counter() - t0) * 1000.0
                self.plan_ms.append(p)
                self.local_minus_plan_ms.append(op.seconds * 1000.0 - p)

        def wand(q):
            def body():
                df = call(tr, "SearchEngine.search", eng.search, q, k=K, use_wand=True)
                rows = call(tr, "DataFrame.collect", df.collect)
                acc = getattr(eng, "_last_wand_counters", None)
                if traced and acc:
                    self.wand_ranges[0] += acc["ranges_scored"].value
                    self.wand_ranges[1] += acc["ranges_skipped"].value
                return [(r["docid"], r["score"]) for r in rows]
            rec.run("wand", body, q)

        def filtered(arg):
            q, role = arg

            def body():
                df = call(tr, "SearchEngine.search", eng.search, q, k=K,
                          filter_cond=F.col("role") == role)
                return [(r["docid"], r["score"]) for r in call(tr, "DataFrame.collect", df.collect)]
            rec.run("filtered", body, arg)

        def match(q):
            def body():
                df = call(tr, "SearchEngine.match_marlin", eng.match_marlin, q, prefix_last=True)
                return {r[0] for r in call(tr, "DataFrame.collect", df.collect)}
            rec.run("match", body, q)

        def batch(qs):
            def body():
                df = call(tr, "SearchEngine.search_many_wand", eng.search_many_wand, qs, k=K)
                return call(tr, "DataFrame.collect", df.collect)
            rec.run("batch", body, qs)

        fns = {"local": local, "wand": wand, "filtered": filtered, "match": match,
               "batch": batch}
        for kind, arg in self.schedule():
            if time.perf_counter() >= deadline:
                break
            fns[kind](arg)

    # ------------------------------------------------------------ checks
    def _want(self, q: str, role: str | None = None):
        ora = self.ctx.oracle()
        if role is None:
            return ora.search(q, k=K)
        hits = ora.search(q, k=ora.n_docs)
        return [h for h in hits if self.role_of[h[0]] == role][:K]

    def check(self, rec: Recorder) -> dict:
        cache: dict = {}

        def want(q, role=None):
            if (q, role) not in cache:
                cache[(q, role)] = self._want(q, role)
            return cache[(q, role)]

        ora = self.ctx.oracle()
        rng = random.Random(f"check:{self.ctx.seed}")
        done = [o for o in rec.ops if not o.error]
        local = [o for o in done if o.kind == "local"]
        checked = [o for o in done if o.kind != "local"] + rng.sample(
            local, min(ORACLE_LOCAL, len(local)))
        for o in checked:
            if o.kind in ("local", "wand"):
                o.mismatch = same_ranking(o.result, want(o.arg))
            elif o.kind == "filtered":
                o.mismatch = same_ranking(o.result, want(*o.arg))
            elif o.kind == "match":
                exp = ora.marlin_match(o.arg, prefix_last=True)
                if o.result != exp:
                    o.mismatch = f"match set {len(o.result)} docs != oracle {len(exp)}"
            elif o.kind == "batch":
                got: dict = {}
                for r in sorted(o.result, key=lambda r: (r["query_id"], r["rank"])):
                    got.setdefault(r["query_id"], []).append((r["docid"], r["score"]))
                for qid in rng.sample(sorted(o.arg), ORACLE_PER_BATCH):
                    why = same_ranking(got.get(qid, []), want(o.arg[qid]))
                    if why:
                        o.mismatch = f"{qid}: {why}"
                        break
        # one seeded query through local, WAND and the exact path (no filter)
        eng, q = self.eng, random.Random(f"cross:{self.ctx.seed}").choice(self.pool)
        wand = [(r["docid"], r["score"]) for r in eng.search(q, k=K, use_wand=True).collect()]
        exact = [(r["docid"], r["score"]) for r in eng.search(q, k=K, use_wand=False).collect()]
        cross = [same_ranking(eng.search_local(q, k=K), wand), same_ranking(exact, wand)]
        return {
            **base_index_check(self.ctx, self.index),
            "oracle": {"made": len(checked), "mismatches": sum(1 for o in checked if o.mismatch)},
            "cross_paths": {"made": len(cross), "mismatches": sum(1 for c in cross if c)},
        }

    def metrics(self, rec: Recorder) -> tuple[dict, dict]:
        ratio = dir_bytes(self.index) / self.ctx.text_bytes
        report = {
            **rec.latency("local"), **rec.latency("wand"),
            **rec.latency("filtered", tails=()), **rec.latency("match", tails=()),
            **rec.rate("batch_wand_qps", "batch", lambda o: len(o.arg), "queries/s"),
            "index_bytes_per_text_byte": metric(ratio, "B/B", 1),
        }
        drive = {
            "throughput_per_s": report["batch_wand_qps"]["value"],
            "index_bytes_per_text_byte": ratio,
        }
        return report, drive

    def layers(self, rec: Recorder) -> dict:
        scored, skipped = self.wand_ranges
        spans = [s for s in rec.tracer.spans if s.name == "SearchEngine.search_many_wand"]
        batch_plan = [(s.end - s.start) * 1000.0 for s in spans]
        return {
            "engine.plan_ms": metric(median_or_none(self.plan_ms), "ms", len(self.plan_ms)),
            "engine.batch_plan_ms": metric(median_or_none(batch_plan), "ms", len(batch_plan)),
            "wand.local_score_ms": metric(median_or_none(self.local_minus_plan_ms), "ms",
                                          len(self.local_minus_plan_ms)),
            "wand.pruned_share": metric(skipped / (scored + skipped) if scored + skipped else None,
                                        "share", len(rec.of("wand")) if scored + skipped else 0),
        }


class Ingest:
    """Appends, deletes and a compaction beside reads, from a restored
    copy of the base index each cycle."""

    name = "ingest"

    def __init__(self, ctx):
        from bench import bench_queries

        self.ctx = ctx
        self.corpus = ctx.stage_corpus()
        self.index = self.base = ctx.path("base")
        ctx.build(self.corpus, self.base, "base")
        self.pool = list(bench_queries(QUERY_POOL, seed=ctx.seed).values())

    # ------------------------------------------------------------ inputs
    def batch_rows(self, cycle: int, b: int) -> tuple[int, list[dict]]:
        """Seed of micro-batch b of a cycle and its rows (new conv ids)."""
        from marlin_spark.oracle.corpus import generate

        bseed = self.ctx.seed * 1000 + cycle * 2 + b
        return bseed, list(generate(INGEST_BATCH_CONVS, seed=bseed))

    def stage_batch(self, cycle: int, b: int) -> tuple[str, list[dict]]:
        from pyspark.sql import functions as F

        from marlin_spark.corpus_spark import synthesize_transcripts

        bseed, rows = self.batch_rows(cycle, b)
        out = self.ctx.path(f"batch{b}")
        synthesize_transcripts(self.ctx.spark, INGEST_BATCH_CONVS, seed=bseed).withColumn(
            "conv_id", F.concat(F.lit(f"new{cycle}.{b}-"), F.col("conv_id"))
        ).write.mode("overwrite").parquet(out)
        return out, rows

    def delete_set(self, cycle: int) -> list[int]:
        """Base docids to delete: the oracle's top hits for one query of
        the cycle (so the tombstone mask is exercised) plus random turns."""
        rng = random.Random(f"ingest-delete:{self.ctx.seed}:{cycle}")
        top = [d for d, _ in self.ctx.oracle().search(rng.choice(self.pool), k=5)]
        rest = rng.sample(range(1, len(self.ctx.rows) + 1), INGEST_DELETES)
        return list(dict.fromkeys(top + rest))[:INGEST_DELETES]

    def restore(self, name: str) -> str:
        d = self.ctx.path(name)
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(self.base, d)
        return d

    # ------------------------------------------------------------ set-up
    def setup(self):
        from marlin_spark.query.engine import SearchEngine
        from marlin_spark.streaming.incremental import IncrementalIndexer

        ctx = self.ctx
        # untimed warm-up of the streaming write path (first micro-batch
        # pays worker and codegen start-up a steady stream does not)
        d = self.restore("warm")
        path, _ = self.stage_batch(-1, 1)
        IncrementalIndexer(ctx.spark, d, ctx.cfg).process_batch(ctx.spark.read.parquet(path), 1)
        eng = SearchEngine(ctx.spark, d, ctx.cfg)
        eng.search(self.pool[0], k=K, use_wand=True).collect()
        eng.search(self.pool[0], k=K, use_wand=False).collect()

        def once(i):
            """Set-up: restore the base, open engine and indexer, answer a
            first local and WAND query."""
            d = self.restore("cycle")
            eng = SearchEngine(ctx.spark, d, ctx.cfg)
            IncrementalIndexer(ctx.spark, d, ctx.cfg)
            eng.search_local(self.pool[i], k=K)
            eng.search(self.pool[i], k=K, use_wand=True).collect()
            return eng

        _, times = ctx.setup(once)
        return times

    # -------------------------------------------------------------- loop
    def loop(self, rec: Recorder, deadline: float) -> None:
        # every loop of a run replays the same cycles from cycle 0
        self.n_cycles = 0
        self.delta_segments: list[int] = []
        self.bytes_ratio: list[float] = []
        self.exact_checks: list = []
        while time.perf_counter() < deadline:
            self.cycle(rec, self.n_cycles)
            self.n_cycles += 1

    def cycle(self, rec: Recorder, c: int) -> None:
        from marlin_spark.index.catalog import IndexCatalog
        from marlin_spark.query.engine import SearchEngine
        from marlin_spark.streaming.incremental import IncrementalIndexer

        ctx, tr = self.ctx, rec.tracer
        d = self.restore("cycle")
        eng = SearchEngine(ctx.spark, d, ctx.cfg)
        inc = IncrementalIndexer(ctx.spark, d, ctx.cfg)
        rng = random.Random(f"ingest:{ctx.seed}:{c}")
        deleted: set[int] = set()
        live_bytes = ctx.text_bytes

        def refresh():
            rec.run("refresh", lambda: call(tr, "SearchEngine.refresh", eng.refresh))

        def queries(tag: str):
            self.delta_segments.append(len(IndexCatalog(d).committed_delta_dirs("postings")))
            qs = [rng.choice(self.pool) for _ in range(INGEST_LOCAL_PER_WRITE)]
            for q in qs:
                rec.run("local", lambda q=q: call(tr, "SearchEngine.search_local",
                                                  eng.search_local, q, k=K),
                        (q, tag, frozenset(deleted)))
            for q in qs[:INGEST_WAND_PER_WRITE]:
                def body(q=q):
                    df = call(tr, "SearchEngine.search", eng.search, q, k=K, use_wand=True)
                    return [(r["docid"], r["score"]) for r in call(tr, "DataFrame.collect",
                                                                  df.collect)]
                rec.run("wand", body, (q, tag, frozenset(deleted)))
            # untimed check: the exact path over the live doc set, same query
            try:
                exact = [(r["docid"], r["score"])
                         for r in eng.search(qs[0], k=K, use_wand=False).collect()]
            except Exception:  # noqa: BLE001  (recorded as a blocked check)
                exact = None
            reads = rec.ops[-(len(qs) + INGEST_WAND_PER_WRITE):]
            self.exact_checks.append((tag, qs[0], exact, reads))

        for b in (1, 2):
            path, rows = self.stage_batch(c, b)
            df = ctx.spark.read.parquet(path)
            rec.run("append", lambda df=df, b=b: call(
                tr, "IncrementalIndexer.process_batch", inc.process_batch, df, b), len(rows))
            live_bytes += sum(len(r["text"].encode("utf-8")) for r in rows)
            refresh()
            queries(f"append{b}")
        dels = self.delete_set(c)
        keys = [(ctx.rows[i - 1]["conv_id"], ctx.rows[i - 1]["turn_idx"]) for i in dels]
        op = rec.run("delete", lambda: call(tr, "IncrementalIndexer.delete_turns",
                                            inc.delete_turns, keys), dels)
        if op.ok:
            deleted |= set(dels)
            live_bytes -= sum(len(ctx.rows[i - 1]["text"].encode("utf-8")) for i in dels)
        refresh()
        queries("delete")
        rec.run("compact", lambda: call(tr, "IncrementalIndexer.compact", inc.compact))
        refresh()
        queries("compact")
        self.bytes_ratio.append(dir_bytes(d) / live_bytes)

    # ------------------------------------------------------------ checks
    def check(self, rec: Recorder) -> dict:
        reads = [o for o in rec.ops if o.kind in ("local", "wand") and o.ok]
        tomb_bad = 0
        for o in reads:
            hit = [d for d, _ in o.result if d in o.arg[2]]
            if hit:
                o.mismatch = f"deleted docids {hit[:5]} returned after delete"
                tomb_bad += 1
        made = blocked = exact_bad = 0
        for _tag, q, exact, ops in self.exact_checks:
            for o in ops:
                if not (o.ok and o.arg[0] == q):
                    continue
                if exact is None:
                    blocked += 1
                    continue
                made += 1
                why = same_ranking(o.result, exact)
                if why:
                    o.mismatch = f"{o.kind} vs exact path: {why}"
                    exact_bad += 1
        return {
            **base_index_check(self.ctx, self.base),
            "exact_path": {"made": made, "blocked_by_error": blocked, "mismatches": exact_bad},
            "tombstones": {"made": len(reads), "mismatches": tomb_bad},
        }

    def metrics(self, rec: Recorder) -> tuple[dict, dict]:
        compact_ok = rec.ok_seconds("compact")
        report = {
            **rec.latency("local"), **rec.latency("wand"),
            **rec.rate("append_turns_per_s", "append", lambda o: o.arg, "turns/s"),
            "compact_s": metric(median_or_none(compact_ok), "s", len(compact_ok),
                                failed=rec.n_failed("compact")),
            **rec.latency("delete", tails=()), **rec.latency("refresh", tails=()),
            "index_bytes_per_text_byte": metric(median_or_none(self.bytes_ratio), "B/B",
                                                len(self.bytes_ratio)),
            "cycles": metric(self.n_cycles, "count", 1),
        }
        drive = {
            "throughput_per_s": report["append_turns_per_s"]["value"],
            "index_bytes_per_text_byte": report["index_bytes_per_text_byte"]["value"],
        }
        return report, drive

    def layers(self, rec: Recorder) -> dict:
        app, dele = rec.ok_seconds("append"), rec.ok_seconds("delete")
        refresh = [s * 1000.0 for s in rec.ok_seconds("refresh")]
        return {
            "incremental.append_s": metric(median_or_none(app), "s", len(app)),
            "incremental.delete_s": metric(median_or_none(dele), "s", len(dele)),
            "incremental.delta_segments": metric(median_or_none(self.delta_segments), "count",
                                                 len(self.delta_segments)),
            "engine.refresh_ms": metric(median_or_none(refresh), "ms", len(refresh)),
        }


WORKLOADS = {w.name: w for w in (Search, Ingest)}
