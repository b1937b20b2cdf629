"""Batched WAND (search_many_wand) on both sides of its plan choice.

A batch whose query postings (the summed df of each distinct query's
terms) are at most DRIVER_BATCH_POSTINGS is scored on the driver over the
cached blocks; a bigger one runs the scorer as mapInPandas over the doc
ranges. Both are ranked on the driver, and both must rank like the oracle
and like the exact batch path (search_many), on an index of one doc range
and on one of many. The tests force the range-parallel side by lowering
the threshold to 0."""

import itertools
import shutil

import pytest

import marlin_spark.query.engine as engine_mod
from marlin_spark.oracle.bm25 import OracleIndex, assign_docids
from marlin_spark.query.engine import SearchEngine
from marlin_spark.streaming.incremental import IncrementalIndexer

QUERIES = {
    "a": "this best",
    "b": "worst",
    "b2": "worst",            # duplicate: alias fan-out
    "c": "aaaa bbbb cccc",
    "d": "zzznope",           # unknown term
    "e": "test worst zzznope",
    "f": "state-of-the-art",
}
_groups = itertools.count()


def _by_query(df):
    got: dict = {}
    for r in df.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["docid"], round(r["score"], 6))
        )
    return {q: sorted(rows) for q, rows in got.items()}


def _oracle(oracle, queries, k, mode):
    out = {}
    for qid, q in queries.items():
        hits = oracle.search(q, k=k, mode=mode)
        if hits:
            out[qid] = [(i + 1, d, round(s, 6)) for i, (d, s) in enumerate(hits)]
    return out


@pytest.fixture(params=["driver", "ranges"])
def plan_side(request, monkeypatch):
    if request.param == "ranges":
        monkeypatch.setattr(engine_mod, "DRIVER_BATCH_POSTINGS", 0)
    return request.param


@pytest.fixture(scope="module")
def one_range(spark, one_range_index):
    d, cfg = one_range_index
    return SearchEngine(spark, d, cfg)


@pytest.fixture(scope="module")
def many_ranges(spark, tiny_index):
    d, cfg, _ = tiny_index
    return SearchEngine(spark, d, cfg)


def _jobs(spark, eng, queries, **kw):
    """(result rows, Spark jobs the call and its collect ran)."""
    sc = spark.sparkContext
    group = f"batch-wand-{next(_groups)}"
    sc.setJobGroup(group, "search_many_wand")
    try:
        rows = eng.search_many_wand(queries, **kw).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_plan_choice_follows_query_postings(spark, one_range, many_ranges, monkeypatch):
    """Below the threshold no Spark job runs, on one range or many;
    at 0 the scorer runs as Spark jobs and never reads driver blocks."""
    assert one_range._scorer_partitions() == 1
    assert many_ranges._scorer_partitions() > 1
    for eng in (one_range, many_ranges):
        rows, n = _jobs(spark, eng, QUERIES, k=3)
        assert rows and n == 0, n
        with monkeypatch.context() as m:
            m.setattr(engine_mod, "DRIVER_BATCH_POSTINGS", 0)
            m.setattr(eng, "_driver_blocks", None)  # not called on this side
            ranged, n = _jobs(spark, eng, QUERIES, k=3)
        assert n >= 1 and sorted(ranged) == sorted(rows)


@pytest.mark.parametrize("mode", ["any", "all"])
@pytest.mark.parametrize("k", [3, 200])  # 200 exceeds every hit count
def test_batch_rank_identical(one_range, many_ranges, tiny_oracle, plan_side, mode, k):
    want = _oracle(tiny_oracle, QUERIES, k, mode)
    for eng in (one_range, many_ranges):
        got = _by_query(eng.search_many_wand(QUERIES, k=k, mode=mode))
        assert got == want, plan_side
        assert got == _by_query(eng.search_many(QUERIES, k=k, mode=mode))
    if k == 200:
        assert len(got["b"]) == tiny_oracle.df("worst") < k


def test_batch_empty_result(one_range, many_ranges, plan_side):
    """No query term in the dictionary, and known terms that never meet
    under mode='all': both give an empty frame with the batch schema."""
    for eng in (one_range, many_ranges):
        for queries, mode in (({"x": "zzznope"}, "any"), ({"y": "aaaa worst"}, "all")):
            out = eng.search_many_wand(queries, k=5, mode=mode)
            assert out.columns == ["query_id", "docid", "score", "rank"]
            assert out.collect() == []
            assert eng.search_many(queries, k=5, mode=mode).collect() == []


def test_batch_wand_counters(one_range, many_ranges, plan_side):
    for eng in (one_range, many_ranges):
        eng.search_many_wand(QUERIES, k=3).collect()
        acc = eng._last_wand_counters
        scored, skipped = acc["ranges_scored"].value, acc["ranges_skipped"].value
        assert scored > 0 and skipped >= 0, (plan_side, scored, skipped)


def test_batch_with_delta_and_tombstones(spark, one_range_index, tiny_rows, tmp_path, monkeypatch):
    """Before compaction (committed delta batch, tombstones on a base and
    a delta doc) both sides rank like an oracle that scores with the base
    statistics over the live docs, and like search_many."""
    import datetime as dt

    base_dir, cfg = one_range_index
    d = str(tmp_path / "idx")
    shutil.copytree(base_dir, d)
    inc = IncrementalIndexer(spark, d, cfg)
    texts = ["worst best this", "bi worst worst", "this best test", "aaaa bbbb"]
    batch = spark.createDataFrame(
        [("zz-delta", i, "user", t, None, dt.datetime(2025, 1, 1))
         for i, t in enumerate(texts)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    inc.process_batch(batch, 0)
    offset = int(inc.stats["max_docid"])
    streamed = [(offset + i + 1, t) for i, t in enumerate(texts)]
    base = OracleIndex(assign_docids(tiny_rows))
    victims = {base.search("worst", k=1)[0][0], offset + 2}
    inc.delete_docids(sorted(victims))

    nrt = OracleIndex(assign_docids(tiny_rows) + streamed)
    nrt.postings = {
        t: {doc: p for doc, p in plist.items() if doc not in victims}
        for t, plist in nrt.postings.items()
        if t in base.postings
    }
    nrt.n_docs, nrt.avgdl, nrt.df = base.n_docs, base.avgdl, base.df

    eng = SearchEngine(spark, d, cfg)
    assert eng.deleted is not None and eng._delta_dirs("postings")
    for threshold in (engine_mod.DRIVER_BATCH_POSTINGS, 0):
        monkeypatch.setattr(engine_mod, "DRIVER_BATCH_POSTINGS", threshold)
        for mode in ("any", "all"):
            got = _by_query(eng.search_many_wand(QUERIES, k=5, mode=mode))
            assert got == _oracle(nrt, QUERIES, 5, mode), (threshold, mode)
            assert got == _by_query(eng.search_many(QUERIES, k=5, mode=mode))
