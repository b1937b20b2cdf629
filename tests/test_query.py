"""Top-k BM25 rank-identity: Spark engine (exact AND WAND paths) vs the
single-process oracle, over the reference query set (FIXTURES.md §4)."""

import pytest
from pyspark.sql import functions as F

from marlin_spark.query.engine import SearchEngine

QUERIES = [
    "",                       # 1. empty = match-all
    "test",                   # 2. single exact term
    "worst",                  # 3. rare term
    "aaaa bbbb",              # 6. two-word
    "this best worst",        # 7. three-word
    "state-of-the-art",       # hyphen analyzer path
    "U.S.A.",                 # abbreviation path
    "don't stop",
    "zzzz-not-in-corpus",
]


@pytest.fixture(scope="module")
def engine(spark, tiny_index):
    d, cfg, _ = tiny_index
    return SearchEngine(spark, d, cfg)


def _oracle_ranks(tiny_oracle, q, k=10, mode="any", prefix=False):
    return [
        (d, round(s, 6))
        for d, s in tiny_oracle.search(q, k=k, mode=mode, prefix_last=prefix)
    ]


def _spark_ranks(engine, q, k=10, mode="any", prefix=False, wand=True):
    rows = engine.search(
        q, k=k, mode=mode, prefix_last=prefix, use_wand=wand
    ).collect()
    return [(r["docid"], round(r["score"], 6)) for r in rows]


@pytest.mark.parametrize("q", QUERIES)
def test_rank_identity_exact_path(engine, tiny_oracle, q):
    assert _spark_ranks(engine, q, wand=False) == _oracle_ranks(tiny_oracle, q)


@pytest.mark.parametrize("q", QUERIES)
def test_rank_identity_wand_path(engine, tiny_oracle, q):
    assert _spark_ranks(engine, q, wand=True) == _oracle_ranks(tiny_oracle, q)


def _two_expansion_docs(tiny_oracle, prefix, other):
    """Docs holding two or more expansions of ``prefix`` but not ``other``."""
    hits: dict = {}
    for t, plist in tiny_oracle.postings.items():
        if t.startswith(prefix):
            for d in plist:
                hits[d] = hits.get(d, 0) + 1
    return {d for d, n in hits.items() if n >= 2} - set(
        tiny_oracle.postings.get(other, {})
    )


# "worst tes" / "this tes": a doc holds two tes* expansions but neither
# other word, so under mode='all' + prefix_last it must fail the slot
# check (slots are counted, not hitting terms)
MODE_ALL_QUERIES = ["this best", "aaaa bbbb cccc", "best worst", "worst tes", "this tes"]


@pytest.mark.parametrize("q", MODE_ALL_QUERIES)
def test_rank_identity_mode_all(engine, tiny_oracle, q):
    for prefix in (False, True):
        want = _oracle_ranks(tiny_oracle, q, mode="all", prefix=prefix)
        for wand in (False, True):
            got = _spark_ranks(engine, q, mode="all", prefix=prefix, wand=wand)
            assert got == want, (prefix, wand)


@pytest.mark.parametrize("q", ["tes", "aaa", "stat", "th", "worst tes", "this aaa"])
def test_rank_identity_prefix_last(engine, tiny_oracle, q):
    for wand in (False, True):
        assert _spark_ranks(engine, q, prefix=True, wand=wand) == _oracle_ranks(
            tiny_oracle, q, prefix=True
        )


def test_prefix_applies_to_typed_last_word(engine, tiny_oracle):
    """PREFIX_LAST targets the last word in QUERY order even when it sorts
    first alphabetically (reference: query.c generate_query_terms applies
    the prefix at i == num_words-1, not after sorting)."""
    # 'worst tes': typed-last 'tes' sorts before 'worst'. The expansion
    # must cover tes* terms (test/tesg/testa/...) — under the old bug the
    # prefix landed on 'worst' and every tes*-only doc was missed.
    tes_docs = {
        d
        for t, plist in tiny_oracle.postings.items()
        if t.startswith("tes")
        for d in plist
    }
    worst_docs = set(tiny_oracle.postings.get("worst", {}))
    want = tes_docs | worst_docs
    got_oracle = {
        d for d, _ in tiny_oracle.search("worst tes", k=10_000, prefix_last=True)
    }
    assert got_oracle == want
    assert tes_docs - worst_docs  # the expansion really adds docs
    got_spark = {
        r["docid"]
        for r in engine.search(
            "worst tes", k=10_000, prefix_last=True, use_wand=False
        ).collect()
    }
    assert got_spark == got_oracle


def test_topk_sweep(engine, tiny_oracle):
    for k in (1, 5, 50, 200):
        assert _spark_ranks(engine, "this", k=k) == _oracle_ranks(
            tiny_oracle, "this", k=k
        )


def test_head_term_wand_equals_exact(engine, tiny_oracle):
    # max-df Zipf head term: WAND stress (FIXTURES.md §4 item 8)
    head = max(tiny_oracle.postings, key=lambda t: len(tiny_oracle.postings[t]))
    assert _spark_ranks(engine, head, wand=True) == _oracle_ranks(
        tiny_oracle, head
    )


def test_hydrate_returns_turn_text(engine, tiny_oracle, tiny_rows):
    hits = engine.search("worst", k=3, use_wand=False)
    rows = engine.hydrate(hits).collect()
    assert rows
    by_key = {(r["conv_id"], r["turn_idx"]): r["text"] for r in rows}
    originals = {(r["conv_id"], r["turn_idx"]): r["text"] for r in tiny_rows}
    for key, text in by_key.items():
        assert originals[key] == text  # per-turn text equality invariant


def test_search_many_matches_single(engine, tiny_oracle):
    qs = {"q1": "test", "q2": "worst best", "q3": "aaaa bbbb cccc"}
    out = engine.search_many(qs, k=10)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["docid"], round(r["score"], 6)))
    for qid, q in qs.items():
        expect = [
            (i + 1, d, s) for i, (d, s) in enumerate(_oracle_ranks(tiny_oracle, q))
        ]
        assert sorted(got.get(qid, [])) == expect, qid


def test_search_many_wand_matches_exact(engine, tiny_oracle):
    qs = {
        "q1": "test",
        "q2": "worst best",
        "q3": "aaaa bbbb cccc",
        "q4": "this",
        "q5": "zzznope",
    }
    wand = engine.search_many_wand(qs, k=10)
    got = {}
    for r in wand.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["docid"], round(r["score"], 6))
        )
    for qid, q in qs.items():
        expect = [
            (i + 1, d, s)
            for i, (d, s) in enumerate(_oracle_ranks(tiny_oracle, q))
        ]
        assert sorted(got.get(qid, [])) == expect, qid


def test_search_many_wand_mode_all(engine, tiny_oracle):
    qs = {"a": "this best", "b": "aaaa bbbb"}
    out = engine.search_many_wand(qs, k=10, mode="all")
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["docid"], round(r["score"], 6)))
    for qid, q in qs.items():
        want = _oracle_ranks(tiny_oracle, q, mode="all")
        assert sorted(got.get(qid, [])) == sorted(want), qid


def test_search_many_wand_mode_all_over_64_terms(spark, tmp_path):
    """A conjunctive query with >64 distinct terms must still match: the
    former uint64 slot bitmask aliased slots >= 64 (1 << (slot & 63)),
    so coverage could never reach n_slots and long conjunctive queries
    silently returned zero rows."""
    from marlin_spark.config import EngineConfig
    from marlin_spark.index.build import IndexBuilder
    from marlin_spark.query.engine import SearchEngine

    words = [f"w{i:03d}xq" for i in range(70)]
    rows = [
        ("c0", 0, "user", " ".join(words), None),
        ("c0", 1, "assistant", " ".join(words[:40]), None),  # partial: no match
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )
    d = str(tmp_path / "idx70")
    cfg = EngineConfig(block_size=16, range_size=64, n_term_buckets=8)
    IndexBuilder(spark, d, cfg).build(df, build_id="t70")
    eng = SearchEngine(spark, d, cfg)
    out = eng.search_many_wand({"q": " ".join(words)}, k=5, mode="all").collect()
    assert [r["docid"] for r in out] == [1], out


def test_local_fast_path_rank_identical(engine, tiny_oracle):
    import time

    for q in ["test", "worst best", "state-of-the-art", "this"]:
        want = _oracle_ranks(tiny_oracle, q)
        got = [
            (d, round(s, 6)) for d, s in engine.search_local(q, k=10)
        ]
        assert got == want, q
    # via search() with the adaptive threshold
    for q in ["test", "aaaa bbbb"]:
        got = _spark_ranks(engine, q)  # distributed
        local = engine.search(q, k=10, local_threshold=10_000)
        got_local = [(r["docid"], round(r["score"], 6)) for r in local.collect()]
        assert got_local == got, q
    # latency: driver-local answers are sub-50ms after warmup
    engine.search_local("test", k=10)
    t0 = time.time()
    for _ in range(10):
        engine.search_local("worst best", k=10)
    per_q = (time.time() - t0) / 10
    assert per_q < 0.25, per_q


def test_local_fast_path_modes(engine, tiny_oracle):
    got = [
        (d, round(s, 6))
        for d, s in engine.search_local("this best", k=10, mode="all")
    ]
    assert got == _oracle_ranks(tiny_oracle, "this best", mode="all")
    got = [
        (d, round(s, 6))
        for d, s in engine.search_local("tes", k=10, prefix_last=True)
    ]
    assert got == _oracle_ranks(tiny_oracle, "tes", prefix=True)
    for other in ("worst", "this"):
        assert _two_expansion_docs(tiny_oracle, "tes", other)
    for q in MODE_ALL_QUERIES:
        got = [
            (d, round(s, 6))
            for d, s in engine.search_local(q, k=10, mode="all", prefix_last=True)
        ]
        assert got == _oracle_ranks(tiny_oracle, q, mode="all", prefix=True), q


def _scored(blocks, metas, k=10):
    import pandas as pd

    from marlin_spark.query.wand import make_batch_wand_scorer

    scorer = make_batch_wand_scorer(metas, {"q": len(metas["q"])}, k, avgdl=4.0)
    out = next(scorer(iter([pd.DataFrame(blocks)])))
    return sorted(zip(out["docid"].tolist(), out["score"].round(9).tolist()))


def _block(term, docids, block_id):
    import numpy as np

    from marlin_spark.functions.codec import encode_block

    d = np.asarray(docids, np.int64)
    post, _ = encode_block(d, np.ones(d.size), np.full(d.size, 4), np.empty(0))
    return {
        "term": term, "range_id": 0, "block_id": block_id,
        "first_docid": int(d[0]), "n_docs": int(d.size),
        "max_tfnorm": 10.0, "postings": post,
    }


def test_scorer_gathers_interleaved_segment_blocks():
    """A streaming delta's blocks can share a doc range with the base
    segment and restart block_id at 0, so (term, block_id) order would
    interleave the two segments' docids; the scorer must gather every
    term contribution as if each term were one sorted block."""
    metas = {"q": {"a": (1.0, 0), "b": (2.0, 1)}}
    split = [
        _block("a", [1, 2], 0), _block("a", [3, 4], 1),  # base segment
        _block("a", [10, 11], 0),                          # delta segment
        _block("b", [3, 10], 0),
    ]
    whole = [_block("a", [1, 2, 3, 4, 10, 11], 0), _block("b", [3, 10], 0)]
    assert _scored(split, metas) == _scored(whole, metas)
