"""Zero-shuffle dense-id fast path vs the shuffling general path.

The fast path (operators/docids.py:dense_ids_over_sorted_files) assigns
docid = file_offset + _metadata.row_index + 1 over a range-sorted
parquet table, proven disjoint from footer stats. It must agree
EXACTLY with with_dense_ids (global rank over (conv_id, turn_idx)) and
refuse (return None) any layout it cannot prove.
"""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def sorted_corpus(spark, tmp_path_factory):
    from marlin_spark.corpus_spark import synthesize_transcripts

    d = str(tmp_path_factory.mktemp("sorted_corpus") / "t")
    synthesize_transcripts(spark, 300, partitions=6).write.parquet(d)
    return d


def test_layout_proof_accepts_sorted(sorted_corpus):
    from marlin_spark.operators.docids import sorted_files_layout

    layout = sorted_files_layout(sorted_corpus, "conv_id")
    assert layout is not None and len(layout) >= 2
    # offsets are a cumsum of file row counts in key order
    acc = 0
    for _base, n, off in layout:
        assert off == acc
        acc += n


def test_fast_path_equals_general_path(spark, sorted_corpus):
    from marlin_spark.operators.docids import (
        dense_ids_over_sorted_files,
        with_dense_ids,
    )

    fast = dense_ids_over_sorted_files(
        spark, sorted_corpus, ["conv_id", "turn_idx"], "docid"
    )
    assert fast is not None
    general = with_dense_ids(
        spark.read.parquet(sorted_corpus), ["conv_id", "turn_idx"], "docid"
    )
    a = {
        (r["conv_id"], r["turn_idx"]): r["docid"]
        for r in fast.select("conv_id", "turn_idx", "docid").collect()
    }
    b = {
        (r["conv_id"], r["turn_idx"]): r["docid"]
        for r in general.select("conv_id", "turn_idx", "docid").collect()
    }
    assert a == b
    assert sorted(a.values()) == list(range(1, len(a) + 1))  # dense, 1-based


def test_layout_proof_rejects_overlapping_files(spark, tmp_path):
    """A hash-partitioned write interleaves conv ranges across files —
    the footer proof must fail and send callers to the general path."""
    from marlin_spark.corpus_spark import synthesize_transcripts
    from marlin_spark.operators.docids import sorted_files_layout

    d = str(tmp_path / "unsorted")
    (synthesize_transcripts(spark, 200, partitions=4)
     .repartition(4, "turn_idx").write.parquet(d))
    assert sorted_files_layout(d, "conv_id") is None


def test_build_on_sorted_source_matches_oracle(spark, tmp_path, sorted_corpus):
    """End-to-end: a build given source_path produces the oracle's docid
    assignment (rank of (conv_id, turn_idx)) in its doc store."""
    from marlin_spark.config import EngineConfig
    from marlin_spark.index.build import IndexBuilder

    idx = str(tmp_path / "idx")
    cfg = EngineConfig(block_size=16, range_size=64, n_term_buckets=8)
    IndexBuilder(spark, idx, cfg).build(
        spark.read.parquet(sorted_corpus), "b0", source_path=sorted_corpus
    )
    docs = spark.read.parquet(os.path.join(idx, "docs"))
    got = [
        (r["conv_id"], r["turn_idx"])
        for r in docs.orderBy("docid").select("conv_id", "turn_idx").collect()
    ]
    assert got == sorted(got)
    n = len(got)
    assert docs.agg(F.min("docid"), F.max("docid")).first() == (1, n)


def test_source_path_build_postings_decode_in_order(spark, tmp_path, sorted_corpus):
    """A default-config build given source_path writes postings whose
    docids lie in [1, n_docs] and rise inside every block, and it ranks
    like the oracle. A scan split of this path can pack non-adjacent docs
    files, so the partial blocks the merger folds interleave by docid."""
    import numpy as np
    import pyarrow.dataset as pads

    from marlin_spark.config import EngineConfig
    from marlin_spark.functions.codec import decode_block
    from marlin_spark.index.build import IndexBuilder
    from marlin_spark.index.catalog import IndexCatalog
    from marlin_spark.oracle.bm25 import OracleIndex, assign_docids
    from marlin_spark.query.engine import SearchEngine

    idx = str(tmp_path / "idx")
    cfg = EngineConfig()
    IndexBuilder(spark, idx, cfg).build(
        spark.read.parquet(sorted_corpus), "b0", source_path=sorted_corpus
    )
    rows = pads.dataset(sorted_corpus, format="parquet").to_table(
        columns=["conv_id", "turn_idx", "text"]
    ).to_pylist()
    n_docs = len(rows)
    blocks = pads.dataset(
        IndexCatalog(idx).path("postings"), partitioning="hive", format="parquet"
    ).to_table(columns=["first_docid", "n_docs", "postings"]).to_pylist()
    assert blocks
    for blk in blocks:
        docids = decode_block(bytes(blk["postings"]))[0].astype(np.int64)
        assert docids.size == blk["n_docs"]
        assert 1 <= docids.min() and docids.max() <= n_docs
        assert (np.diff(docids) > 0).all()
        assert docids[0] == blk["first_docid"]

    oracle = OracleIndex(assign_docids(rows))
    by_df = sorted(oracle.postings, key=lambda t: (-oracle.df(t), t))
    head, mid = by_df[:3], by_df[len(by_df) // 4: len(by_df) // 4 + 3]
    queries = [head[0], mid[0], f"{head[1]} {mid[1]}", f"{head[2]} {mid[2]} {mid[0]}"]
    eng = SearchEngine(spark, idx, cfg)
    for q in queries:
        want = [(d, round(s, 6)) for d, s in oracle.search(q, k=10)]
        local = [(d, round(s, 6)) for d, s in eng.search_local(q, k=10)]
        wand = [
            (r["docid"], round(r["score"], 6))
            for r in eng.search(q, k=10, use_wand=True).collect()
        ]
        assert local == want, q
        assert wand == want, q
