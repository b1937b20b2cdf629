"""Top-k BM25 scorer over compressed posting blocks.

One numpy kernel answers every top-k path: ``search`` (WAND) and
``search_local`` run it as a batch of one query, ``search_many_wand``
with a whole batch. It runs as mapInPandas over the matched block rows
repartitioned by doc range (range_id), or on the driver over cached
block rows: for the local path, and for a batch whose query postings
are at most ``engine.DRIVER_BATCH_POSTINGS``. Each block is decoded once
per range, and the decoded arrays are shared by every query that uses
its term. Ranges are visited in descending upper-bound order, so each
query's running top-k threshold THETA rises fast. Every pruning layer is exact:

- range level (block-max): a query's bound in a range is the sum over its
  terms of idf * (largest block max_tfnorm of the term in the range). A
  range whose bound cannot beat THETA is skipped without decoding. A
  range holds all postings of its docs, so a skipped range cannot hold a
  top-k doc and no scored doc loses a term contribution (skipping single
  blocks of one term would corrupt the scores other terms still emit).
- term level (MaxScore, Turtle & Flood 1995): inside a range, the
  query's lowest-bound terms whose bounds sum to less than THETA are
  non-essential. Candidates come only from the essential terms; the
  non-essential terms' exact contributions are gathered by binary search
  into their sorted decoded docids.
- candidate level: scored candidates below THETA - 2e-9 are dropped
  before the top-k merge (2e-9 is wider than one 9-decimal rounding step,
  so no rounded-tie winner is lost).

mode='all' keeps a candidate only if it hits every required slot. A slot
is one query word, and the prefix expansions of the typed last word share
its slot, so coverage ORs one hit mask per slot and counts the slots,
not the hitting terms.

Decoding reads (docids, tfs, dls); the positions column is never read
(parquet column pruning). A candidate's score accumulates term-ascending
(0.0 + t1 + t2 + ...; 0.0 + x == x in IEEE), the oracle's term-sorted
sum order.

Reference analog: the fast-rank partial scan + early termination
(reference src/main/docrank.c:478-574); ours prunes with provable score
bounds instead of sampling.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd

from marlin_spark.functions.codec import decode_blocks_many

_EPS = 1e-9

# block columns the scorer reads
SCORER_COLS = ["term", "range_id", "first_docid", "n_docs", "max_tfnorm", "postings"]
SCORER_SCHEMA = "query_id string, docid long, score double"


def _mask_deleted(docids: np.ndarray, deleted: np.ndarray | None) -> np.ndarray | None:
    """Boolean keep-mask for docids not in the sorted tombstone array
    (None when nothing is deleted — avoids the copy on the common path)."""
    if deleted is None or deleted.size == 0 or docids.size == 0:
        return None
    docids = docids.astype(np.int64, copy=False)  # decode yields uint64
    idx = np.searchsorted(deleted, docids)
    idx[idx >= deleted.size] = deleted.size - 1
    hit = deleted[idx] == docids
    if not hit.any():
        return None
    return ~hit


def _empty() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "query_id": pd.Series([], dtype="object"),
            "docid": pd.Series([], dtype="int64"),
            "score": pd.Series([], dtype="float64"),
        }
    )


def _column(rows: list, name: str) -> np.ndarray:
    if len(rows) == 1:
        return rows[0][name].to_numpy()
    return np.concatenate([pdf[name].to_numpy() for pdf in rows])


def _topk_trim(d: np.ndarray, s: np.ndarray, k: int):
    """Exact top-k by (round(score,9) desc, docid asc). For large inputs
    an argpartition pass first cuts to the k-th raw score minus a 2e-9
    guard band (wider than one 9-decimal rounding step, so every doc
    whose ROUNDED score ties the boundary survives into the exact sort)."""
    if d.size > max(4 * k, 256):
        kth = np.partition(s, s.size - k)[s.size - k]
        keep = s >= kth - 2.0 * _EPS
        d, s = d[keep], s[keep]
    if d.size > k:
        o = np.lexsort((d, -np.round(s, 9)))[:k]
        return d[o], s[o]
    # never return a slice VIEW: per-query state holding one would pin
    # the whole decoded range buffer in worker memory between ranges
    return (d if d.base is None else d.copy()), s


def make_batch_wand_scorer(
    query_metas: dict[str, dict[str, tuple[float, int]]],
    n_slots: dict[str, int],
    k: int,
    mode: str = "any",
    k1: float = 1.2,
    b: float = 0.75,
    avgdl: float = 1.0,
    deleted: "np.ndarray | None" = None,
    theta_seed: "dict[str, float] | None" = None,
    counters: dict | None = None,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Top-k scorer for the queries in ``query_metas`` (query id -> term
    -> (idf, slot)) over block rows with the SCORER_COLS columns; yields
    (query_id, docid, score) rows, at most k per query.

    ``n_slots``: per query, the number of slots a doc must hit under
    mode='all'. ``deleted``: sorted int64 tombstone docids, masked out
    right after decode so a deleted doc can neither score nor hold a
    top-k place (block maxes stay valid bounds: they bound a superset).

    ``theta_seed``: optional per-query GLOBAL lower bounds on the final
    k-th best score (see SearchEngine._theta_seeds for the derivation
    and its validity gates). A seed lets every partition prune from its
    first range instead of warming theta locally — without it, pruning
    power degrades as partitions get smaller, i.e. with core count,
    which is exactly the wrong scaling direction. Partitions may then
    emit fewer than k rows per query; the global top-k merge is
    unaffected because no doc with score >= the true k-th best (rounding
    ties included, via the eps guards) is ever dropped.

    ``counters``: optional ``ranges_scored`` / ``ranges_skipped``
    accumulators, counted per (query, range) where the query's bound in
    the range is positive.
    """
    norm_c = k1 * (1.0 - b)
    norm_s = k1 * b / avgdl if avgdl > 0 else 0.0
    qid_list = sorted(query_metas)
    qcode_of = {qid: i for i, qid in enumerate(qid_list)}
    nq = len(qid_list)
    want_slots = mode == "all"
    seed_arr = np.full(nq, -np.inf)
    if theta_seed:
        for qid, sv in theta_seed.items():
            qc = qcode_of.get(qid)
            if qc is not None:
                seed_arr[qc] = sv
    # per-query: terms ascending with their idf and slot
    q_terms: list[list] = [None] * nq
    ns_arr = np.zeros(nq, np.int64)
    for qid, meta in query_metas.items():
        qc = qcode_of[qid]
        q_terms[qc] = [(t, meta[t][0], meta[t][1]) for t in sorted(meta)]
        ns_arr[qc] = n_slots.get(qid, 0)
    # term -> (qcodes, idfs) for the vectorized range-level bound
    tmp: dict[str, list] = {}
    for qid, meta in query_metas.items():
        qc = qcode_of[qid]
        for t, (idf, _slot) in meta.items():
            tmp.setdefault(t, []).append((qc, idf))
    by_term: dict[str, tuple] = {}
    for t, trows in tmp.items():
        trows.sort()
        by_term[t] = (
            np.fromiter((r[0] for r in trows), np.int64, len(trows)),
            np.fromiter((r[1] for r in trows), np.float64, len(trows)),
        )

    def scorer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = [pdf for pdf in batches if not pdf.empty]
        if not rows:
            yield _empty()
            return
        # order blocks by (range, term, first docid): a term's blocks in
        # a range then decode to ascending docids, also where a streaming
        # delta's blocks share the range with the base segment
        terms_u, tcode = np.unique(_column(rows, "term"), return_inverse=True)
        rid_a = _column(rows, "range_id")
        o = np.lexsort((_column(rows, "first_docid"), tcode, rid_a))
        rid_a, tcode = rid_a[o], tcode[o]
        nd_a = _column(rows, "n_docs")[o]
        mtf_a = _column(rows, "max_tfnorm").astype(np.float64, copy=False)[o]
        posts_a = _column(rows, "postings")[o]
        n_blk = rid_a.size
        r_change = np.r_[True, rid_a[1:] != rid_a[:-1]]
        t_change = r_change | np.r_[True, tcode[1:] != tcode[:-1]]
        t_starts = np.flatnonzero(t_change)
        tmax_all = np.maximum.reduceat(mtf_a, t_starts)  # per (range,term)
        code_of_slot = tcode[t_starts]
        slot_range = rid_a[t_starts]
        rs_starts = np.flatnonzero(np.r_[True, slot_range[1:] != slot_range[:-1]])
        rs_ends = np.r_[rs_starts[1:], t_starts.size]
        r_starts_blk = np.flatnonzero(r_change)
        r_ends_blk = np.r_[r_starts_blk[1:], n_blk]
        bt = [by_term[t] for t in terms_u]
        # descending total-ub order so thetas rise fast
        order = np.argsort(
            -np.add.reduceat(tmax_all, rs_starts), kind="stable"
        )

        state_d: list = [None] * nq  # per-query running top-k
        state_s: list = [None] * nq
        theta = np.full(nq, -np.inf)
        n_scored = n_skipped = 0

        for ri in order:
            s_lo, s_hi = rs_starts[ri], rs_ends[ri]
            codes_r = code_of_slot[s_lo:s_hi]
            tmax_r = tmax_all[s_lo:s_hi]
            # vectorized per-query range bound: ub[q] = sum idf*tmax
            ub = np.bincount(
                np.concatenate([bt[c][0] for c in codes_r]),
                weights=np.concatenate(
                    [bt[c][1] * tmax_r[i] for i, c in enumerate(codes_r)]
                ),
                minlength=nq,
            )
            # theta[qc] is -inf until that query holds k docs; a global
            # seed prunes even before then (it bounds the FINAL k-th)
            th_eff = np.maximum(theta, seed_arr)
            bounded = ub > 0
            active = bounded & (ub >= th_eff - _EPS)
            n_active = int(active.sum())
            n_scored += n_active
            n_skipped += int(bounded.sum()) - n_active
            if not n_active:
                continue
            needed = np.fromiter(
                (active[bt[c][0]].any() for c in codes_r),
                bool, codes_r.size,
            )
            # decode every needed term's blocks in one varbyte pass
            rel_t = t_starts[s_lo:s_hi] - r_starts_blk[ri]
            t_cnt = np.diff(np.r_[rel_t, r_ends_blk[ri] - r_starts_blk[ri]])
            keep_blk = np.repeat(needed, t_cnt)
            blk_sl = slice(r_starts_blk[ri], r_ends_blk[ri])
            nd_kept = np.asarray(nd_a[blk_sl][keep_blk], np.int64)
            d_all, tf_all, dl_all, _ = decode_blocks_many(
                list(posts_a[blk_sl][keep_blk]), nd_kept
            )
            if d_all.size == 0:
                continue
            kmask = _mask_deleted(d_all, deleted)
            tfn = tf_all.astype(np.float64)
            core_all = tfn * (k1 + 1.0) / (
                tfn + norm_c + norm_s * dl_all.astype(np.float64)
            )
            decoded: dict[str, tuple] = {}
            tmax_d: dict[str, float] = {}
            tdoc = np.concatenate(([0], np.cumsum(nd_kept)))
            blk_i = 0
            for ti in np.flatnonzero(needed):
                nb_t = t_cnt[ti]
                lo, hi = tdoc[blk_i], tdoc[blk_i + nb_t]
                blk_i += nb_t
                d_t, c_t = d_all[lo:hi], core_all[lo:hi]
                if kmask is not None:
                    kk = kmask[lo:hi]
                    d_t, c_t = d_t[kk], c_t[kk]
                if d_t.size:
                    t = terms_u[codes_r[ti]]
                    decoded[t] = (d_t, c_t)
                    tmax_d[t] = tmax_r[ti]
            if not decoded:
                continue
            for qc in np.flatnonzero(active):
                present = [
                    (t, idf, slot)
                    for t, idf, slot in q_terms[qc]
                    if t in decoded
                ]
                if not present:
                    continue
                if want_slots and len({s for _, _, s in present}) < ns_arr[qc]:
                    continue  # no doc in this range can hit every slot
                th = th_eff[qc]
                if len(present) == 1:
                    t, idf, _slot = present[0]
                    d_t, c_t = decoded[t]
                    cand_d = d_t
                    cand_s = idf * c_t
                else:
                    # MaxScore split: largest LOW-bound prefix whose
                    # cumulative upper bound stays under theta is
                    # non-essential — candidates come from the rest
                    ubs_t = [idf * tmax_d[t] for t, idf, _ in present]
                    o_asc = sorted(range(len(present)), key=lambda i: ubs_t[i])
                    cum = 0.0
                    non_ess = set()
                    if th > -np.inf:
                        for i in o_asc:
                            cum += ubs_t[i]
                            if cum < th - _EPS:
                                non_ess.add(i)
                            else:
                                break
                    ess = [i for i in range(len(present)) if i not in non_ess]
                    if not ess:
                        continue
                    if len(ess) == 1:
                        cand_d = decoded[present[ess[0]][0]][0]
                    else:
                        cand_d = np.unique(
                            np.concatenate(
                                [decoded[present[i][0]][0] for i in ess]
                            )
                        )
                    cand_s = np.zeros(cand_d.size)
                    # slot -> hit mask over cand_d; prefix expansions
                    # share a slot, so their masks OR together
                    slot_hit: dict[int, np.ndarray] = {}
                    only_ess = len(ess) == 1
                    for i, (t, idf, slot) in enumerate(present):
                        d_t, c_t = decoded[t]
                        if only_ess and i == ess[0]:
                            cand_s += idf * c_t  # aligned: cand_d IS d_t
                            hit = None
                        else:
                            p = np.searchsorted(d_t, cand_d)
                            p[p >= d_t.size] = d_t.size - 1
                            hit = d_t[p] == cand_d
                            cand_s[hit] += idf * c_t[p[hit]]
                        if want_slots:
                            if hit is None:
                                hit = np.ones(cand_d.size, bool)
                            prev = slot_hit.get(slot)
                            slot_hit[slot] = hit if prev is None else prev | hit
                    if want_slots:
                        okm = np.sum(list(slot_hit.values()), axis=0) >= ns_arr[qc]
                        cand_d, cand_s = cand_d[okm], cand_s[okm]
                        if cand_d.size == 0:
                            continue
                if th > -np.inf:
                    keepm = cand_s >= th - 2.0 * _EPS
                    cand_d, cand_s = cand_d[keepm], cand_s[keepm]
                    if cand_d.size == 0:
                        continue
                sd, ss = state_d[qc], state_s[qc]
                if sd is not None:
                    cand_d = np.concatenate([sd, cand_d])
                    cand_s = np.concatenate([ss, cand_s])
                cand_d, cand_s = _topk_trim(cand_d, cand_s, k)
                state_d[qc], state_s[qc] = cand_d, cand_s
                if cand_d.size >= k:
                    theta[qc] = cand_s.min()
        if counters:
            counters["ranges_scored"].add(n_scored)
            counters["ranges_skipped"].add(n_skipped)
        out = [qc for qc in range(nq) if state_d[qc] is not None]
        if not out:
            yield _empty()
            return
        yield pd.DataFrame(
            {
                "query_id": np.repeat(
                    np.array([qid_list[qc] for qc in out], dtype=object),
                    [state_d[qc].size for qc in out],
                ),
                "docid": np.concatenate([state_d[qc] for qc in out]),
                "score": np.concatenate([state_s[qc] for qc in out]),
            }
        )

    return scorer
