"""Block-max pruned BM25 top-k over compressed segments.

Query lifecycle (rebuild of backend/app/api/search.py:67-126, SURVEY.md §3.1):

1. tokenize + dedup query terms (driver),
2. partition-pruned scan of the query terms' shards only
   (`shard isin(...)` hits the hive partition dirs — the Spark analog of
   the reference's B-tree probe on terms.term, models.py:41),
3. per-term idf from the ``df_global`` column denormalized onto segment
   rows at build time (term_stats analog) — no per-query aggregation job,
4. applyInPandas per doc-range *bucket* over the segment rows alone —
   document lengths ride inline in the postings codec, so scoring needs NO
   side table (a per-query doc-length join would shuffle the whole doc
   table at corpus scale). Every doc's postings for all query terms live
   in its bucket, so buckets score independently and in parallel. Inside:
   block-max pruning (MaxScore regime over the block-max metadata) +
   vectorized exhaustive scoring of surviving blocks + a bounded top-k
   selection per bucket,
5. global top-k = orderBy(score desc, doc_id asc).limit(k) over ≤
   n_buckets*k candidate rows (TakeOrderedAndProject on tiny data).

Pruning logic (per bucket): terms sorted by whole-list upper bound
``ub(t) = idf(t)*(k1+1)*max(block_max)`` descending. Terms are accumulated
into a dense score array (np.add.at — no per-row Python). Once the running
k-th best partial score θ exceeds the summed upper bounds of all remaining
terms, no unseen doc can enter the top-k: remaining terms only *update*
existing candidates, and their blocks are decoded only if the block's
doc-id range (block_last_doc fences) contains a candidate and the block's
ub can still matter (θ-test against block_max). This is the
MaxScore/block-max family — same skipping data (per-block max score,
last-doc fences, byte offsets) as BMW, organized term-at-a-time so every
inner step stays a numpy vector op.

This module is the one owner of the per-bucket scoring algorithm and its
float contract. ``_score_bucket`` is the only θ-pruned OR loop (the
doc-values scorers pass it a per-doc ``bonus``/``mult`` lane),
``_score_bucket_and`` / ``_score_bucket_msm`` the conjunctive and
minimum_should_match kernels, ``_score_mode`` the and/or dispatcher. The
steps every other per-bucket scorer (batch, boolean, filtered, phrase)
reuses are written once here: ``_accumulate`` (the BM25 contribution in
its one operation order), ``_mask_ids`` (sorted-id tombstone/filter
mask), ``_term_order`` (upper-bound term order with exact suffix sums)
and ``_bucket_topk`` (tie-aware bucket top-k).

Verified rank-identical against the exhaustive naive scorer and the
single-node oracle on the full reference query set (tests/test_query.py),
and bit-identical to a brute-force oracle (tests/test_kernel_props.py).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from uci_searchengine_spark import BM25_B, BM25_K1
from uci_searchengine_spark.operators.bm25 import idf as idf_fn
from uci_searchengine_spark.operators.bm25 import terms_for_index
from uci_searchengine_spark.operators.codec import (
    decode_postings_column,
    unpack_postings,
)
from uci_searchengine_spark.operators.index_build import (
    IndexMeta,
    load_segments,
)


class BucketedExcl:
    """Exclusion set too large for a driver closure array: a Spark
    relation ``(bucket, doc_id)`` on the index's doc-range grid, consumed
    by cogrouping each scoring bucket with its own exclusion ids
    (``apply_per_bucket``). Never materialized on the driver."""

    def __init__(self, df: DataFrame):
        self.df = df


def load_excl(
    index_dir: str,
    spark: "SparkSession | None" = None,
    bucket_size: "int | None" = None,
) -> "np.ndarray | BucketedExcl | None":
    """Tombstoned doc ids as the scorers' exclusion input (None if no
    tombstones — the common case costs one isdir check). Below
    tombstones.DRIVER_CAP: a sorted driver array (shipped in the task
    closure, zero extra plan nodes). Past the cap, with ``spark`` and
    ``bucket_size`` given: the bucket-cogrouped relation instead."""
    from uci_searchengine_spark.operators import tombstones as _tomb

    est = _tomb.tombstone_count_estimate(index_dir)
    if not est:
        return None
    if est > _tomb.DRIVER_CAP and spark is not None and bucket_size:
        return BucketedExcl(_tomb.bucketed_tombstones(spark, index_dir, bucket_size))
    t = _tomb.load_tombstone_ids(index_dir)
    return t if t.size else None


def apply_per_bucket(seg: DataFrame, excl, make_fn, schema) -> DataFrame:
    """groupBy(bucket).applyInPandas with tombstone delivery: the common
    path closes the driver exclusion array (or None) into the scoring fn;
    a BucketedExcl cogroups the exclusion relation on the SAME bucket key
    so each task receives only its bucket's ids — constant driver memory
    at any tombstone count.

    ``make_fn(local_excl) -> (key, seg_pdf) -> pdf`` builds the scoring
    fn for one bucket's (possibly None) sorted exclusion ids."""
    if isinstance(excl, BucketedExcl):

        def fn2(key, seg_pdf, tomb_pdf):
            loc = None
            if len(tomb_pdf):
                loc = np.unique(tomb_pdf["doc_id"].to_numpy().astype(np.int64))
            return make_fn(loc)(key, seg_pdf)

        return (
            seg.groupBy("bucket")
            .cogroup(excl.df.groupBy("bucket"))
            .applyInPandas(fn2, schema=schema)
        )
    return seg.groupBy("bucket").applyInPandas(make_fn(excl), schema=schema)

_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _empty_topk(count_matches: bool = False):
    out = pd.DataFrame(
        {"doc_id": pd.Series([], dtype="int64"), "score": pd.Series([], dtype="float64")}
    )
    return (out, 0) if count_matches else out


def _shards_for_terms(terms: list[str], num_shards: int) -> dict[str, int]:
    # driver-side xxhash64 (verified == F.xxhash64 in tests/test_xxhash.py)
    # — saves a Spark round-trip per query
    from uci_searchengine_spark.functions.xxhash import term_shard

    return {t: term_shard(t, num_shards) for t in terms}


def _candidate_blocks(lasts: np.ndarray, cand: np.ndarray, base: int) -> np.ndarray:
    """Indices of the postings blocks whose doc-id range (block_last_doc
    fences) contains one of the sorted candidate ids — the block skip of
    every candidate-restricted decode."""
    firsts = np.concatenate(([base - 1], lasts[:-1]))
    lo = np.searchsorted(cand, firsts, side="right")
    hi = np.searchsorted(cand, lasts, side="right")
    return np.flatnonzero(hi > lo)


def _decode_row(r, cand: "np.ndarray | None", base: int):
    """Decode one segment row's postings — fully, or (``cand``: sorted
    candidate doc ids) only the blocks whose doc-id range contains a
    candidate, keeping candidate docs only. The skipping primitive of the
    OR kernel's θ-restricted phase, the AND kernel's rarest-first
    intersection and the boolean constraint walk."""
    blob = bytes(r.postings)
    if cand is None:
        return unpack_postings(blob)
    lasts = np.asarray(r.block_last_doc, dtype=np.int64)
    blocks = _candidate_blocks(lasts, cand, base)
    empty = np.array([], dtype=np.int64)
    if not blocks.size:
        return empty, empty, empty
    offs = np.asarray(r.block_offsets, dtype=np.int64)
    parts_d, parts_tf, parts_dl = [], [], []
    nblocks = len(offs)
    from uci_searchengine_spark import BLOCK_SIZE

    for bi in blocks:
        cnt = (
            BLOCK_SIZE
            if bi < nblocks - 1
            else None  # last block: decode to end
        )
        db, tb, lb = unpack_postings(blob, offset=int(offs[bi]), count=cnt)
        # gaps are block-local only for the first block; later
        # blocks chain off the previous block's last doc — rebase:
        if bi > 0:
            db = db + (lasts[bi - 1] + 1)
        parts_d.append(db)
        parts_tf.append(tb)
        parts_dl.append(lb)
    d = np.concatenate(parts_d)
    tf = np.concatenate(parts_tf)
    dl = np.concatenate(parts_dl)
    mask = _in_sorted(cand, d)  # keep only candidate docs
    return d[mask], tf[mask], dl[mask]


def _rows_by_term(seg: pd.DataFrame) -> dict[str, list]:
    """Segment rows grouped by term, in first-seen order. In a
    multi-generation index a boundary bucket (doc ranges spanning
    generations) holds one row per generation for the same term: the
    term's doc set is the UNION of its rows (disjoint doc ranges)."""
    by_term: dict[str, list] = {}
    for r in seg.itertuples(index=False):
        by_term.setdefault(r.term, []).append(r)
    return by_term


def _in_sorted(ids: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Membership mask of ``d`` in the sorted id array ``ids``."""
    if not ids.size:
        return np.zeros(d.shape, dtype=bool)
    p = np.clip(np.searchsorted(ids, d), 0, ids.size - 1)
    return ids[p] == d


def _mask_ids(d, tf, dl, excl=None, incl=None):
    """Decoded postings minus the doc ids in sorted ``excl`` (tombstones,
    boolean NOT) and, when ``incl`` is given, restricted to the sorted
    ``incl`` (filter context — an empty ``incl`` keeps nothing)."""
    keep = None
    if excl is not None and excl.size:
        keep = ~_in_sorted(excl, d)
    if incl is not None:
        m = _in_sorted(incl, d)
        keep = m if keep is None else keep & m
    if keep is None:
        return d, tf, dl
    return d[keep], tf[keep], dl[keep]


def _accumulate(acc, local, w, tf, dl, avgdl: float) -> None:
    """Add one term row's BM25 contributions into the dense bucket
    accumulator at bucket-local ids ``local``. Every scorer goes
    through this one expression in this one operation order, which is
    what keeps scores bit-equal across the pruned, exhaustive, batch
    and boolean paths."""
    tf_f = tf.astype(np.float64)
    contrib = w * (
        tf_f
        * (BM25_K1 + 1.0)
        / (tf_f + BM25_K1 * (1.0 - BM25_B + BM25_B * dl.astype(np.float64) / avgdl))
    )
    np.add.at(acc, local, contrib)


def _kth_largest(x: np.ndarray, k: int) -> float:
    return np.partition(x, x.size - k)[x.size - k]


def _bucket_topk(
    nz: np.ndarray, scores: np.ndarray, k: "int | None", base: int
) -> pd.DataFrame:
    """One bucket's ranked (doc_id, score) rows, (score desc, doc_id
    asc); ``k=None`` keeps every doc. Tie-aware: every doc at the k-th
    score boundary survives the partition, so the lexsort — not
    argpartition's arbitrary pick — decides among exact ties (the
    rank-identity contract with score_naive and the oracle)."""
    if k is not None and nz.size > k:
        keep = scores >= _kth_largest(scores, k)
        nz, scores = nz[keep], scores[keep]
    order = np.lexsort((nz, -scores))[:k]
    return pd.DataFrame(
        {"doc_id": (nz[order] + base).astype("int64"), "score": scores[order]}
    )


# relative headroom on every block-max upper bound: 16 float32 ulps
# (2**-24 each) — covers the float32 rounding of the stored block_max
# and the float64 op-order difference between bound and contribution
_UB_SLACK = 1.0 + 2.0**-20


def _term_order(seg: pd.DataFrame, idf_map: dict, avgdl: float):
    """``(rows, suf)``: the segment rows as ``(ub, w, row)`` sorted by
    whole-list upper bound ``ub = w·(k1+1)·max(block_max)`` descending
    (stable in row order), and the exact suffix sums
    ``suf[i] = Σ_{j>=i} ub_j``.

    Multi-generation indexes carry gen_avgdl: each generation's
    block_max was computed with ITS build avgdl, while scoring uses the
    blended root avgdl — the bound is inflated by max(1, avgdl/gen)
    (f = tf/(tf + c + m*dl) satisfies f_new <= f_old * avgdl_new/
    avgdl_old when avgdl grows) so pruning stays admissible.

    The returned ub carries ``_UB_SLACK``: block_max is stored float32
    (rounded to nearest), so the raw bound can sit just BELOW the
    contribution it bounds, and a doc tying θ EXACTLY from an unseen
    term was pruned. The slack is applied after the sort, so the term
    (and float-accumulation) order is the raw bound's.

    The suffix sums run from the end, so the empty suffix is exactly
    0.0: a sequential ``remaining_ub -= ub`` left a ~-1e-15 residue at
    the final term, which bounded a doc whose score ties θ EXACTLY (the
    k-th doc itself) one ulp below θ and dropped it from the top-k."""
    has_gen = "gen_avgdl" in seg.columns
    rows = []
    for r in seg.itertuples(index=False):
        w = idf_map[r.term]
        bm = np.asarray(r.block_max, dtype=np.float64)
        infl = max(1.0, avgdl / float(r.gen_avgdl)) if has_gen else 1.0
        rows.append((w * (BM25_K1 + 1.0) * bm.max() * infl, w, r))
    rows.sort(key=lambda x: -x[0])
    rows = [(ub * _UB_SLACK, w, r) for ub, w, r in rows]
    suf = [0.0]
    for ub, _w, _r in reversed(rows):
        suf.append(suf[-1] + ub)
    suf.reverse()
    return rows, suf


# doc-range window of the per-block bound fold: term block metadata
# (block_last_doc / block_max) is projected onto this fixed grid so the
# θ-test can bound unseen/candidate docs per WINDOW instead of by one
# bucket-wide scalar. 128 matches the codec's postings block size —
# a dense term's blocks land ~1:1 on windows.
_WINDOW = 128


def _term_window_ub(
    rows: list, base: int, bucket_size: int, window: int = _WINDOW
) -> np.ndarray:
    """(T, n_win) additive upper-bound grid: entry [i, j] bounds term
    i's BM25 contribution to ANY doc in doc-range window j; 0 where the
    term has no postings (the real per-block win — an absent term
    contributes nothing there, where the scalar bound assumed every
    term could land anywhere). Sound because postings are doc-sorted:
    block b's docs lie in (block_last_doc[b-1], block_last_doc[b]], and
    block_max bounds the per-doc contribution inside block b — folding
    it onto every window that range overlaps can only over-cover."""
    n_win = (bucket_size + window - 1) // window
    grid = np.zeros((len(rows), n_win), dtype=np.float64)
    for i, (ub_scalar, _w, r) in enumerate(rows):
        bm = np.asarray(r.block_max, dtype=np.float64)
        if not bm.size or ub_scalar <= 0:
            continue
        peak = bm.max()
        if peak <= 0:
            continue
        # ub_scalar = w*(k1+1)*infl*peak → recover the per-block scale
        vals = bm * (ub_scalar / peak)
        last = np.asarray(r.block_last_doc, dtype=np.int64) - base
        lo = np.empty_like(last)
        lo[0] = 0
        lo[1:] = last[:-1] + 1
        wlo = lo // window
        whi = last // window
        g = grid[i]
        single = wlo == whi
        if single.any():
            np.maximum.at(g, wlo[single], vals[single])
        for b in np.flatnonzero(~single):
            j0, j1 = int(wlo[b]), int(whi[b])
            seg_slice = g[j0 : j1 + 1]
            np.maximum(seg_slice, vals[b], out=seg_slice)
    return grid


def _window_max(vec: np.ndarray, n_win: int, window: int = _WINDOW) -> np.ndarray:
    """Per-window max of a dense bucket-local vector (the in-task fold
    of a doc-values lane onto the block grid: O(bucket_size), free next
    to postings decode — and the dense vector is needed for the per-hit
    values anyway, so a build-time sidecar would save no IO)."""
    pad = n_win * window - vec.size
    if pad:
        vec = np.concatenate([vec, np.zeros(pad, dtype=vec.dtype)])
    return vec.reshape(n_win, window).max(axis=1)


def _score_bucket(
    seg: pd.DataFrame,
    idf_map: dict[str, float],
    avgdl: float,
    bucket_size: int,
    k: int,
    excl: "np.ndarray | None" = None,
    count_matches: bool = False,
    incl: "np.ndarray | None" = None,
    bonus: "np.ndarray | None" = None,
    mult: "np.ndarray | None" = None,
    per_block_bounds: bool = True,
    stats: "dict | None" = None,
) -> pd.DataFrame:
    """θ-pruned block-max OR top-k for one bucket — the engine's one
    disjunctive scoring loop.

    ``excl``: sorted global doc ids to EXCLUDE (tombstones, boolean
    NOT). ``incl``: sorted global doc ids to KEEP (filter context —
    only docs in the set are eligible hits). Both are applied at
    accumulation time — before θ ever tightens — so block-max pruning
    stays admissible for the post-filter top-k.

    ``count_matches``: also return this bucket's exact matched-doc count
    as ``(pdf, n)``. Counting the OR-union's cardinality requires decoding
    every term's doc ids, so candidate restriction (which skips blocks)
    is disabled — the envelope path trades pruning for folding the
    total_results count into the same pass (one job instead of two).

    Per-doc lane (at most one; set by the doc-values scorers): ``bonus``
    is a dense bucket-local additive score (final = bm25 + bonus),
    ``mult`` a dense multiplicative factor in [0, 1] (final =
    bm25 · mult). θ and the candidate set are maintained over the FINAL
    scores; matching stays acc > 0 on the raw BM25 accumulator (a lane
    is a ranking signal, not a matching signal).

    Bounds (⊕ below is + for ``bonus``, · for ``mult``). With no lane an
    unseen doc can reach at most the remaining terms' summed upper bound
    (a bucket scalar). With a lane and ``per_block_bounds`` (the Lucene
    impact-sorting analog) the bound is per doc-range WINDOW j — unseen
    docs by max_j(remaining_win_ub[j] ⊕ lane_win_max[j]), candidates by
    (acc[d] + remaining_win_ub[win(d)]) ⊕ lane[d] — where
    remaining_win_ub sums each remaining term's folded block_max over
    that window (0 where the term has no postings). Strictly tighter than the scalar
    remaining_ub ⊕ max(lane) bound, which ``per_block_bounds=False``
    keeps as the reference path: high-lane docs and the remaining terms'
    heavy blocks are usually NOT in the same window. ``stats`` (dict)
    collects decoded-posting counts and the candidate-trigger term for
    skip-rate measurement."""
    if not len(seg):
        return _empty_topk(count_matches)
    base = int(seg["bucket"].iloc[0]) * bucket_size
    rows, suf = _term_order(seg, idf_map, avgdl)
    acc = np.zeros(bucket_size, dtype=np.float64)
    lane = mult if mult is not None else bonus

    def final(nz):
        if mult is not None:
            return acc[nz] * mult[nz]
        return acc[nz] if bonus is None else acc[nz] + bonus[nz]

    def cand_bound(nz, rem):
        if np.ndim(rem):  # per-window remaining bound
            rem = rem[nz // _WINDOW]
        if mult is not None:
            return (acc[nz] + rem) * mult[nz]
        return final(nz) + rem

    def unseen_bound(rem, lane_max):
        return rem * lane_max if mult is not None else rem + lane_max

    if lane is not None and per_block_bounds:
        grid = _term_window_ub(rows, base, bucket_size)
        rems = np.zeros((len(rows) + 1, grid.shape[1]), dtype=np.float64)
        rems[:-1] = np.cumsum(grid[::-1], axis=0)[::-1]
        lane_max = _window_max(lane, grid.shape[1])
    else:
        rems = suf
        lane_max = 0.0 if lane is None else float(lane.max())

    theta = -np.inf
    cand: np.ndarray | None = None  # sorted candidate global ids, None = all
    for ti, (_ub, w, r) in enumerate(rows):
        d, tf, dl = _decode_row(r, cand, base)
        if stats is not None:
            stats["decoded"] = stats.get("decoded", 0) + int(d.size)
        d, tf, dl = _mask_ids(d, tf, dl, excl, incl)
        if not d.size:
            continue
        _accumulate(acc, d - base, w, tf, dl, avgdl)

        if count_matches:
            continue  # exact union count needs every list decoded in full
        rem = rems[ti + 1]
        if cand is None:
            nz = np.flatnonzero(acc > 0)
            if nz.size >= k:
                theta = _kth_largest(final(nz), k)
            if np.max(unseen_bound(rem, lane_max)) < theta:
                # unseen docs can never reach θ → restrict to candidates
                cand = nz[cand_bound(nz, rem) >= theta] + base
                if stats is not None:
                    stats.setdefault("trigger_term", ti)
                    stats["cand0"] = int(cand.size)
        else:
            # tighten candidate set as θ grows
            nz = cand - base
            if nz.size >= k:
                theta = _kth_largest(final(nz), k)
                cand = cand[cand_bound(nz, rem) >= theta]

    nz = np.flatnonzero(acc > 0) if cand is None else np.unique(cand - base)
    nz = nz[acc[nz] > 0]
    out = _bucket_topk(nz, final(nz), k, base)
    return (out, int(nz.size)) if count_matches else out


def _score_bucket_and(
    seg: pd.DataFrame,
    idf_map: dict[str, float],
    avgdl: float,
    bucket_size: int,
    n_terms: int,
    k: int | None,
    excl: "np.ndarray | None" = None,
    count_matches: bool = False,
    incl: "np.ndarray | None" = None,
) -> pd.DataFrame:
    """Conjunctive (ALL-terms) top-k for one bucket: rarest-first
    posting-list intersection with block skipping. ``count_matches``
    returns ``(pdf, n)`` where n is the full intersection size — free
    here, the intersection is exact before the top-k truncation.

    The rarest term (smallest global df) is decoded in full and defines
    the candidate set; every later list decodes ONLY the blocks whose
    doc-id fences contain a surviving candidate (`_decode_row`)
    and shrinks the set — the classic conjunctive skip-pointer walk, here
    over block-max segment metadata with numpy set steps. Cost is bounded
    by the rarest list's length, not the head term's."""
    if not len(seg) or seg["term"].nunique() < n_terms:
        # a query term with no postings in this bucket ⇒ no doc here
        # holds all terms
        return _empty_topk(count_matches)
    base = int(seg["bucket"].iloc[0]) * bucket_size
    # one step per TERM, not per row: intersecting a term's generation
    # rows separately (disjoint doc ranges!) would wrongly empty the result
    groups = sorted(
        _rows_by_term(seg).items(), key=lambda kv: (int(kv[1][0].df_global), kv[0])
    )
    acc = np.zeros(bucket_size, dtype=np.float64)
    cand: np.ndarray | None = None
    for term, trows in groups:
        parts = []
        for r in trows:
            d, tf, dl = _decode_row(r, cand, base)
            if cand is None:
                # the rarest list defines the candidate set, so masking
                # it here filters the whole intersection
                d, tf, dl = _mask_ids(d, tf, dl, excl, incl)
            if d.size:
                parts.append((d, tf, dl))
        if not parts:
            return _empty_topk(count_matches)
        if len(parts) == 1:
            d, tf, dl = parts[0]
        else:
            # generations hold disjoint doc ranges; concatenate + one
            # argsort restores global doc order
            d = np.concatenate([p[0] for p in parts])
            tf = np.concatenate([p[1] for p in parts])
            dl = np.concatenate([p[2] for p in parts])
            o = np.argsort(d, kind="stable")
            d, tf, dl = d[o], tf[o], dl[o]
        _accumulate(acc, d - base, idf_map[term], tf, dl, avgdl)
        cand = d  # sorted ascending

    nz = cand - base
    out = _bucket_topk(nz, acc[nz], k, base)
    return (out, int(nz.size)) if count_matches else out


def _score_bucket_msm(
    seg: pd.DataFrame,
    idf_map: dict[str, float],
    avgdl: float,
    bucket_size: int,
    m: int,
    k: int | None,
    excl: "np.ndarray | None" = None,
    incl: "np.ndarray | None" = None,
) -> pd.DataFrame:
    """minimum_should_match top-k for one bucket: docs matching at
    least ``m`` DISTINCT query terms, scored by the same OR-sum BM25.

    Between OR (m=1, θ-pruned) and AND (m=n, rarest-first skips) no
    admissible block-max bound exists on the per-doc ELIGIBILITY —
    a θ computed over all accumulated docs could out-tighten the true
    k-th eligible score when high scorers are ineligible — so this path
    decodes every term's list in full (exactly what the envelope's
    count_matches mode already does) and accumulates (score, distinct
    match count) in two dense bucket arrays. Multi-generation rows of
    one term hold disjoint doc ranges, so counting once per term GROUP
    is exact."""
    if not len(seg) or seg["term"].nunique() < m:
        # fewer distinct query terms present in this bucket than m ⇒ no
        # doc here can reach the threshold
        return _empty_topk()
    base = int(seg["bucket"].iloc[0]) * bucket_size
    acc = np.zeros(bucket_size, dtype=np.float64)
    cnt = np.zeros(bucket_size, dtype=np.int32)
    for term, trows in _rows_by_term(seg).items():
        for r in trows:
            d, tf, dl = _mask_ids(*_decode_row(r, None, base), excl, incl)
            if not d.size:
                continue
            local = d - base
            _accumulate(acc, local, idf_map[term], tf, dl, avgdl)
            cnt[local] += 1  # once per term GROUP: gen doc ranges disjoint
    nz = np.flatnonzero(cnt >= m)
    return _bucket_topk(nz, acc[nz], k, base)


def resolve_msm(spec: "int | str", n_terms: int) -> int:
    """ES minimum_should_match value resolution (the int/percentage
    subset): positive int = itself; negative int = n_terms + spec
    ("all but |spec|"); ``"P%"`` = trunc(P/100 · n_terms), negative
    percentage likewise relative to n_terms. The resolved value is
    clamped to ≥ 1 (ES rule: a calculated 0-or-less leaves clauses
    optional — i.e. plain OR); a value > n_terms is unsatisfiable and
    the query returns nothing (also the ES behavior)."""
    if isinstance(spec, str):
        s = spec.strip()
        if not s.endswith("%"):
            raise ValueError(f"bad minimum_should_match {spec!r}")
        pct = int(s[:-1])
        val = int(pct * n_terms / 100.0)  # trunc toward zero, ES rule
        if pct < 0:
            val = n_terms + val
    else:
        val = spec if spec >= 0 else n_terms + spec
    return max(1, val)


def score_msm(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    min_should_match: "int | str" = 1,
) -> DataFrame:
    """Top-k (doc_id, score) among docs matching at least
    ``min_should_match`` distinct query terms (ES/Lucene
    minimum_should_match over a bag of SHOULD clauses); scores are the
    same OR-sum BM25 as score_wand — eligibility changes, scores never
    do. m=1 routes to the θ-pruned OR scorer and m=n(terms) to the
    rarest-first AND scorer (both strictly faster); only the strictly
    intermediate m pays the full-decode accumulation pass."""
    meta = IndexMeta.load(index_dir)
    terms = terms_for_index(meta, query)
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not terms:
        return empty
    m = resolve_msm(min_should_match, len(terms))
    if m > len(terms):
        return empty
    if m <= 1:
        return score_wand(spark, index_dir, query, k, mode="or")
    if m == len(terms):
        return score_wand(spark, index_dir, query, k, mode="and")
    seg = pruned_segments(spark, index_dir, meta, terms)
    excl = load_excl(index_dir, spark, meta.bucket_size)

    def make_fn(excl_local):
        def score_fn(key, seg_pdf):
            return _score_bucket_msm(
                seg_pdf, _idf_map(meta.n_docs, seg_pdf), meta.avgdl,
                meta.bucket_size, m, k, excl=excl_local,
            )

        return score_fn

    per_bucket = apply_per_bucket(seg, excl, make_fn, _TOPK_SCHEMA)
    return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _idf_map(
    n_docs: int, seg_pdf, boosts: "dict[str, float] | None" = None
) -> dict[str, float]:
    """Per-term scoring weight for one bucket's rows: idf, times the
    query-time boost when one is given (Lucene ``term^N``). The boost
    multiplies the SAME w every block-max upper bound uses
    (``w·(k1+1)·block_max``), so θ-pruning stays admissible under
    boosts with no extra bookkeeping."""
    boosts = boosts or {}
    return {
        t: idf_fn(n_docs, int(d)) * boosts.get(t, 1.0)
        for t, d in zip(seg_pdf["term"], seg_pdf["df_global"])
    }


def _score_mode(
    seg_pdf: pd.DataFrame,
    meta: IndexMeta,
    k: "int | None",
    mode: str,
    n_terms: "int | None",
    boosts: "dict[str, float] | None" = None,
    excl: "np.ndarray | None" = None,
    incl: "np.ndarray | None" = None,
    count_matches: bool = False,
):
    """One bucket of a BM25 query in ``mode`` "or" or "and": the idf map
    (with query-time boosts), then the θ-pruned OR kernel or the
    rarest-first AND kernel. ``k=None`` (AND only) ranks every match."""
    if not len(seg_pdf):
        return _empty_topk(count_matches)
    idf_map = _idf_map(meta.n_docs, seg_pdf, boosts)
    if mode == "and":
        return _score_bucket_and(
            seg_pdf, idf_map, meta.avgdl, meta.bucket_size, n_terms, k,
            excl=excl, count_matches=count_matches, incl=incl,
        )
    return _score_bucket(
        seg_pdf, idf_map, meta.avgdl, meta.bucket_size, k,
        excl=excl, count_matches=count_matches, incl=incl,
    )


def score_wand(
    spark: SparkSession, index_dir: str, query: str, k: int = 10, mode: str = "or",
    boosts: "dict[str, float] | None" = None,
) -> DataFrame:
    """Top-k (doc_id, score) via block-max pruned scoring over segments.

    ``mode="or"`` (default) is the reference's disjunctive semantics
    (search.py:79-82); ``mode="and"`` keeps only docs containing EVERY
    query term (conjunctive extension — rarest-first intersection).
    ``boosts`` maps ANALYZED terms to query-time weight multipliers
    (Lucene ``term^N``)."""
    meta = IndexMeta.load(index_dir)
    terms = terms_for_index(meta, query)
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not terms:
        return empty
    seg = pruned_segments(spark, index_dir, meta, terms)
    return _topk_over_segments(
        seg, meta, k, mode=mode, n_terms=len(terms),
        excl=load_excl(index_dir, spark, meta.bucket_size), boosts=boosts,
    )


def pruned_segments(
    spark: SparkSession,
    index_dir: str,
    meta: IndexMeta,
    terms: list[str],
    with_positions: bool = False,
) -> DataFrame:
    """The scorers' shared scan prelude: segment relation pruned to the
    query terms' shard dirs (hive partition pruning) and rows, with
    df_global resolved. The positional plane (if the index has one) is
    column-pruned away unless ``with_positions`` — BM25 scoring must not
    pay its bytes."""
    return prune_relation(
        load_segments(spark, index_dir), meta, terms, with_positions=with_positions
    )


_DECODED_SCHEMA = "term string, doc_id long, tf int, doc_len int"


def decoded_postings(
    spark: SparkSession, index_dir: str, meta: IndexMeta, terms: list[str]
) -> DataFrame:
    """The query terms' postings as ``(term, doc_id, tf, doc_len)`` rows —
    the relational scorers' scan: ``prune_relation``'s shard/term filter,
    then one vectorized decode per Arrow batch."""
    return (
        load_segments(spark, index_dir)
        .filter(_term_filter(meta, terms))
        .select("term", "df", "postings")
        .mapInArrow(_decode_batches, _DECODED_SCHEMA)
    )


def _decode_batches(batches):
    import pyarrow as pa

    for b in batches:
        df = b.column("df").to_numpy()
        ids, tf, dl = decode_postings_column(b.column("postings"), df)
        rows = pa.array(np.repeat(np.arange(b.num_rows), df))
        yield pa.RecordBatch.from_arrays(
            [b.column("term").take(rows), pa.array(ids),
             pa.array(tf.astype(np.int32)), pa.array(dl.astype(np.int32))],
            names=["term", "doc_id", "tf", "doc_len"],
        )


def _term_filter(meta: IndexMeta, terms: list[str]):
    """Hive shard-dir pruning plus the pushed term filter for ``terms``."""
    shards = sorted(set(_shards_for_terms(terms, meta.num_shards).values()))
    return F.col("shard").isin(shards) & F.col("term").isin(terms)


def prune_relation(
    seg_rel: DataFrame,
    meta: IndexMeta,
    terms: list[str],
    with_positions: bool = False,
) -> DataFrame:
    """Apply the query-term pruning + df resolution to an already-loaded
    segment relation (shared by pruned_segments and the resident
    serving.Searcher, so both surfaces get identical multi-generation df
    semantics)."""
    seg = seg_rel.filter(_term_filter(meta, terms))
    if getattr(meta, "positions", False) and not with_positions:
        seg = seg.drop("positions", "pos_block_off")
    if getattr(meta, "seg_split", 1) > 1 or getattr(meta, "gens", 1) > 1:
        # per-row df_global is fragment-local when a shard's buckets were
        # split across stage-2 tasks (corpus ≫ task memory) AND when the
        # index holds multiple generations (each gen counted only its own
        # docs). The pruned scan already covers each query term's ENTIRE
        # posting list across fragments/generations, so the true df is an
        # in-plan aggregate + broadcast join — still a single Spark job,
        # only the query terms' rows touched.
        dfs = seg.groupBy("term").agg(F.sum("df").cast("long").alias("_df"))
        seg = (
            seg.drop("df_global")
            .join(F.broadcast(dfs), "term")
            .withColumnRenamed("_df", "df_global")
        )
    # else: idf comes from the df_global column denormalized onto segment
    # rows at build time — no aggregation at all per query
    return seg


def _topk_over_segments(
    seg: DataFrame,
    meta: IndexMeta,
    k: int,
    mode: str = "or",
    n_terms: int | None = None,
    excl: "np.ndarray | BucketedExcl | None" = None,
    boosts: "dict[str, float] | None" = None,
) -> DataFrame:
    """Scoring tail shared by score_wand and serving.Searcher: per-bucket
    block-max scoring over an (already pruned, df-resolved) segment
    relation, then global top-k."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")

    def make_fn(excl_local):
        def score_fn(key, seg_pdf):
            return _score_mode(seg_pdf, meta, k, mode, n_terms, boosts, excl=excl_local)

        return score_fn

    per_bucket = apply_per_bucket(seg, excl, make_fn, _TOPK_SCHEMA)
    return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


_TOPK_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType(), False),
        T.StructField("n_matched", T.LongType(), False),
        T.StructField(
            "top",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("neg_score", T.DoubleType(), False),
                        T.StructField("doc_id", T.LongType(), False),
                        T.StructField("url", T.StringType(), True),
                        T.StructField("title", T.StringType(), True),
                        T.StructField("snippet", T.StringType(), True),
                    ]
                )
            ),
            False,
        ),
    ]
)


_DOC_COLS = ["doc_id", "url", "title", "text"]


def _doc_file_entry(fp: str):
    """(ParquetFile, [(min_doc_id, max_doc_id) per row group]) for one
    doc-store file — the footer-only metadata a winner fetch prunes on.
    Row groups are doc_id-sorted (DOCS_ROW_GROUP), so stats are tight."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(fp)
    md = pf.metadata
    ci = next(
        i
        for i in range(md.num_columns)
        if md.row_group(0).column(i).path_in_schema == "doc_id"
    )
    ranges = []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(ci).statistics
        if st is None or not st.has_min_max:
            ranges.append((None, None))  # no stats → always read
        else:
            ranges.append((int(st.min), int(st.max)))
    return pf, ranges


def fetch_bucket_docs(
    docs_dirs: list[str],
    bucket: int,
    ids: list[int],
    lowered: list[str],
    pf_cache: "dict | None" = None,
) -> dict[int, tuple[str, str, str]]:
    """Co-located doc-store fetch for one bucket's winners: read ONLY
    the row groups of the bucket's own ``bucket=`` dir(s) whose doc_id
    stats cover a winner (footer-stats pruning over the doc_id-sorted
    DOCS_ROW_GROUP layout) — never a join. Shared by the distributed
    closure (inside each scoring task) and the local path (driver,
    final winners only). ``pf_cache`` (resident serving) memoizes
    footers keyed by (path, size, mtime) so repeat queries skip the
    metadata read. Returns {doc_id: (url, title, snippet)} with
    snippets under the reference display rule (bm25.snippet_text)."""
    from uci_searchengine_spark.operators.bm25 import snippet_text

    idset = set(int(i) for i in ids)
    srt = sorted(idset)
    docs: dict[int, tuple[str, str, str]] = {}
    for d in docs_dirs:
        p = os.path.join(d, f"bucket={bucket}")
        if not os.path.isdir(p):
            continue
        for fn_ in sorted(os.listdir(p)):
            if not fn_.endswith(".parquet"):
                continue
            fp = os.path.join(p, fn_)
            ent = None
            if pf_cache is not None:
                stt = os.stat(fp)
                key = (fp, stt.st_size, stt.st_mtime_ns)
                ent = pf_cache.get(key)
                if ent is None:
                    ent = pf_cache[key] = _doc_file_entry(fp)
            else:
                ent = _doc_file_entry(fp)
            pf, ranges = ent
            need = [
                i
                for i, (lo, hi) in enumerate(ranges)
                if lo is None
                or any(lo <= x <= hi for x in srt)
            ]
            if not need:
                continue
            tbl = pf.read_row_groups(need, columns=_DOC_COLS, use_threads=False)
            for did, url, title, text in zip(
                tbl["doc_id"], tbl["url"], tbl["title"], tbl["text"]
            ):
                k = did.as_py()
                if k in idset:
                    docs[k] = (
                        url.as_py(),
                        title.as_py(),
                        snippet_text(text.as_py(), lowered),
                    )
    return docs


def make_envelope_fn(
    meta: IndexMeta,
    docs_dirs: list[str],
    lowered: list[str],
    k: int,
    mode: str,
    n_terms: int | None,
    with_docs: bool = True,
    boosts: "dict[str, float] | None" = None,
):
    """Per-bucket envelope closure builder SHARED by the Spark path
    (``topk_count_docs``) and the task-local path
    (``operators.local_search``) — one code path, so the two plans are
    rank- and byte-identical by construction. Returns
    ``make_fn(excl_local) -> (key, seg_pdf) -> pdf`` in the
    ``apply_per_bucket`` shape.

    ``with_docs=False`` skips the per-bucket doc-store fetch (url/title/
    snippet come back None): the local path scores all buckets first and
    fetches docs for the ≤k GLOBAL winners only — the distributed plan
    fetches per bucket because its tasks run in parallel and a second
    round-trip would cost another job.

    ``make_fn(excl_local, incl)`` also takes a bucket's sorted allowed
    doc ids: the filter-context envelope (``filtered``) runs the same
    closure."""

    def make_fn(excl_local, incl=None):
        def fn(key, seg_pdf):
            pdf, n = _score_mode(
                seg_pdf, meta, k, mode, n_terms, boosts,
                excl=excl_local, incl=incl, count_matches=True,
            )
            if not n:
                return pd.DataFrame(
                    {
                        "bucket": pd.Series([], dtype="int64"),
                        "n_matched": pd.Series([], dtype="int64"),
                        "top": pd.Series([], dtype="object"),
                    }
                )
            bucket = int(seg_pdf["bucket"].iloc[0])
            docs: dict[int, tuple[str, str, str]] = {}
            if with_docs:
                docs = fetch_bucket_docs(
                    docs_dirs, bucket, [int(d) for d in pdf["doc_id"]], lowered
                )
            top = []
            for did, s in zip(pdf["doc_id"], pdf["score"]):
                url, title, snip = docs.get(int(did), (None, None, None))
                top.append(
                    {
                        "neg_score": -float(s),
                        "doc_id": int(did),
                        "url": url,
                        "title": title,
                        "snippet": snip,
                    }
                )
            return pd.DataFrame(
                {
                    "bucket": pd.Series([bucket], dtype="int64"),
                    "n_matched": pd.Series([n], dtype="int64"),
                    "top": pd.Series([top], dtype="object"),
                }
            )

        return fn

    return make_fn


def _collect_envelope(per_bucket: DataFrame, k: int) -> tuple[list[dict], int]:
    """Global step of the one-job envelope over the per-bucket
    ``_TOPK_DOCS_SCHEMA`` rows: ``sum(n_matched)`` plus flatten/
    sort_array/slice of ≤ n_buckets·k structs (neg_score first, so the
    ascending sort is (score desc, doc_id asc)) — one aggregate, the
    same driver-bound volume a TakeOrderedAndProject ships."""
    row = per_bucket.agg(
        F.coalesce(F.sum("n_matched"), F.lit(0)).alias("total"),
        F.slice(
            F.sort_array(F.flatten(F.collect_list("top"))), 1, k
        ).alias("top"),
    ).collect()[0]
    rows = [
        {
            "doc_id": int(r["doc_id"]),
            "score": -float(r["neg_score"]),
            "url": r["url"],
            "title": r["title"],
            "snippet": r["snippet"],
        }
        for r in row["top"]
    ]
    return rows, int(row["total"])


def topk_count_docs(
    seg: DataFrame,
    meta: IndexMeta,
    index_dir: str,
    display_terms: list[str],
    k: int,
    mode: str = "or",
    n_terms: int | None = None,
    excl: "np.ndarray | BucketedExcl | None" = None,
    boosts: "dict[str, float] | None" = None,
) -> tuple[list[dict], int]:
    """The WHOLE search envelope from ONE Spark job: the match count
    and the doc-store fetch are folded into the scoring pass. The doc
    store is bucketed on the SAME doc-range grid as the segments, so each
    scoring task reads its own bucket's docs for its ≤k local winners — a
    task-local pyarrow read with a doc_id row-group filter (the
    co-location pattern phrase verification already uses), never a join,
    never a second job. Exact OR-union counting decodes every term's doc
    ids, so the OR path scores exhaustively here (no block skipping).
    Returns (rows, total): rows ordered (score desc, doc_id asc) with
    url/title/snippet attached, snippets under the reference display
    rule (raw query forms — bm25.snippet_text)."""
    from uci_searchengine_spark.operators.index_build import generation_dirs

    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    docs_dirs = [os.path.join(d, "docs") for d in generation_dirs(index_dir)]
    make_fn = make_envelope_fn(
        meta, docs_dirs, [t.lower() for t in display_terms], k, mode, n_terms,
        boosts=boosts,
    )
    return _collect_envelope(
        apply_per_bucket(seg, excl, make_fn, _TOPK_DOCS_SCHEMA), k
    )
