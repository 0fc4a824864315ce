"""Property tests of the per-bucket BM25 kernels in ``operators/wand.py``
against a brute-force oracle: the θ-pruned OR kernel (no lane, additive
``bonus`` lane, multiplicative ``mult`` lane, per-window and scalar
bounds), the rarest-first AND kernel and the minimum_should_match kernel.

The oracle scores every posting with no pruning, no block skipping and
no vectorized masks, accumulating each doc's contributions in the
kernels' documented order (OR: term rows by whole-list upper bound
descending; AND: rarest term first; msm: first-seen term order) with the
same per-posting BM25 expression — so the kernels' output must match it
bit for bit, ranks and scores.

Pure numpy/pandas over synthetic segment rows packed with
``codec.pack_postings`` — no Spark session.
"""

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from uci_searchengine_spark import BM25_B, BM25_K1
from uci_searchengine_spark.operators.codec import pack_postings
from uci_searchengine_spark.operators.wand import (
    _score_bucket,
    _score_bucket_and,
    _score_bucket_msm,
)

AVGDL = 80.0
SETTINGS = settings(
    max_examples=150,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@st.composite
def buckets(draw):
    """One bucket's segment rows plus the query-side inputs.

    Doc lengths, tfs, idf weights and lane values come from small value
    sets, and some docs copy another doc's postings outright, so exact
    score ties are common. ``two_gen`` splits each term's postings at a
    doc boundary into two generation rows packed under their own
    ``gen_avgdl`` (!= the blended root avgdl)."""
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    bucket = draw(st.integers(0, 2))
    bucket_size = draw(st.sampled_from([256, 640]))
    base = bucket * bucket_size
    n_terms = draw(st.integers(1, 4))
    dl = rng.choice([40, 80, 120], size=bucket_size)
    tf = np.zeros((n_terms, bucket_size), dtype=np.int64)
    for t in range(n_terms):
        p = draw(st.sampled_from([0.01, 0.1, 0.4, 0.9]))
        tf[t] = np.where(rng.random(bucket_size) < p, rng.integers(1, 4, bucket_size), 0)
        if not tf[t].any():
            tf[t, rng.integers(bucket_size)] = 1
    for _ in range(draw(st.integers(0, 8))):  # exact-tie twins
        a, b = rng.integers(bucket_size, size=2)
        tf[:, b] = tf[:, a]
        dl[b] = dl[a]
    for _ in range(draw(st.integers(0, 2))):
        # cross-term twins: a top-scoring posting of term i alone and
        # its copy under term j alone — an exact tie (when the weights
        # match) between a seen doc and a not-yet-seen one
        a, b = rng.integers(bucket_size, size=2)
        i, j = rng.integers(n_terms, size=2)
        tf[:, [a, b]] = 0
        tf[i, a] = tf[j, b] = 3
        dl[a] = dl[b] = 40
    weights = [draw(st.sampled_from([0.5, 1.0, 2.25, 3.7])) for _ in range(n_terms)]
    idf_map = {f"t{t}": weights[t] for t in range(n_terms)}
    two_gen = draw(st.booleans())
    split = int(rng.integers(1, bucket_size))
    gen_avgdl = [AVGDL * draw(st.sampled_from([0.5, 1.0, 1.5])) for _ in range(2)]

    rows = []
    for t in range(n_terms):
        local = np.flatnonzero(tf[t])
        parts = (
            [(local[local < split], gen_avgdl[0]), (local[local >= split], gen_avgdl[1])]
            if two_gen
            else [(local, AVGDL)]
        )
        for loc, g in parts:
            if not loc.size:
                continue
            blob, bmax, boff, blast = pack_postings(loc + base, tf[t, loc], dl[loc], g)
            row = {
                "term": f"t{t}",
                "bucket": bucket,
                "postings": blob,
                "block_max": bmax,
                "block_offsets": boff,
                "block_last_doc": blast,
                "df_global": int(local.size),
                "_docs": loc + base,
                "_tf": tf[t, loc],
                "_dl": dl[loc],
            }
            if two_gen:
                row["gen_avgdl"] = g
            rows.append(row)
    rows = [rows[i] for i in rng.permutation(len(rows))]

    def id_set():
        kind = draw(st.sampled_from(["none", "empty", "some"]))
        if kind == "none":
            return None
        if kind == "empty":
            return np.array([], dtype=np.int64)
        frac = draw(st.sampled_from([0.05, 0.5, 0.95]))
        return np.flatnonzero(rng.random(bucket_size) < frac).astype(np.int64) + base

    return {
        "rows": rows,
        "seg": pd.DataFrame([{c: v for c, v in r.items() if not c.startswith("_")} for r in rows]),
        "idf_map": idf_map,
        "bucket_size": bucket_size,
        "base": base,
        "n_terms": n_terms,
        "k": draw(st.sampled_from([1, 2, 5, 10, 10_000])),
        "excl": id_set(),
        "incl": id_set(),
        "bonus": rng.choice([0.0, 0.5, 3.0], size=bucket_size),
        "mult": rng.choice([0.25, 0.5, 1.0], size=bucket_size),
    }


def _contrib(w, tf, dl):
    return w * (tf * (BM25_K1 + 1.0) / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / AVGDL)))


def _accumulate(rows, idf_map, excl, incl):
    """{doc: score} and {doc: set of matched terms}, rows in the given order."""
    acc: dict[int, float] = {}
    hit: dict[int, set] = {}
    excl_s = set() if excl is None else set(excl.tolist())
    incl_s = None if incl is None else set(incl.tolist())
    for r in rows:
        w = idf_map[r["term"]]
        for d, tf, dl in zip(r["_docs"].tolist(), r["_tf"].tolist(), r["_dl"].tolist()):
            if d in excl_s or (incl_s is not None and d not in incl_s):
                continue
            acc[d] = acc.get(d, 0.0) + _contrib(w, tf, dl)
            hit.setdefault(d, set()).add(r["term"])
    return acc, hit


def _ranked(scores: dict, k):
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


def _ub(r, idf_map):
    infl = max(1.0, AVGDL / r["gen_avgdl"]) if "gen_avgdl" in r else 1.0
    bm = np.asarray(r["block_max"], dtype=np.float64)
    return idf_map[r["term"]] * (BM25_K1 + 1.0) * bm.max() * infl


def _got(out):
    return list(zip(out["doc_id"].tolist(), out["score"].tolist()))


@SETTINGS
@given(b=buckets(), lane=st.sampled_from([None, "bonus", "mult"]), per_block=st.booleans())
def test_or_kernel_matches_oracle(b, lane, per_block):
    order = sorted(b["rows"], key=lambda r: -_ub(r, b["idf_map"]))
    acc, _ = _accumulate(order, b["idf_map"], b["excl"], b["incl"])
    final = {
        d: s if lane is None else (s + b[lane][d - b["base"]] if lane == "bonus" else s * b[lane][d - b["base"]])
        for d, s in acc.items()
    }
    out, n = _score_bucket(
        b["seg"], b["idf_map"], AVGDL, b["bucket_size"], b["k"],
        excl=b["excl"], incl=b["incl"], per_block_bounds=per_block,
        count_matches=True,
        **({} if lane is None else {lane: b[lane]}),
    )
    assert _got(out) == _ranked(final, b["k"])
    assert n == len(acc)
    # the pruned (count_matches=False) pass returns the same top-k
    pruned = _score_bucket(
        b["seg"], b["idf_map"], AVGDL, b["bucket_size"], b["k"],
        excl=b["excl"], incl=b["incl"], per_block_bounds=per_block,
        **({} if lane is None else {lane: b[lane]}),
    )
    assert _got(pruned) == _ranked(final, b["k"])


@SETTINGS
@given(b=buckets(), ranked_all=st.booleans())
def test_and_kernel_matches_oracle(b, ranked_all):
    k = None if ranked_all else b["k"]
    order = sorted(b["rows"], key=lambda r: (r["df_global"], r["term"]))
    acc, hit = _accumulate(order, b["idf_map"], b["excl"], b["incl"])
    both = {d: s for d, s in acc.items() if len(hit[d]) == b["n_terms"]}
    out, n = _score_bucket_and(
        b["seg"], b["idf_map"], AVGDL, b["bucket_size"], b["n_terms"], k,
        excl=b["excl"], incl=b["incl"], count_matches=True,
    )
    assert _got(out) == _ranked(both, k)
    assert n == len(both)


@SETTINGS
@given(b=buckets(), m=st.integers(1, 4))
def test_msm_kernel_matches_oracle(b, m):
    first_seen = list(dict.fromkeys(r["term"] for r in b["rows"]))
    order = sorted(b["rows"], key=lambda r: first_seen.index(r["term"]))
    acc, hit = _accumulate(order, b["idf_map"], b["excl"], b["incl"])
    want = {d: s for d, s in acc.items() if len(hit[d]) >= m}
    out = _score_bucket_msm(
        b["seg"], b["idf_map"], AVGDL, b["bucket_size"], m, b["k"],
        excl=b["excl"], incl=b["incl"],
    )
    assert _got(out) == _ranked(want, b["k"])


def test_or_kernel_keeps_exact_tie_from_unseen_term():
    """Doc 3 (only in t1) ties doc 10 (only in t0) exactly. After t0,
    θ equals that score, and t1's float32 block_max rounds BELOW the
    contribution it bounds: without bound headroom the kernel pruned
    doc 3 and returned doc 10, breaking the (score desc, doc_id asc)
    contract."""
    rows = []
    for term, doc in (("t0", 10), ("t1", 3)):
        blob, bmax, boff, blast = pack_postings(
            np.array([doc]), np.array([3]), np.array([399]), AVGDL
        )
        rows.append(
            {"term": term, "bucket": 0, "postings": blob, "block_max": bmax,
             "block_offsets": boff, "block_last_doc": blast, "df_global": 1}
        )
    out = _score_bucket(pd.DataFrame(rows), {"t0": 0.77, "t1": 0.77}, AVGDL, 256, 1)
    assert out["doc_id"].tolist() == [3]
    assert out["score"].tolist() == [_contrib(0.77, 3, 399)]
