import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from uci_searchengine_spark import BLOCK_SIZE
from uci_searchengine_spark.operators.codec import (
    bm25_tf_factor,
    decode_varints,
    encode_varints,
    pack_postings,
    unpack_postings,
)


def test_varint_roundtrip_simple():
    vals = np.array([0, 1, 127, 128, 255, 300, 2**21, 2**35, 2**63 - 1], dtype=np.uint64)
    assert np.array_equal(decode_varints(encode_varints(vals)), vals)


def test_varint_empty():
    assert encode_varints(np.empty(0, dtype=np.uint64)) == b""
    assert decode_varints(b"").size == 0


@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=1, max_size=500)
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(decode_varints(encode_varints(arr)), arr)


def test_varint_count_param():
    vals = np.arange(10, dtype=np.uint64) * 1000
    buf = encode_varints(vals)
    assert np.array_equal(decode_varints(buf, count=4), vals[:4])


@given(
    st.sets(st.integers(min_value=0, max_value=10**7), min_size=1, max_size=700),
    st.integers(min_value=1, max_value=50),
)
@settings(max_examples=50, deadline=None)
def test_postings_roundtrip_property(doc_id_set, tf_max):
    rng = np.random.RandomState(7)
    doc_ids = np.array(sorted(doc_id_set), dtype=np.int64)
    tfs = rng.randint(1, tf_max + 1, size=doc_ids.size).astype(np.int32)
    dls = rng.randint(10, 500, size=doc_ids.size).astype(np.int64)
    blob, bmax, offs, lasts = pack_postings(doc_ids, tfs, dls, avgdl=120.0)
    d2, t2, l2 = unpack_postings(blob)
    assert np.array_equal(d2, doc_ids)
    assert np.array_equal(t2, tfs)
    assert np.array_equal(l2, dls)
    # block metadata invariants
    n_blocks = (doc_ids.size + BLOCK_SIZE - 1) // BLOCK_SIZE
    assert len(bmax) == len(offs) == len(lasts) == n_blocks
    assert lasts[-1] == doc_ids[-1]
    assert offs[0] == 0
    factors = bm25_tf_factor(tfs, dls, 120.0)
    for bi in range(n_blocks):
        lo, hi = bi * BLOCK_SIZE, min((bi + 1) * BLOCK_SIZE, doc_ids.size)
        assert abs(bmax[bi] - factors[lo:hi].max()) < 1e-6
        assert lasts[bi] == doc_ids[hi - 1]


def test_block_decode_with_offsets():
    """Decoding an individual block via its byte offset + rebase."""
    doc_ids = np.arange(0, 1000, 3, dtype=np.int64)  # 334 postings → 3 blocks
    tfs = (doc_ids % 7 + 1).astype(np.int32)
    dls = np.full(doc_ids.size, 100, dtype=np.int64)
    blob, _, offs, lasts = pack_postings(doc_ids, tfs, dls, avgdl=100.0)
    for bi in range(len(offs)):
        lo, hi = bi * BLOCK_SIZE, min((bi + 1) * BLOCK_SIZE, doc_ids.size)
        cnt = hi - lo
        d, t, l = unpack_postings(bytes(blob), offset=int(offs[bi]), count=cnt)
        if bi > 0:
            d = d + (lasts[bi - 1] + 1)
        assert np.array_equal(d, doc_ids[lo:hi])
        assert np.array_equal(t, tfs[lo:hi])
        assert np.array_equal(l, dls[lo:hi])


@given(
    st.lists(
        st.tuples(
            st.sets(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=300),
            st.integers(min_value=1, max_value=30),
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=30, deadline=None)
def test_pack_many_raw_equals_per_group_pack(groups):
    """The batch-vectorized production packer (pack_many_raw, stage 2) must
    emit byte-identical blobs and identical block metadata to the simple
    per-group pack_postings for EVERY group in a concatenated stream."""
    from uci_searchengine_spark.operators.codec import pack_many_raw

    rng = np.random.RandomState(11)
    per_group = []
    for doc_set, tf_max in groups:
        d = np.array(sorted(doc_set), dtype=np.int64)
        t = rng.randint(1, tf_max + 1, size=d.size).astype(np.int32)
        l = rng.randint(10, 400, size=d.size).astype(np.int64)
        per_group.append((d, t, l))
    doc_ids = np.concatenate([g[0] for g in per_group])
    tfs = np.concatenate([g[1] for g in per_group])
    dls = np.concatenate([g[2] for g in per_group])
    starts = np.cumsum([0] + [g[0].size for g in per_group[:-1]])

    raw = pack_many_raw(doc_ids, tfs, dls, np.asarray(starts, dtype=np.int64), 120.0)
    enc = raw["enc"].tobytes()
    for i, (d, t, l) in enumerate(per_group):
        blob_ref, bmax_ref, offs_ref, lasts_ref = pack_postings(d, t, l, avgdl=120.0)
        b0, b1 = int(raw["group_bytes"][i]), int(raw["group_bytes"][i + 1])
        assert enc[b0:b1] == blob_ref
        k0, k1 = int(raw["blk_bounds"][i]), int(raw["blk_bounds"][i + 1])
        assert np.array_equal(raw["block_max"][k0:k1], bmax_ref)
        assert np.array_equal(raw["block_off"][k0:k1], offs_ref)
        assert np.array_equal(raw["block_last"][k0:k1], lasts_ref)
        assert raw["counts"][i] == d.size


@given(
    st.lists(
        st.sets(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=300),
        min_size=1,
        max_size=12,
    ),
    st.booleans(),
)
@settings(max_examples=30, deadline=None)
def test_decode_postings_column_inverts_pack_many_raw(doc_sets, large):
    """The whole-column decoder (merge + the relational scorers' scan)
    returns every row's (doc_id, tf, doc_len) in column order, for
    (large_)binary columns and for a slice that starts past row 0."""
    import pyarrow as pa

    from uci_searchengine_spark.operators.codec import (
        decode_postings_column,
        pack_many_raw,
    )

    groups = [np.array(sorted(s), dtype=np.int64) for s in doc_sets]
    doc_ids = np.concatenate(groups)
    tfs = np.arange(doc_ids.size) % 7 + 1
    dls = np.arange(doc_ids.size) % 300 + 10
    starts = np.cumsum([0] + [g.size for g in groups[:-1]])
    raw = pack_many_raw(doc_ids, tfs, dls, np.asarray(starts, dtype=np.int64), 120.0)
    col = pa.Array.from_buffers(
        pa.large_binary() if large else pa.binary(), len(groups),
        [None,
         pa.py_buffer(raw["group_bytes"].astype(np.int64 if large else np.int32)),
         pa.py_buffer(raw["enc"])],
    )
    skip = groups[0].size
    d, t, l = decode_postings_column(col.slice(1), raw["counts"][1:])
    assert np.array_equal(d, doc_ids[skip:])
    assert np.array_equal(t, tfs[skip:])
    assert np.array_equal(l, dls[skip:])


@given(
    st.sets(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=400),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=1, max_value=5),
)
@settings(max_examples=40, deadline=None)
def test_positions_roundtrip_property(doc_id_set, tf_max, n_groups):
    """Positional plane: block-level round-trip for arbitrary group/tf
    shapes against the SAME block grid as the postings plane."""
    from uci_searchengine_spark.operators.codec import (
        pack_many_raw,
        pack_positions_raw,
        unpack_positions,
    )

    rng = np.random.RandomState(11)
    doc_ids_all = np.array(sorted(doc_id_set), dtype=np.int64)
    n_groups = min(n_groups, doc_ids_all.size)
    bounds = np.linspace(0, doc_ids_all.size, n_groups + 1).astype(np.int64)
    gstarts = bounds[:-1]
    tfs = rng.randint(1, tf_max + 1, size=doc_ids_all.size).astype(np.int32)
    dls = rng.randint(10, 500, size=doc_ids_all.size).astype(np.int64)
    pos_lists = [
        np.sort(rng.choice(10_000, size=int(t), replace=False)).astype(np.int64)
        for t in tfs
    ]
    raw = pack_many_raw(doc_ids_all, tfs, dls, gstarts, avgdl=120.0)
    praw = pack_positions_raw(
        np.concatenate(pos_lists), tfs, gstarts, raw["blk_bounds"], raw["block_start"]
    )
    enc, penc = raw["enc"].tobytes(), praw["enc"].tobytes()
    counts = raw["counts"]
    for gi in range(len(gstarts)):
        pblob = penc[praw["group_bytes"][gi] : praw["group_bytes"][gi + 1]]
        mblob = enc[raw["group_bytes"][gi] : raw["group_bytes"][gi + 1]]
        b0, b1 = raw["blk_bounds"][gi], raw["blk_bounds"][gi + 1]
        for bi in range(b1 - b0):
            lo = bi * BLOCK_SIZE
            hi = min(lo + BLOCK_SIZE, counts[gi])
            _d, t, _l = unpack_postings(
                mblob, offset=int(raw["block_off"][b0 + bi]), count=int(hi - lo)
            )
            pf, ro = unpack_positions(
                pblob, t, offset=int(praw["block_off"][b0 + bi])
            )
            for j in range(int(hi - lo)):
                assert np.array_equal(
                    pos_lists[int(gstarts[gi]) + lo + j], pf[ro[j] : ro[j + 1]]
                )
