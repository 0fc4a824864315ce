"""Compressed posting-list codec: docID-delta + LEB128 varint, block-max.

Physical format (FIXTURES.md §2, north_star):

* postings ``binary``: interleaved LEB128 varints
  ``gap_0 tf_0 dl_0 gap_1 tf_1 dl_1 …`` where ``gap_0 = doc_id_0 + 1`` and
  ``gap_i = doc_id_i - doc_id_{i-1}`` (always ≥ 1 — doc ids are unique and
  sorted ascending). ``dl`` is the document length, stored inline so BM25
  scoring needs NO side lookup — a per-query join against a doc-length
  table would shuffle every document's length for every query at corpus
  scale (the reference re-tokenizes every candidate doc per term at query
  time, search.py:92 — the same mistake magnified).
* blocks of ``BLOCK_SIZE`` (=128) postings. Per block we store:
  - ``block_offsets``: byte offset of the block's first varint (skip pointer),
  - ``block_last_doc``: last doc_id in the block (WAND skipping),
  - ``block_max``: max over the block of the idf-independent BM25 factor
    ``tf / (tf + k1*(1 - b + b*doc_len/avgdl))`` so the query-time upper
    bound for the block is ``idf(t) * (k1+1) * block_max`` (block-max WAND).

Everything is vectorized numpy — no per-element Python on encode or decode.

Replaces the reference's row-per-posting SQLite table
(/root/reference/backend/app/database/models.py:182-197); ordering within a
term there was implicit insert order (models.py:187) — here it is an
explicit sort by doc_id, the prerequisite for delta coding and WAND.
"""

from __future__ import annotations

import numpy as np

from uci_searchengine_spark import BLOCK_SIZE, BM25_B, BM25_K1


def _varint_lengths(v: np.ndarray) -> np.ndarray:
    """Byte length of each value's LEB128 encoding (≤9 vector compares)."""
    nbytes = np.ones(v.shape, dtype=np.int64)
    for k in range(1, 10):
        bound = np.uint64(1) << np.uint64(7 * k)
        nbytes += v >= bound
    return nbytes


def _varint_encode_core(v: np.ndarray, nbytes: np.ndarray) -> np.ndarray:
    """LEB128 bytes for the whole value array (uint8 array out).

    Byte-plane scatter: pass k writes byte k of every value still long
    enough — ≤10 passes over shrinking subsets, no per-byte index
    mapping. ~4x cheaper than the owner-searchsorted formulation and far
    friendlier to memory bandwidth under many concurrent workers.
    """
    starts = np.cumsum(nbytes) - nbytes
    total = int(starts[-1] + nbytes[-1]) if nbytes.size else 0
    out = np.empty(total, dtype=np.uint8)
    maxb = int(nbytes.max())
    idx = starts
    vals = v
    nb = nbytes
    for k in range(maxb):
        if k > 0:
            m = nb > k
            idx = idx[m]
            vals = vals[m]
            nb = nb[m]
        chunk = (vals >> np.uint64(7 * k)).astype(np.uint8) & np.uint8(0x7F)
        cont = (nb > k + 1).astype(np.uint8) << 7
        out[idx + k] = chunk | cont
    return out


def encode_varints(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, fully vectorized."""
    v = values.astype(np.uint64, copy=False)
    if v.size == 0:
        return b""
    return _varint_encode_core(v, _varint_lengths(v)).tobytes()


def decode_varints(buf: bytes, offset: int = 0, count: int | None = None) -> np.ndarray:
    """Decode LEB128 varints from ``buf[offset:]``; vectorized.

    If ``count`` is given, decodes exactly that many values (ignoring
    trailing bytes); else decodes to the end of the buffer.
    """
    b = np.frombuffer(buf, dtype=np.uint8, offset=offset)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    if count is not None:
        # truncate to the first `count` terminators
        lasts = np.flatnonzero(is_last)
        b = b[: lasts[count - 1] + 1]
        is_last = is_last[: lasts[count - 1] + 1]
    # group id per byte = number of terminators before it
    gid = np.concatenate(([0], np.cumsum(is_last)[:-1]))
    starts = np.concatenate(([0], np.flatnonzero(is_last)[:-1] + 1))
    pos = np.arange(b.size, dtype=np.int64) - starts[gid]
    contrib = (b.astype(np.uint64) & np.uint64(0x7F)) << (
        np.uint64(7) * pos.astype(np.uint64)
    )
    n = int(is_last.sum())
    out = np.zeros(n, dtype=np.uint64)
    np.add.at(out, gid, contrib)  # ≤10 bytes/value → no overflow within uint64
    return out


def decode_binary_column(col, count: int) -> np.ndarray:
    """Decode ``count`` varints straight out of a (large_)binary
    column's Arrow value buffer — the buffer IS the concatenation of
    every row's blob (each a whole number of varints), so one
    vectorized ``decode_varints`` covers the whole column; no per-row
    python, no per-row bytes objects."""
    import pyarrow as pa

    if count == 0:
        return np.empty(0, dtype=np.uint64)
    arr = col.chunk(0) if isinstance(col, pa.ChunkedArray) else col
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    voff = np.frombuffer(arr.buffers()[1], dtype=width)
    start = int(voff[arr.offset])
    return decode_varints(arr.buffers()[2], offset=start, count=count)


def decode_postings_column(postings, df: np.ndarray):
    """Whole-column inverse of the segment packers: a segment batch's
    ``postings`` column (one blob per row) and its ``df`` column (postings
    per row) → (doc_ids, tfs, doc_lens) int64 arrays, rows concatenated
    in column order. One varint decode for the column, then a per-row
    restart of the delta chain (each row's first gap is doc_id + 1)."""
    df = np.asarray(df, dtype=np.int64)
    vals = decode_binary_column(postings, 3 * int(df.sum()))
    ids = undelta_runs(vals[0::3].astype(np.int64), df)
    return ids, vals[1::3].astype(np.int64), vals[2::3].astype(np.int64)


def undelta_runs(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Invert per-run delta coding over concatenated runs of ``counts``
    values each: every run restarts its chain, first delta = value + 1."""
    cs = np.cumsum(deltas)
    starts = np.cumsum(counts) - counts
    return cs - np.repeat(cs[starts] - deltas[starts], counts) - 1


def bm25_tf_factor(tf: np.ndarray, doc_len: np.ndarray, avgdl: float) -> np.ndarray:
    """idf-independent BM25 factor tf/(tf + k1*(1-b+b*dl/avgdl)), float64."""
    tf = tf.astype(np.float64)
    denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * doc_len.astype(np.float64) / avgdl)
    return tf / denom


def pack_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    avgdl: float,
) -> tuple[bytes, np.ndarray, np.ndarray, np.ndarray]:
    """Pack one term's postings (already sorted by doc_id asc, unique).

    Returns (postings_bytes, block_max float32[], block_offsets int32[],
    block_last_doc int64[]).
    """
    n = doc_ids.size
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = np.uint64(doc_ids[0] + 1)
    if n > 1:
        gaps[1:] = np.diff(doc_ids).astype(np.uint64)
    interleaved = np.empty(3 * n, dtype=np.uint64)
    interleaved[0::3] = gaps
    interleaved[1::3] = tfs.astype(np.uint64)
    interleaved[2::3] = doc_lens.astype(np.uint64)

    # per-block byte offsets: encode per block so offsets are exact
    factors = bm25_tf_factor(tfs, doc_lens, avgdl)
    n_blocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    offsets = np.zeros(n_blocks, dtype=np.int32)
    block_max = np.zeros(n_blocks, dtype=np.float32)
    block_last = np.zeros(n_blocks, dtype=np.int64)
    chunks = []
    off = 0
    for bi in range(n_blocks):
        lo, hi = bi * BLOCK_SIZE, min((bi + 1) * BLOCK_SIZE, n)
        enc = encode_varints(interleaved[3 * lo : 3 * hi])
        offsets[bi] = off
        off += len(enc)
        chunks.append(enc)
        block_max[bi] = factors[lo:hi].max()
        block_last[bi] = doc_ids[hi - 1]
    return b"".join(chunks), block_max, offsets, block_last


def pack_many_raw(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    group_starts: np.ndarray,
    avgdl: float,
):
    """Pack MANY posting lists at once — the batch-vectorized form of
    :func:`pack_postings`, shaped for Arrow output construction.

    Input: the concatenated postings of all groups (sorted by doc_id within
    each group) plus ``group_starts`` (first row index of each group,
    sorted, starting at 0). One varint encode covers the entire stream;
    per-block maxima come from ``np.maximum.reduceat``.

    Returns a dict of flat arrays instead of per-group Python objects —
    the caller assembles ``pa.BinaryArray``/``pa.ListArray`` directly from
    offsets, so NO per-group Python objects are ever created:

    * ``enc``          uint8[]   — the whole partition's varint stream,
    * ``group_bytes``  int64[G+1] — byte bounds of group i in ``enc``,
    * ``counts``       int64[G]  — postings per group (df),
    * ``blk_bounds``   int64[G+1] — block-array bounds of group i,
    * ``block_max``    float32[B], ``block_off`` int32[B] (group-relative),
      ``block_last``   int64[B].
    """
    n = doc_ids.size
    g = np.asarray(group_starts, dtype=np.int64)
    counts = np.diff(np.append(g, n))

    gaps = np.empty(n, dtype=np.uint64)
    if n > 1:
        gaps[1:] = np.diff(doc_ids).astype(np.uint64)
    gaps[g] = (doc_ids[g] + 1).astype(np.uint64)
    iv = np.empty(3 * n, dtype=np.uint64)
    iv[0::3] = gaps
    iv[1::3] = tfs.astype(np.uint64)
    iv[2::3] = doc_lens.astype(np.uint64)
    nbytes = _varint_lengths(iv)
    enc = _varint_encode_core(iv, nbytes)
    val_start = np.concatenate(([0], np.cumsum(nbytes)[:-1]))

    nb_per_group = np.maximum((counts + BLOCK_SIZE - 1) // BLOCK_SIZE, 1)
    total_blocks = int(nb_per_group.sum())
    rep_gstart = np.repeat(g, nb_per_group)
    blk_bounds = np.concatenate(([0], np.cumsum(nb_per_group)))
    block_ord = np.arange(total_blocks, dtype=np.int64) - np.repeat(
        blk_bounds[:-1], nb_per_group
    )
    block_start = rep_gstart + block_ord * BLOCK_SIZE
    group_end_rep = np.repeat(g + counts, nb_per_group)
    block_end = np.minimum(block_start + BLOCK_SIZE, group_end_rep)

    factors = bm25_tf_factor(tfs, doc_lens, avgdl)
    block_max = np.maximum.reduceat(factors, block_start).astype(np.float32)
    block_last = doc_ids[block_end - 1].astype(np.int64)
    group_bytes = np.append(val_start[3 * g], enc.size).astype(np.int64)
    block_off = (
        val_start[3 * block_start] - np.repeat(group_bytes[:-1], nb_per_group)
    ).astype(np.int32)
    return {
        "enc": enc,
        "group_bytes": group_bytes,
        "counts": counts,
        "blk_bounds": blk_bounds,
        "block_max": block_max,
        "block_off": block_off,
        "block_last": block_last,
        # posting index of each block's first posting — the grid handle
        # the positional plane (pack_positions_raw) aligns to
        "block_start": block_start,
    }


def unpack_postings(buf: bytes, offset: int = 0, count: int | None = None):
    """Inverse of pack: returns (doc_ids int64[], tfs int32[], dls int32[])."""
    vals = decode_varints(buf, offset=offset, count=None if count is None else 3 * count)
    gaps = vals[0::3].astype(np.int64)
    tfs = vals[1::3].astype(np.int32)
    dls = vals[2::3].astype(np.int32)
    doc_ids = np.cumsum(gaps) - 1
    return doc_ids, tfs, dls


# --------------------------------------------------------------- positions
# Optional positional plane (Lucene-style): per posting, the token
# positions of the term inside the doc, delta-varint encoded
# (first = pos_0 + 1, then diffs — positions are strictly increasing).
# Stored as a SEPARATE blob per (term, bucket) group with its own
# per-block byte offsets aligned to the SAME block grid as the postings
# plane, so candidate-restricted decode can skip straight to a block.
# The per-posting value counts are the tfs, which the main plane already
# carries — no extra length bookkeeping on disk.


def pack_positions_raw(
    pos_flat: np.ndarray,
    tfs: np.ndarray,
    group_starts: np.ndarray,
    blk_bounds: np.ndarray,
    block_start: np.ndarray,
):
    """Encode the positional plane for many groups at once.

    Inputs: ``pos_flat`` — every posting's positions concatenated in
    posting order; ``tfs`` — values per posting (== tf); ``group_starts``
    — first POSTING index of each group; ``blk_bounds``/``block_start`` —
    the block grid exactly as :func:`pack_many_raw` computed it.

    Returns dict: ``enc`` uint8[] (whole stream), ``group_bytes``
    int64[G+1] (byte bounds per group), ``block_off`` int32[B]
    (group-relative byte offset of each block's positions).
    """
    n_post = tfs.size
    g = np.asarray(group_starts, dtype=np.int64)
    row_off = np.concatenate(([0], np.cumsum(tfs.astype(np.int64))))
    pv = pos_flat.astype(np.int64, copy=False)
    assert pv.size == row_off[-1], "positions/tf mismatch"

    deltas = np.empty(pv.size, dtype=np.uint64)
    if pv.size:
        deltas[1:] = np.diff(pv).astype(np.uint64)  # overwritten at starts
        starts = row_off[:-1]
        deltas[starts] = (pv[starts] + 1).astype(np.uint64)
    nbytes = _varint_lengths(deltas)
    enc = (
        _varint_encode_core(deltas, nbytes)
        if deltas.size
        else np.empty(0, dtype=np.uint8)
    )
    val_byte = np.concatenate(([0], np.cumsum(nbytes))).astype(np.int64)

    group_bytes = np.append(
        val_byte[row_off[g]], enc.size
    ).astype(np.int64)
    nb_per_group = np.diff(blk_bounds)
    rel = val_byte[row_off[block_start]] - np.repeat(group_bytes[:-1], nb_per_group)
    # block_off is stored int32 GROUP-relative; the plane itself is
    # large_binary (a task's whole stream may pass 2 GiB) but a SINGLE
    # (term,bucket) group's encoded positions must fit int32 — enforce it
    # rather than silently wrapping (mitigation: smaller bucket_size
    # splits the offending group across buckets)
    if rel.size and int(rel.max()) >= 2**31:
        raise OverflowError(
            f"a single (term,bucket) positions group spans {int(rel.max())} "
            "bytes (≥2GiB int32 offset limit); rebuild with a smaller "
            "bucket_size"
        )
    block_off = rel.astype(np.int32)
    return {"enc": enc, "group_bytes": group_bytes, "block_off": block_off}


def unpack_positions(
    buf: bytes, tfs: np.ndarray, offset: int = 0
) -> tuple[np.ndarray, np.ndarray]:
    """Decode positions for a run of postings whose value counts are
    ``tfs`` (block-at-a-time use: pass the block's tf array and its
    pos_block_off byte offset). Returns (pos_flat int64[], row_off
    int64[len(tfs)+1]) — posting i's positions are
    pos_flat[row_off[i]:row_off[i+1]], strictly ascending."""
    total = int(tfs.sum())
    row_off = np.concatenate(([0], np.cumsum(tfs.astype(np.int64))))
    if total == 0:
        return np.empty(0, dtype=np.int64), row_off
    vals = decode_varints(buf, offset=offset, count=total).astype(np.int64)
    return undelta_runs(vals, tfs.astype(np.int64)), row_off
