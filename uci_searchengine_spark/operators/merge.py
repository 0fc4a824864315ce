"""Generation merge WITHOUT re-tokenization (Lucene-style segment merge).

``compact_index`` (operators/compact.py) folds generations + tombstones
by rebuilding from the doc store — it re-runs extract/tokenize/pack over
every live document. That is the semantics-preserving baseline, but at
corpus scale compaction should be IO-bound, not CPU-bound: a posting
list's bytes already exist in every generation; merging them needs a
decode → concatenate → re-delta → pack, never a tokenizer.

``merge_generations`` produces a fresh single-generation index at
``out_dir`` from the source index's own planes (segments and doc store;
there is no other postings plane to rebuild):

* **segments**: one task per ``shard=`` dir reads that shard's rows from
  every generation (the shard grid is shared across generations — term →
  shard never changes), decodes each (term, bucket) group's postings,
  concatenates across generations (generation doc-id ranges are disjoint
  and ascending — ``append_index`` bases each generation at the parent's
  n_docs — so concatenation in generation order IS doc order, asserted),
  drops tombstoned postings, and repacks with ``codec.pack_many_raw``
  under the merged corpus' avgdl. Block-max metadata comes out EXACT for
  the merged stats — queries on the merged index need no per-generation
  bound inflation and no in-plan df aggregation. The positional plane
  (when present) is carried through the same way (decode → mask by the
  surviving postings → ``pack_positions_raw`` on the new block grid).
* **doc store**: one task per ``bucket=`` dir concatenates the bucket's
  rows across generations minus tombstones, keeping the doc_id-sorted
  ``DOCS_ROW_GROUP`` layout the serving fetch prunes on.
* **stats un-freeze**: n_docs / avgdl / df are recomputed over survivors
  (integer sums — bit-identical to what a from-scratch rebuild computes),
  so merged BM25 scores equal a rebuild of the surviving pages; doc_ids
  are PRESERVED (stable external ids, holes allowed) where a rebuild
  would renumber.

Physical plan: two storage-shuffle jobs (the same pattern as the build's
stage 2 — ``exact_repartition`` over a unit driver table, each task
reading exactly its hive dir with pyarrow), zero JVM exchanges of
posting bytes, per-task resume manifests keyed by the source snapshot +
generation count + tombstone state. At 100 TB each shard task streams
(vocab/num_shards × buckets × gens) groups; a shard larger than task
memory splits on bucket ranges exactly like the build's ``seg_split``
(extension point — the group loop is already bucket-ordered).

Reference parity: the reference has no merge (SQLite rewrites pages in
place); this is the scale-side completion of the Lucene-shaped
append/tombstone lifecycle (operators/index_append.py docstring).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from uci_searchengine_spark.operators.index_build import (
    DOCS_ROW_GROUP,
    IndexMeta,
    _commit_manifest,
    _read_manifest,
    _wipe_stale,
    _write_snapshot_marker,
    generation_dirs,
)
from uci_searchengine_spark.operators.wand import _in_sorted

_DOC_RES = ("pid int, docs long, doc_len_sum long, max_doc long, "
            "bytes long, skipped boolean")
_SEG_RES = "pid int, rows long, postings long, bytes long, skipped boolean"
# task tables carry (pid, task): pid is a DENSE 0..P-1 placement key
# (exact_repartition requires values in [0, P)); task is the payload id
# (bucket value / composite shard·split) — present dirs can have gaps


def _tomb_sorted(index_dir: str) -> np.ndarray:
    from uci_searchengine_spark.operators.tombstones import load_tombstone_ids

    t = load_tombstone_ids(index_dir)
    return np.sort(t) if t.size else np.empty(0, dtype=np.int64)


def _bucket_dirs(src_dirs: list[str], sub: str) -> list[int]:
    """Sorted hive-partition values present under ``sub`` across all
    generations (driver-side listdir — O(dirs) metadata)."""
    vals: set[int] = set()
    for d in src_dirs:
        root = os.path.join(d, sub)
        if not os.path.isdir(root):
            continue
        for fn in os.listdir(root):
            if "=" in fn:
                vals.add(int(fn.split("=", 1)[1]))
    return sorted(vals)


def _docs_merge_fn(src_index_dir: str, src_dirs: list[str], out_dir: str,
                   snap: str):
    def run(it):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tomb = _tomb_sorted(src_index_dir)
        for pdf in it:
            for pid in pdf["task"].tolist():
                name = f"docs-{pid:05d}"
                m = _read_manifest(out_dir, name)
                if m and m.get("status") == "committed" and m.get(
                    "input_snapshot"
                ) == snap:
                    yield pd.DataFrame(
                        [[pid, m["docs"], m["doc_len_sum"],
                          m.get("max_doc", -1), m["bytes"], True]],
                        columns=["pid", "docs", "doc_len_sum", "max_doc",
                                 "bytes", "skipped"],
                    )
                    continue
                parts = []
                for d in src_dirs:
                    p = os.path.join(d, "docs", f"bucket={pid}")
                    if not os.path.isdir(p):
                        continue
                    for fn in sorted(os.listdir(p)):
                        if fn.endswith(".parquet"):
                            parts.append(pq.read_table(os.path.join(p, fn)))
                n = dl = size = 0
                max_doc = -1
                if parts:
                    tbl = pa.concat_tables(parts).combine_chunks()
                    ids = tbl.column("doc_id").to_numpy()
                    keep = ~_in_sorted(tomb, ids)
                    tbl = tbl.take(
                        np.flatnonzero(keep)[np.argsort(ids[keep],
                                                        kind="stable")]
                    )
                    n = tbl.num_rows
                    if n:
                        dl = int(tbl.column("doc_len").to_numpy().sum())
                        max_doc = int(tbl.column("doc_id").to_numpy().max())
                        odir = os.path.join(out_dir, "docs", f"bucket={pid}")
                        os.makedirs(odir, exist_ok=True)
                        path = os.path.join(odir, "part-00000.parquet")
                        pq.write_table(
                            tbl, path + ".tmp", compression="zstd",
                            row_group_size=DOCS_ROW_GROUP,
                        )
                        os.replace(path + ".tmp", path)
                        size = os.path.getsize(path)
                _commit_manifest(out_dir, name, {
                    "partition_id": pid, "docs": int(n), "doc_len_sum": dl,
                    "max_doc": max_doc, "postings": 0, "bytes": size,
                    "input_snapshot": snap, "status": "committed",
                })
                yield pd.DataFrame(
                    [[pid, int(n), dl, max_doc, size, False]],
                    columns=["pid", "docs", "doc_len_sum", "max_doc",
                             "bytes", "skipped"],
                )

    return run


def _seg_merge_fn(src_index_dir: str, src_dirs: list[str], out_dir: str,
                  snap: str, avgdl: float, positions: bool,
                  seg_split: int = 1, total_buckets: int = 0):
    """``seg_split`` > 1 (a shard larger than one task's memory): task
    pid encodes (shard, bucket-stripe); each task reads only its stripe
    (parquet bucket filter) and writes its own fragment file. df_global
    is then fragment-local — exactly the build's seg_split contract,
    resolved in-plan by every query path when meta.seg_split > 1."""

    def run(it):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from uci_searchengine_spark.operators.codec import (
            decode_binary_column,
            decode_postings_column,
            pack_many_raw,
            pack_positions_raw,
            undelta_runs,
        )

        tomb = _tomb_sorted(src_index_dir)
        stride = -(-max(total_buckets, 1) // seg_split)
        for pdf in it:
            for pid in pdf["task"].tolist():
                shard, sl = pid // seg_split, pid % seg_split
                name = f"segments-{pid:05d}"
                m = _read_manifest(out_dir, name)
                if m and m.get("status") == "committed" and m.get(
                    "input_snapshot"
                ) == snap:
                    yield pd.DataFrame(
                        [[pid, m["rows"], m["postings"], m["bytes"], True]],
                        columns=["pid", "rows", "postings", "bytes",
                                 "skipped"],
                    )
                    continue
                cols = ["term", "bucket", "df", "postings"] + (
                    ["positions"] if positions else []
                )
                filt = (
                    [("bucket", ">=", sl * stride),
                     ("bucket", "<", (sl + 1) * stride)]
                    if seg_split > 1
                    else None
                )
                parts = []
                for gi, d in enumerate(src_dirs):
                    p = os.path.join(d, "segments", f"shard={shard}")
                    if not os.path.isdir(p):
                        continue
                    for fn in sorted(os.listdir(p)):
                        if fn.endswith(".parquet"):
                            t = pq.read_table(os.path.join(p, fn),
                                              columns=cols, filters=filt)
                            parts.append(t.append_column(
                                "gen", pa.array([gi] * t.num_rows,
                                                pa.int32())
                            ))
                rows = post_total = size = 0
                if parts:
                    tbl = pa.concat_tables(parts).combine_chunks()
                if parts and tbl.num_rows:
                    term_codes, term_uniq = pd.factorize(
                        tbl.column("term").to_pandas(), sort=True
                    )
                    bucket = tbl.column("bucket").to_numpy()
                    gen = tbl.column("gen").to_numpy()
                    df_col = tbl.column("df").to_numpy().astype(np.int64)
                    # (term, bucket, gen) ascending: generation order IS
                    # doc order (append bases each gen past the parent)
                    order = np.lexsort((gen, bucket, term_codes))

                    # vectorized whole-shard decode: one varint pass over
                    # the postings column (measured ~20× the per-row loop)
                    ids0, tf0, dl0 = decode_postings_column(
                        tbl.column("postings"), df_col
                    )
                    roff = np.concatenate(([0], np.cumsum(df_col)))
                    # gather postings in sorted-row order (multi-range take)
                    lens = df_col[order]
                    total = int(lens.sum())
                    out_off = np.concatenate(([0], np.cumsum(lens)))
                    idx = (
                        np.repeat(roff[order] - out_off[:-1], lens)
                        + np.arange(total, dtype=np.int64)
                    )
                    ids, tf, dl = ids0[idx], tf0[idx], dl0[idx]
                    # group ids over sorted rows
                    tc, bk = term_codes[order], bucket[order]
                    new_grp = np.concatenate(
                        ([True], (tc[1:] != tc[:-1]) | (bk[1:] != bk[:-1]))
                    )
                    row_gid = np.cumsum(new_grp) - 1
                    n_groups = int(row_gid[-1]) + 1
                    gid = np.repeat(row_gid, lens)
                    gterm_all = tc[new_grp]
                    gbucket_all = bk[new_grp]
                    # group boundaries must already be in doc order
                    brk = np.flatnonzero(np.diff(gid) == 0)
                    assert np.all(np.diff(ids)[brk] > 0), (
                        "generation doc ranges out of order"
                    )
                    keep = ~_in_sorted(tomb, ids)
                    if positions:
                        # same single-pass decode for the positional plane;
                        # per-POSTING delta chains restart, counts = tf
                        pos0 = undelta_runs(decode_binary_column(
                            tbl.column("positions"), int(tf0.sum())
                        ).astype(np.int64), tf0)
                        prow = np.concatenate(([0], np.cumsum(tf0)))
                        plens = tf0[idx]
                        pout = np.concatenate(([0], np.cumsum(plens)))
                        pidx = (
                            np.repeat(prow[idx] - pout[:-1], plens)
                            + np.arange(int(plens.sum()), dtype=np.int64)
                        )
                        pos_flat = pos0[pidx][np.repeat(keep, tf)]
                    ids, tf, dl = ids[keep], tf[keep], dl[keep]
                    gid = gid[keep]
                    # surviving groups, group-relative starts
                    sizes = np.bincount(gid, minlength=n_groups)
                    live = np.flatnonzero(sizes)
                    rows = live.size
                    if rows:
                        starts = np.concatenate(
                            ([0], np.cumsum(sizes[live])[:-1])
                        )
                        lt = gterm_all[live].astype(np.int64)
                        lb = gbucket_all[live].astype(np.int64)
                        raw = pack_many_raw(ids, tf, dl, starts, avgdl)
                        G = rows
                        postings_arr = pa.Array.from_buffers(
                            pa.binary(), G,
                            [None,
                             pa.py_buffer(raw["group_bytes"].astype(np.int32)),
                             pa.py_buffer(raw["enc"])],
                        )
                        blk32 = pa.array(raw["blk_bounds"].astype(np.int32))
                        # df_global: term runs are contiguous (groups are
                        # (term, bucket)-sorted; whole shard in one task)
                        t_brk = np.concatenate(
                            ([0], np.flatnonzero(lt[1:] != lt[:-1]) + 1)
                        )
                        run_lens = np.diff(np.append(t_brk, G))
                        dfg = np.repeat(
                            np.add.reduceat(
                                raw["counts"].astype(np.int64), t_brk
                            ),
                            run_lens,
                        )
                        cols_out = {
                            "term": pa.array(
                                term_uniq.take(lt), pa.string()
                            ),
                            "bucket": pa.array(lb.astype(np.int32)),
                            "df": pa.array(raw["counts"].astype(np.int32)),
                            "postings": postings_arr,
                            "block_max": pa.ListArray.from_arrays(
                                blk32, pa.array(raw["block_max"])
                            ),
                            "block_offsets": pa.ListArray.from_arrays(
                                blk32, pa.array(raw["block_off"])
                            ),
                            "block_last_doc": pa.ListArray.from_arrays(
                                blk32, pa.array(raw["block_last"])
                            ),
                            "df_global": pa.array(dfg),
                        }
                        if positions:
                            praw = pack_positions_raw(
                                pos_flat, tf, starts,
                                raw["blk_bounds"], raw["block_start"],
                            )
                            cols_out["positions"] = pa.Array.from_buffers(
                                pa.large_binary(), G,
                                [None,
                                 pa.py_buffer(
                                     praw["group_bytes"].astype(np.int64)
                                 ),
                                 pa.py_buffer(praw["enc"])],
                            )
                            cols_out["pos_block_off"] = (
                                pa.ListArray.from_arrays(
                                    blk32, pa.array(praw["block_off"])
                                )
                            )
                        seg = pa.table(cols_out)
                        post_total = int(raw["counts"].sum())
                        odir = os.path.join(
                            out_dir, "segments", f"shard={shard}"
                        )
                        os.makedirs(odir, exist_ok=True)
                        path = os.path.join(odir, f"part-{sl:05d}.parquet")
                        pq.write_table(seg, path + ".tmp",
                                       compression="zstd")
                        os.replace(path + ".tmp", path)
                        size = os.path.getsize(path)
                _commit_manifest(out_dir, name, {
                    "partition_id": pid, "docs": 0,
                    "postings": int(post_total), "bytes": size,
                    "rows": int(rows),
                    "input_snapshot": snap, "status": "committed",
                })
                yield pd.DataFrame(
                    [[pid, int(rows), int(post_total), size, False]],
                    columns=["pid", "rows", "postings", "bytes", "skipped"],
                )

    return run


def should_merge(
    index_dir: str, max_gens: int = 4, max_tombstone_frac: float = 0.2
) -> bool:
    """Tiered merge policy (Lucene TieredMergePolicy analog, simplified
    to the two debts this index actually accumulates): merge when the
    generation count exceeds ``max_gens`` (every query scans one pruned
    dir per generation and pays in-plan df aggregation + block-max
    inflation) or when tombstones exceed ``max_tombstone_frac`` of the
    corpus (dead postings decoded then discarded by every scorer, and
    frozen df keeps idf stale). Metadata-only — no Spark job."""
    from uci_searchengine_spark.operators.tombstones import (
        tombstone_count_estimate,
    )

    meta = IndexMeta.load(index_dir)
    if int(getattr(meta, "gens", 1)) > max_gens:
        return True
    n = meta.n_docs or 1
    return tombstone_count_estimate(index_dir) / n > max_tombstone_frac


def maybe_merge(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    max_gens: int = 4,
    max_tombstone_frac: float = 0.2,
) -> "IndexMeta | None":
    """Run ``merge_generations`` iff ``should_merge`` — the call an
    ingest loop makes after each append. Returns the merged meta, or
    None when the index is healthy."""
    if not should_merge(index_dir, max_gens, max_tombstone_frac):
        return None
    return merge_generations(spark, index_dir, out_dir)


def merge_generations(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    input_snapshot: str = "merge",
    seg_split: int = 1,
) -> IndexMeta:
    """Merge ``index_dir``'s generations + tombstones into a fresh
    single-generation index at ``out_dir`` — no re-tokenization, doc ids
    preserved. Resumable per shard/bucket task (manifests keyed by the
    source's snapshot + gens + tombstone state). ``seg_split`` > 1
    splits each shard's merge over bucket stripes (shard ≫ one task's
    memory at corpus scale); the merged meta records it so queries
    aggregate the fragment-local df in-plan, exactly as after a split
    build."""
    from uci_searchengine_spark.operators.tombstones import (
        tombstone_count_estimate,
    )
    from uci_searchengine_spark.plans.partitioning import exact_repartition

    meta = IndexMeta.load(index_dir)
    src_dirs = generation_dirs(index_dir)
    snap = (
        f"merge:{meta.input_snapshot}:gens={meta.gens}"
        f":tomb={tombstone_count_estimate(index_dir)}"
        f":split={seg_split}:{input_snapshot}"
    )
    os.makedirs(out_dir, exist_ok=True)
    _wipe_stale(out_dir, snap)
    _write_snapshot_marker(out_dir, snap)

    # 1) doc store merge + merged corpus stats (integer sums — identical
    # to what a from-scratch rebuild would compute)
    buckets = _bucket_dirs(src_dirs, "docs")
    ddf = spark.createDataFrame(
        list(enumerate(buckets)) or [(0, -1)], "pid int, task int"
    )
    dres = (
        exact_repartition(ddf, max(len(buckets), 1), "pid")
        .mapInPandas(
            _docs_merge_fn(index_dir, src_dirs, out_dir, snap), _DOC_RES
        )
        .collect()
    )
    n_docs = sum(r["docs"] for r in dres)
    tot_dl = sum(r["doc_len_sum"] for r in dres)
    max_doc = max((r["max_doc"] for r in dres), default=-1)
    avgdl = tot_dl / n_docs if n_docs else 0.0
    _commit_manifest(out_dir, "stage-docs", {
        "status": "committed", "input_snapshot": snap,
        "n_docs": int(n_docs), "avgdl": avgdl, "doc_len_sum": int(tot_dl),
        "num_shards": meta.num_shards,
        "n_buckets": (max(buckets) + 1) if buckets else meta.n_buckets,
        "bucket_size": meta.bucket_size,
    })

    # 2) segment merge under the merged avgdl (exact block-max bounds)
    shards = _bucket_dirs(src_dirs, "segments")
    total_buckets = (max(buckets) + 1) if buckets else meta.n_buckets
    tasks = [s * seg_split + r for s in shards for r in range(seg_split)]
    sdf = spark.createDataFrame(
        list(enumerate(tasks)) or [(0, -1)], "pid int, task int"
    )
    (
        exact_repartition(sdf, max(len(tasks), 1), "pid")
        .mapInPandas(
            _seg_merge_fn(
                index_dir, src_dirs, out_dir, snap, avgdl,
                bool(getattr(meta, "positions", False)),
                seg_split=seg_split, total_buckets=total_buckets,
            ),
            _SEG_RES,
        )
        .collect()
    )

    new_meta = IndexMeta(
        n_docs=int(n_docs),
        avgdl=avgdl,
        num_shards=meta.num_shards,
        n_buckets=(max(buckets) + 1) if buckets else meta.n_buckets,
        bucket_size=meta.bucket_size,
        input_snapshot=snap,
        seg_split=seg_split,
        stem=bool(getattr(meta, "stem", False)),
        positions=bool(getattr(meta, "positions", False)),
        gens=1,
        # ids are PRESERVED with holes: the live count (idf input) can
        # sit below existing ids — a future append must base past them
        next_doc_id=max_doc + 1,
    )
    tmp = os.path.join(out_dir, "meta.json.tmp")
    with open(tmp, "w") as f:
        f.write(new_meta.to_json())
    os.replace(tmp, os.path.join(out_dir, "meta.json"))
    return new_meta
