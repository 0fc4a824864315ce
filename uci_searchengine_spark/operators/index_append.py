"""Incremental index growth: Lucene-style generations with upsert.

``append_index(spark, new_pages, index_dir)`` builds a complete
sub-index under ``<index>/gen-N/`` with the SAME pipeline as the root
build (two fused Arrow passes, manifests, resume) — only two knobs
differ: doc ids start after the parent's (``doc_id_base``) and the
parent's ``bucket_size`` is kept, so the doc-range bucket grid — the
thing per-bucket scoring and the co-located doc store both key on —
stays aligned across generations.

Query-side consequences (all wired):

* ``load_segments``/``load_docs`` (and so every scorer) union the
  generations; segments gain a ``gen_avgdl`` column.
* df: each generation's ``df_global`` counted only its own docs, so
  multi-gen queries aggregate df in-plan (the same path seg_split>1
  already uses) — exact corpus-wide df with no extra job.
* block-max admissibility: each generation's stored bounds used ITS
  build avgdl, while scoring uses the blended root avgdl; the scorer
  inflates per-row upper bounds by ``max(1, avgdl/gen_avgdl)``
  (``f = tf/(tf + c + m·dl)`` satisfies ``f_new ≤ f_old ·
  avgdl_new/avgdl_old`` when avgdl grows) so pruning never drops a
  true top-k doc.
* upsert: urls re-seen in the append batch get their OLD doc ids
  tombstoned (operators/tombstones.py) — the new version serves, the
  old one is excluded, statistics stay frozen until compaction.

Compaction = a fresh ``build_index`` over the current corpus (dedup by
url keeps the latest version); the root rebuild wipes generations and
tombstones and restarts the lineage.

For DISJOINT url sets, append ≡ rebuild: identical (url, score) rankings
(tests/test_append.py proves it query-for-query).

Reference: the crawler's continue-mode frontier (routes.py:158-188) is
the acquisition analog; the reference never merges into its index.
"""

from __future__ import annotations

import json
import os
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from uci_searchengine_spark.operators.index_build import (
    IndexMeta,
    build_index,
    load_docs,
)


def append_index(
    spark: SparkSession,
    new_pages: DataFrame,
    index_dir: str,
    input_snapshot: str = "append",
) -> IndexMeta:
    """Append a batch of pages as a new generation; returns the updated
    root meta."""
    meta = IndexMeta.load(index_dir)
    gen = int(getattr(meta, "gens", 1))
    gen_dir = os.path.join(index_dir, f"gen-{gen}")
    # id base: past every EXISTING id, not past the live count — a merged
    # parent preserves ids with holes (next_doc_id > n_docs there)
    nxt = int(getattr(meta, "next_doc_id", -1))
    base = nxt if nxt >= 0 else meta.n_docs

    # upsert: old ids of re-seen urls → tombstones (collected driver-side;
    # bounded by the overlap, and the join is broadcast-small)
    from pyspark.sql import functions as F

    stale = [
        r["doc_id"]
        for r in load_docs(spark, index_dir)
        .select("doc_id", "url")
        .join(F.broadcast(new_pages.select("url").distinct()), "url")
        .select("doc_id")
        .collect()
    ]

    gmeta = build_index(
        spark,
        new_pages,
        gen_dir,
        num_shards=meta.num_shards,
        n_buckets=meta.n_buckets,
        input_snapshot=f"{input_snapshot}#gen{gen}",
        stem=bool(getattr(meta, "stem", False)),
        positions=bool(getattr(meta, "positions", False)),
        doc_id_base=base,
        bucket_size_override=meta.bucket_size,
    )

    total = meta.n_docs + gmeta.n_docs
    avgdl = (
        (meta.avgdl * meta.n_docs + gmeta.avgdl * gmeta.n_docs) / total
        if total
        else 0.0
    )
    new_meta = replace(
        meta, n_docs=total, avgdl=avgdl, gens=gen + 1,
        next_doc_id=base + gmeta.n_docs,
    )
    # crash-safety for the upsert window: persist the stale-id list BEFORE
    # the meta commit — a crash between the meta os.replace and delete_docs
    # would otherwise serve BOTH versions of re-seen urls. IndexMeta.load
    # applies any pending file on next load, so the state self-heals.
    pending = os.path.join(index_dir, "pending-tombstones.json")
    if stale:
        # the gens marker gates application: a reader loading BETWEEN this
        # write and the meta commit must NOT hide the old versions yet
        # (the replacement generation isn't visible to it)
        with open(pending + ".tmp", "w") as f:
            f.write(json.dumps(
                {"gens": gen + 1, "ids": sorted(int(i) for i in stale)}
            ))
        os.replace(pending + ".tmp", pending)
    tmp = os.path.join(index_dir, "meta.json.tmp")
    with open(tmp, "w") as f:
        f.write(json.dumps(new_meta.__dict__, sort_keys=True))
    os.replace(tmp, os.path.join(index_dir, "meta.json"))

    if stale:
        from uci_searchengine_spark.operators.tombstones import delete_docs

        delete_docs(index_dir, stale)
        os.remove(pending)
    return new_meta
