"""FIXTURES.md §9: determinism across parallelism + kill/resume."""

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

SEED = 1337
N = 120


@pytest.mark.spark
class TestDocIds:
    def test_dense_and_stable_across_partitionings(self, spark):
        from uci_searchengine_spark.plans.docids import assign_doc_ids

        df = spark.createDataFrame(
            [(f"u{i:04d}",) for i in range(97)], "url string"
        )
        a = {
            r["url"]: r["doc_id"]
            for r in assign_doc_ids(df.repartition(2), "url").collect()
        }
        b = {
            r["url"]: r["doc_id"]
            for r in assign_doc_ids(df.repartition(13), "url").collect()
        }
        assert a == b
        assert sorted(a.values()) == list(range(97))  # dense
        # rank order == url order
        assert a["u0000"] == 0 and a["u0096"] == 96


@pytest.mark.spark
@pytest.mark.slow
class TestBuildDeterminism:
    def _build(self, spark, tmpdir, partitions, write_partitions, positions=False):
        from uci_searchengine_spark.operators.index_build import build_index
        from uci_searchengine_spark.sources.synth import synth_pages

        pages = synth_pages(spark, N, SEED, partitions=partitions)
        build_index(
            spark,
            pages,
            tmpdir,
            num_shards=4,
            n_buckets=4,
            input_snapshot=f"synth:seed={SEED}:n={N}",
            write_partitions=write_partitions,
            positions=positions,
        )

    def _segment_contents(self, spark, d, positions=False):
        from uci_searchengine_spark.operators.index_build import load_segments

        rows = load_segments(spark, d).collect()
        return sorted(
            (
                r["shard"],
                r["term"],
                r["bucket"],
                r["df"],
                bytes(r["postings"]).hex(),
                tuple(r["block_last_doc"]),
            )
            + (
                (bytes(r["positions"]).hex(), tuple(r["pos_block_off"]))
                if positions
                else ()
            )
            for r in rows
        )

    def test_identical_segments_across_parallelism(self, spark, tmp_path_factory):
        d1 = str(tmp_path_factory.mktemp("idx_p2"))
        d2 = str(tmp_path_factory.mktemp("idx_p11"))
        self._build(spark, d1, partitions=2, write_partitions=3)
        self._build(spark, d2, partitions=11, write_partitions=7)
        assert self._segment_contents(spark, d1) == self._segment_contents(spark, d2)

    def test_fast_resume_runs_zero_spark_jobs(self, spark, tmp_path_factory):
        """A fully committed index (meta.json present, stage-docs
        committed, same snapshot + layout) must resume WITHOUT any
        Spark job — no url-stats pre-pass, no stage-2 manifest sweep."""
        from uci_searchengine_spark.operators.index_build import build_index

        from uci_searchengine_spark.operators.index_build import IndexMeta

        d = str(tmp_path_factory.mktemp("idx_fast"))
        self._build(spark, d, partitions=4, write_partitions=4)
        committed = IndexMeta.load(d)
        tracker = spark.sparkContext._jsc.sc().statusTracker()
        jobs_before = len(tracker.getJobIdsForGroup(None))
        meta = build_index(
            spark,
            None,  # fast resume must not touch the pages side at all
            d,
            num_shards=4,
            n_buckets=4,
            input_snapshot=f"synth:seed={SEED}:n={N}",
            write_partitions=4,
        )
        assert meta == committed
        assert len(tracker.getJobIdsForGroup(None)) == jobs_before
        # a DIFFERENT snapshot must not fast-resume (stale guard)
        from uci_searchengine_spark.operators.index_build import (
            _try_fast_resume,
        )

        assert (
            _try_fast_resume(
                d,
                "synth:seed=999:n=1",
                num_shards=4,
                n_buckets=4,
                write_partitions=4,
                stem=False,
                positions=False,
                doc_id_base=0,
                bucket_size_override=None,
            )
            is None
        )

    def test_fast_resume_removes_leftover_flat_postings(
        self, spark, tmp_path_factory
    ):
        """A kill between the meta.json commit and the removal of the
        stage-1 flat postings leaves postings_flat/ behind: the next
        build of the same snapshot removes it, still without any Spark
        job."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from uci_searchengine_spark.operators.index_build import build_index

        d = str(tmp_path_factory.mktemp("idx_leftover"))
        self._build(spark, d, partitions=4, write_partitions=4)
        flat = os.path.join(d, "postings_flat")
        assert not os.path.exists(flat)
        leftover = os.path.join(flat, "pshard=0", "part-x.parquet")
        os.makedirs(os.path.dirname(leftover))
        pq.write_table(pa.table({"term": ["stop0"]}), leftover)
        tracker = spark.sparkContext._jsc.sc().statusTracker()
        jobs_before = len(tracker.getJobIdsForGroup(None))
        build_index(
            spark,
            None,
            d,
            num_shards=4,
            n_buckets=4,
            input_snapshot=f"synth:seed={SEED}:n={N}",
            write_partitions=4,
        )
        assert len(tracker.getJobIdsForGroup(None)) == jobs_before
        assert not os.path.exists(flat)

    def test_resume_skips_committed_and_is_bit_equal(self, spark, tmp_path_factory):
        from uci_searchengine_spark.operators.index_build import _read_manifest

        d_full = str(tmp_path_factory.mktemp("idx_full"))
        d_kill = str(tmp_path_factory.mktemp("idx_kill"))
        self._build(spark, d_full, partitions=4, write_partitions=4)
        self._build(spark, d_kill, partitions=4, write_partitions=4)

        # simulate a kill after some manifests committed: delete half the
        # segment manifests + their files, keep the docs stage. meta.json
        # must go too — it is written LAST and atomically, so no real
        # kill can leave a meta.json alongside missing stage manifests
        # (its presence is what build_index's fast-resume path trusts).
        os.remove(os.path.join(d_kill, "meta.json"))
        seg_manifests = sorted(
            glob.glob(os.path.join(d_kill, "_manifest", "segments-*.json"))
        )
        assert len(seg_manifests) >= 2
        killed = seg_manifests[: len(seg_manifests) // 2]
        for m in killed:
            pid = json.load(open(m))["partition_id"]
            os.remove(m)
            for f in glob.glob(
                os.path.join(d_kill, "segments", "shard=*", f"part-{pid:05d}.parquet")
            ):
                os.remove(f)
        survivors = [m for m in seg_manifests if m not in killed]
        mtimes_before = {m: os.path.getmtime(m) for m in survivors}

        self._build(spark, d_kill, partitions=4, write_partitions=4)  # resume

        # committed partitions were not rewritten
        for m, t in mtimes_before.items():
            assert os.path.getmtime(m) == t, f"{m} was rewritten"
        # killed partitions were rebuilt
        for m in killed:
            assert _read_manifest(d_kill, os.path.basename(m)[:-5])["status"] == "committed"
        # final index identical to the uninterrupted build
        assert self._segment_contents(spark, d_kill) == self._segment_contents(
            spark, d_full
        )

    def test_positional_segments_bit_equal_across_parallelism(
        self, spark, tmp_path_factory
    ):
        """The positional plane (blobs + block offsets) is bit-identical
        at different parallelism configs, and phrase results agree."""
        from uci_searchengine_spark.operators.phrase import phrase_search

        d1 = str(tmp_path_factory.mktemp("idx_pos2"))
        d2 = str(tmp_path_factory.mktemp("idx_pos8"))
        self._build(spark, d1, partitions=2, write_partitions=3, positions=True)
        self._build(spark, d2, partitions=11, write_partitions=7, positions=True)
        assert self._segment_contents(
            spark, d1, positions=True
        ) == self._segment_contents(spark, d2, positions=True)
        for ph in ("arbak stop1", "stop0"):
            r1 = [
                (r["doc_id"], r["score"], r["n_occ"])
                for r in phrase_search(spark, d1, ph, 10, method="positions").collect()
            ]
            r2 = [
                (r["doc_id"], r["score"], r["n_occ"])
                for r in phrase_search(spark, d2, ph, 10, method="positions").collect()
            ]
            assert r1 == r2, ph

    def test_queries_identical_across_parallelism_indexes(self, spark, tmp_path_factory):
        from uci_searchengine_spark.operators.wand import score_wand

        d1 = str(tmp_path_factory.mktemp("idx_q2"))
        d2 = str(tmp_path_factory.mktemp("idx_q8"))
        self._build(spark, d1, partitions=2, write_partitions=2)
        self._build(spark, d2, partitions=8, write_partitions=8)
        for q in ["stop0", "arbak stop1"]:
            r1 = [(r["doc_id"], r["score"]) for r in score_wand(spark, d1, q).collect()]
            r2 = [(r["doc_id"], r["score"]) for r in score_wand(spark, d2, q).collect()]
            assert r1 == r2, q
