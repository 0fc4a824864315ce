"""Physical-plan regression guards: the scale properties the engine
depends on must stay visible in the plans (scripts/explain_audit.py is
the human-readable version; this enforces the same checks in CI)."""

import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.spark
class TestPlans:
    def test_wand_scan_prunes_shards_and_pushes_terms(self, spark, index_small):
        from uci_searchengine_spark.functions.xxhash import term_shard
        from uci_searchengine_spark.operators.index_build import IndexMeta, load_segments

        meta = IndexMeta.load(index_small)
        shard = term_shard("stop0", meta.num_shards)
        seg = load_segments(spark, index_small).filter(
            F.col("shard").isin([shard]) & F.col("term").isin(["stop0"])
        )
        plan = _plan(seg)
        # partition pruning on the hive shard dir + term filter pushed to parquet
        assert "PartitionFilters" in plan and "shard" in plan
        assert "PushedFilters" in plan and "term" in plan

    def test_wand_topk_is_take_ordered(self, spark, index_small):
        from uci_searchengine_spark.operators.wand import score_wand

        plan = _plan(score_wand(spark, index_small, "stop0 arbak", 10))
        assert "FlatMapGroupsInPandas" in plan
        assert "TakeOrderedAndProject" in plan

    def test_naive_scorer_broadcasts_dfs(self, spark, index_small):
        from uci_searchengine_spark.operators.bm25 import score_naive

        plan = _plan(score_naive(spark, index_small, "stop0 arbak", 10))
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        assert "TakeOrderedAndProject" in plan
        # the postings scan reads only the query terms' shard dirs
        assert re.search(r"PartitionFilters: \[[^\]]*\bshard\b", plan)
        # df is summed from the segment rows in the JVM: the postings
        # are decoded once, for the probe side only
        assert len(re.findall(r"\bMapInArrow\b", plan)) == 1

    def test_revenue_join_broadcasts_and_pushes_filter(self, spark):
        from uci_searchengine_spark.entry_queries import q_revenue_topk

        plan = _plan(q_revenue_topk(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan
        assert "BUILDING" in plan  # mktsegment predicate pushed into the scan

    def test_pricing_scan_is_column_pruned(self, spark):
        from uci_searchengine_spark.entry_queries import q_pricing_summary

        plan = _plan(q_pricing_summary(spark, SF_DIR))
        assert "l_shipdate" in plan  # predicate pushed
        # projection pruned: untouched wide columns never reach the scan
        assert "l_comment" not in plan and "l_shipmode" not in plan

    def test_attach_docs_prunes_buckets(self, spark, index_small):
        from uci_searchengine_spark.operators.bm25 import attach_docs
        from uci_searchengine_spark.operators.wand import score_wand

        topk = score_wand(spark, index_small, "stop0", 5)
        out = attach_docs(spark, index_small, topk, ["stop0"])
        plan = _plan(out)
        assert "PartitionFilters" in plan and "bucket" in plan
