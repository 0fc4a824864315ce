"""One postings plane on disk: a committed index keeps its postings only
in ``segments/``. The stage-1 flat postings are removed at the commit,
merge writes none, and the relational scorers read the segments through
``wand.decoded_postings``."""

import os

import pytest
from pyspark.sql import functions as F

SEED = 1337
N = 300  # the corpus of conftest's index_small / oracle_small


@pytest.fixture(scope="module")
def appended(spark, tmp_path_factory):
    """gen-0 = the corpus' urls below a cut, gen-1 = the rest, appended:
    doc ids stay the global url ranks the oracle assigns."""
    from uci_searchengine_spark.operators.index_append import append_index
    from uci_searchengine_spark.operators.index_build import build_index
    from uci_searchengine_spark.sources.synth import synth_pages

    d = str(tmp_path_factory.mktemp("plane_appended"))
    pages = synth_pages(spark, N, SEED, partitions=5)
    urls = sorted(r["url"] for r in pages.select("url").distinct().collect())
    cut = urls[141]
    build_index(
        spark, pages.filter(F.col("url") < cut), d, num_shards=8,
        n_buckets=4, input_snapshot="plane-gen0",
    )
    append_index(spark, pages.filter(F.col("url") >= cut), d,
                 input_snapshot="plane-gen1")
    return d


@pytest.fixture(scope="module")
def merged(spark, appended, tmp_path_factory):
    from uci_searchengine_spark.operators.merge import merge_generations

    d = str(tmp_path_factory.mktemp("plane_merged"))
    merge_generations(spark, appended, d)
    return d


@pytest.fixture(scope="module")
def compacted(spark, appended, tmp_path_factory):
    from uci_searchengine_spark.operators.compact import compact_index

    d = str(tmp_path_factory.mktemp("plane_compacted"))
    compact_index(spark, appended, d)
    return d


@pytest.mark.spark
@pytest.mark.parametrize(
    "which", ["index_small", "appended", "merged", "compacted"]
)
def test_segments_are_the_only_postings_plane(
    spark, request, oracle_small, which
):
    """No postings_flat/ under the root or any generation; the decode
    relation over the segments reproduces the oracle's postings
    (term → url → tf) and the doc store's doc_len; CheckIndex is ok."""
    from uci_searchengine_spark.operators.checkindex import check_index
    from uci_searchengine_spark.operators.index_build import IndexMeta, load_docs
    from uci_searchengine_spark.operators.wand import decoded_postings

    d = request.getfixturevalue(which)
    assert [p for p, dirs, _ in os.walk(d) if "postings_flat" in dirs] == []

    docs = {
        r["doc_id"]: (r["url"], r["doc_len"])
        for r in load_docs(spark, d).select("doc_id", "url", "doc_len").collect()
    }
    rows = decoded_postings(
        spark, d, IndexMeta.load(d), sorted(oracle_small.postings)
    ).collect()
    got: dict[str, dict[str, int]] = {}
    for r in rows:
        url, doc_len = docs[r["doc_id"]]
        assert r["doc_len"] == doc_len, (r["term"], url)
        got.setdefault(r["term"], {})[url] = r["tf"]
    want = {
        t: {oracle_small.urls[doc]: tf for doc, tf in plist.items()}
        for t, plist in oracle_small.postings.items()
    }
    assert got == want

    rep = check_index(spark, d)
    assert rep["ok"], rep["issues"][:5]


@pytest.mark.spark
def test_build_metrics_bytes_are_the_committed_planes(index_small):
    """build_metrics()["bytes"] (cli stats, the HTTP stats endpoint) is
    the on-disk size of docs/ + segments/ — the stage-1 flat postings it
    used to include no longer exist after the commit."""
    from uci_searchengine_spark.operators.index_build import build_metrics

    on_disk = sum(
        os.path.getsize(os.path.join(p, fn))
        for plane in ("docs", "segments")
        for p, _, files in os.walk(os.path.join(index_small, plane))
        for fn in files
    )
    assert build_metrics(index_small)["bytes"] == on_disk > 0
