"""BM25 query path — naive (fully declarative) scorer + result envelope.

The naive scorer is the Catalyst-planned fallback (SURVEY.md §2.6 T1):
broadcast the query-term set, score with column arithmetic, aggregate,
`orderBy(score desc, doc_id).limit(k)` → TakeOrderedAndProject. It exists
as (a) the oracle-comparison path and (b) the always-correct baseline the
block-max scorer (operators/wand.py) is verified against. Both read the
one postings plane on disk, the compressed segments: the relational
scorers here scan them through ``wand.decoded_postings`` as
(term, doc_id, tf, doc_len) rows.

Ranking contract (FIXTURES.md §6, replacing the reference's inconsistent
TF-IDF — backend/app/api/search.py:91-100 vs crawler.py:457):
Lucene-style BM25, k1=1.2 b=0.75, OR semantics over deduped query terms
(search.py:79-82), score>0 only (search.py:102), ties broken by doc_id asc.
"""

from __future__ import annotations

import math
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from uci_searchengine_spark import BM25_B, BM25_K1
from uci_searchengine_spark.functions.tokenize import tokenize_py
from uci_searchengine_spark.operators.index_build import (
    IndexMeta,
    load_docs,
    load_segments,
)


def query_terms(query: str) -> list[str]:
    """Tokenize + dedup keeping order (FIXTURES.md §7: dedup before scoring)."""
    return list(dict.fromkeys(tokenize_py(query)))


def terms_for_index(meta: IndexMeta, query: str) -> list[str]:
    """Query-side analysis chain matched to the index's build flags:
    tokenize, then Porter-stem iff the index was built with ``stem=True``
    (north-star "tokenize/stem"). Dedup AFTER stemming — two surface
    forms can share a stem, and the scorers assume distinct terms."""
    toks = tokenize_py(query)
    if getattr(meta, "stem", False):
        from uci_searchengine_spark.functions.stem import stem_tokens

        toks = stem_tokens(toks)
    return list(dict.fromkeys(toks))


def analyze_seq(meta: IndexMeta, text: str) -> list[str]:
    """Ordered token sequence under the index's analysis chain —
    duplicates KEPT (phrase matching needs the sequence, not the set)."""
    toks = tokenize_py(text)
    if getattr(meta, "stem", False):
        from uci_searchengine_spark.functions.stem import stem_tokens

        toks = stem_tokens(toks)
    return toks


def idf(n_docs: int, df: int) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def score_naive(
    spark: SparkSession, index_dir: str, query: str, k: int = 10, mode: str = "or"
) -> DataFrame:
    """Top-k (doc_id, score) via declarative ops over the decoded postings.

    ``mode="and"`` keeps only docs holding EVERY query term — expressed
    as a HAVING count(distinct term) = n over the same aggregate (one
    extra map-side counter, no second shuffle)."""
    return (
        score_all(spark, index_dir, query, mode=mode)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def search_after(
    spark: SparkSession,
    index_dir: str,
    query: str,
    after: "tuple[float, int] | None" = None,
    k: int = 10,
    mode: str = "or",
) -> DataFrame:
    """(doc_id, score): the next ``k`` results strictly AFTER the
    ``(score, doc_id)`` cursor in the global rank order (score desc,
    doc_id asc) — Elasticsearch's ``search_after`` deep-pagination
    shape. Page N of from+size paging re-materializes N·k rows; the
    cursor filter keeps every page the same bounded top-k over the
    match set, with the predicate ((s < s0) OR (s == s0 AND d > d0))
    below the TakeOrderedAndProject. ``after=None`` = first page
    (≡ score_naive). Cursor = the last row of the previous page,
    verbatim — stable across pages because the rank order is a strict
    total order."""
    scored = score_all(spark, index_dir, query, mode=mode)
    if after is not None:
        s0, d0 = float(after[0]), int(after[1])
        scored = scored.filter(
            (F.col("score") < s0)
            | ((F.col("score") == s0) & (F.col("doc_id") > d0))
        )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def export_matches(
    spark: SparkSession,
    index_dir: str,
    query: str,
    out_dir: str,
    mode: str = "or",
) -> int:
    """Scroll-style bulk export (the ES scroll / PIT use case done the
    Spark way): the FULL ranked match set written to parquet in ONE
    globally range-sorted pass — (score desc, doc_id asc) across files
    by partition index — instead of N cursor round-trips. Repeated
    search_after pages re-scan the postings once per page; at bulk-export
    volumes the single sort is strictly cheaper, and the sink is
    restart-safe (overwrite = idempotent). Returns the exported row
    count (read back from the written footers, no recompute)."""
    df = score_all(spark, index_dir, query, mode=mode).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    df.write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir).count()


def score_all(
    spark: SparkSession, index_dir: str, query: str, mode: str = "or"
) -> DataFrame:
    """FULL match-set scores (doc_id, score), unordered and unlimited —
    the relational scoring dataflow shared by ``score_naive`` (top-k)
    and analytic consumers that need every match (field collapsing,
    facets, significant-terms feeders). Bounded by the MATCH SET, not
    the corpus."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    meta = IndexMeta.load(index_dir)
    terms = terms_for_index(meta, query)
    empty = spark.createDataFrame(
        [], "doc_id long, score double"
    )
    if not terms:
        return empty
    from uci_searchengine_spark.operators.wand import _term_filter, decoded_postings

    # df per query term: the pruned segment rows' own posting counts,
    # summed in the JVM — the postings are decoded once, for the probe side
    dfs = (
        load_segments(spark, index_dir)
        .filter(_term_filter(meta, terms))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    matched = decoded_postings(spark, index_dir, meta, terms).join(
        F.broadcast(dfs), "term"
    )
    idf_expr = F.log(
        (F.lit(float(meta.n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf = F.col("tf").cast("double")
    tf_part = (tf * (BM25_K1 + 1.0)) / (
        tf
        + BM25_K1
        * (1.0 - BM25_B + BM25_B * F.col("doc_len").cast("double") / F.lit(meta.avgdl))
    )
    scored = matched.select(
        "doc_id", "term", (idf_expr * tf_part).alias("contrib")
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("contrib").alias("score"),
        F.count_distinct("term").alias("_nt"),
    )
    if mode == "and":
        agg = agg.filter(F.col("_nt") == len(terms))
    # tombstones drop RESULTS only — df/n_docs/avgdl keep counting
    # deleted docs until rebuild (Lucene-shaped delete semantics,
    # operators/tombstones.py), so the subtraction sits after the stats
    agg = _minus_tombstones(spark, agg, index_dir)
    return agg.drop("_nt").filter(F.col("score") > 0)


def _minus_tombstones(spark: SparkSession, df: DataFrame, index_dir: str) -> DataFrame:
    """Anti-join the tombstone set (operators/tombstones.py) — no-op when
    the index has none. The tombstone parquet is read Spark-side (never a
    driver array), so this scales to any tombstone count; AQE broadcasts
    the small common case on its own."""
    from uci_searchengine_spark.operators.tombstones import tombstone_count_estimate

    if not tombstone_count_estimate(index_dir):
        return df
    tomb = (
        spark.read.parquet(os.path.join(index_dir, "tombstones"))
        .select("doc_id")
    )
    return df.join(tomb, "doc_id", "left_anti")


def match_count(
    spark: SparkSession, index_dir: str, terms: list[str], mode: str = "or"
) -> int:
    """Number of matching docs — the envelope's total_results — via a
    distinct-count aggregate: partial per-partition dedup, one small
    exchange, NO global sort (the previous formulation paid
    orderBy().limit(2^31-1) just to count). mode="and" counts docs
    holding EVERY term (same aggregate + a HAVING on the term count)."""
    if not terms:
        return 0
    from uci_searchengine_spark.operators.wand import decoded_postings

    posts = decoded_postings(spark, index_dir, IndexMeta.load(index_dir), terms)
    matched = _minus_tombstones(spark, posts, index_dir)
    if mode == "and":
        return (
            matched.groupBy("doc_id")
            .agg(F.count_distinct("term").alias("_nt"))
            .filter(F.col("_nt") == len(terms))
            .count()
        )
    return matched.select("doc_id").distinct().count()


_SNIPPET_SCHEMA = T.StringType()


def snippet_text(t: str, lowered_terms: list[str], max_length: int = 200) -> str:
    """The reference snippet rule (search.py:41-65) as a plain function —
    shared by the display UDF and the per-bucket one-job envelope path."""
    t = t.lower()
    positions = [p for q in lowered_terms if (p := t.find(q)) != -1]
    if not positions:
        return t[:max_length] + "..."
    start = max(0, min(positions) - 50)
    end = min(len(t), start + max_length)
    s = t[start:end]
    if start > 0:
        s = "..." + s
    if end < len(t):
        s = s + "..."
    return s


def make_snippet_udf(terms: list[str], max_length: int = 200):
    """Pandas UDF for the reference snippet rule (search.py:41-65) —
    applied only to the ≤k returned rows (off hot path)."""
    lowered = [t.lower() for t in terms]

    @F.pandas_udf(_SNIPPET_SCHEMA)
    def snippet(text: pd.Series) -> pd.Series:
        return text.map(lambda t: snippet_text(t, lowered, max_length))

    return snippet


def attach_docs(
    spark: SparkSession, index_dir: str, topk: DataFrame, terms: list[str]
) -> DataFrame:
    """Join top-k ids to the doc store for url/title/snippet (J4 analog:
    search.py:24 candidate fetch — broadcast the tiny id set, and prune
    the docs scan to the ≤k result ids' bucket dirs: at corpus scale the
    doc store is the biggest table in the index and this join must touch
    k rows' worth of files, not all of them)."""
    meta = IndexMeta.load(index_dir)
    # materialize the ≤k scores ONCE (topk is lazy — reusing the
    # DataFrame in both the id-prune and the join would re-run the scorer)
    hits = [(r["doc_id"], r["score"]) for r in topk.collect()]
    if not hits:
        return spark.createDataFrame(
            [], "doc_id long, url string, title string, snippet string, score double"
        )
    ids = [d for d, _ in hits]
    tiny = spark.createDataFrame(hits, "doc_id long, score double")
    buckets = sorted({int(i) // meta.bucket_size for i in ids})
    docs = load_docs(spark, index_dir).filter(
        F.col("bucket").isin(buckets) & F.col("doc_id").isin(ids)
    )
    out = docs.join(F.broadcast(tiny), "doc_id").select(
        "doc_id", "url", "title", make_snippet_udf(terms)(F.col("text")).alias("snippet"), "score"
    )
    return out.orderBy(F.desc("score"), F.asc("doc_id"))


def search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    page: int = 1,
    per_page: int = 10,
    scorer=None,
    mode: str = "or",
) -> dict:
    """Full result envelope per backend/app/api/search.py:119-126.
    ``mode="and"`` restricts results (and total_results) to docs holding
    every query term."""
    terms = tokenize_py(query)
    if not terms:
        return {
            "query": query,
            "total_results": 0,
            "page": page,
            "per_page": per_page,
            "total_pages": 0,
            "did_you_mean": None,
            "results": [],
        }
    scorer = scorer or score_naive
    # ONE scorer invocation for the page; total_results from a sort-free
    # distinct count (OR semantics: every doc holding ≥1 query term scores
    # > 0 since idf > 0 and tf_part > 0, so matched docs == result count).
    # Matching uses the index's analysis chain (terms_for_index — stemmed
    # iff the index is); snippets highlight the RAW query forms, matching
    # the reference's display rule (search.py:41-65 operates on the
    # user's query text, not analyzer output).
    meta = IndexMeta.load(index_dir)
    topk = scorer(spark, index_dir, query, k=page * per_page, mode=mode)
    total = match_count(spark, index_dir, terms_for_index(meta, query), mode=mode)
    rows = attach_docs(spark, index_dir, topk, query_terms(query)).collect()
    start = (page - 1) * per_page
    sel = rows[start : start + per_page]
    dym = None
    if total == 0:
        # zero hits → try spell correction (the rare path: one vocab
        # probe per unknown term, operators/suggest.py)
        from uci_searchengine_spark.operators.suggest import suggest_query

        dym = suggest_query(spark, index_dir, query)
    return {
        "query": query,
        "total_results": total,
        "page": page,
        "per_page": per_page,
        "total_pages": math.ceil(total / per_page),
        "did_you_mean": dym,
        "results": [
            {"url": r["url"], "title": r["title"], "snippet": r["snippet"], "score": r["score"]}
            for r in sel
        ],
    }
