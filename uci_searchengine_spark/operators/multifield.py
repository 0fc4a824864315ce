"""Multi-field ranking over the index: BM25F and ES ``multi_match``.

The index carries two text fields per document — ``title`` (doc store
column, extracted by the pinned reference extractor, reference
crawler.py:410-418) and the body (the postings planes). Three pinned
combination semantics, all fully relational:

* ``variant="bm25f"`` (default) — simple BM25F (Zaragoza et al.,
  "Microsoft Cambridge at TREC-13"): per-field length-normalized tf
  ``ntf_f = tf_f / ((1-b) + b·len_f/avglen_f)``, combined
  ``tf̃ = Σ_f w_f·ntf_f``, ONE saturation
  ``idf̃ · tf̃·(k1+1)/(tf̃ + k1)`` with df̃ counted on the cross-field
  match. Key scale property: each field's normalizer needs only that
  field's own length, WHICH RIDES ON ITS OWN POSTING ROWS — no doc-store
  length fetch, no join beyond the (term, doc_id) full-outer of the two
  match sets. With one field at w=1 this reduces EXACTLY to standard
  BM25 (divide the classic form's numerator and denominator by B).
* ``variant="most_fields"`` — ES multi_match most_fields: each field
  scored as an independent BM25 (its own df, avgdl) and the weighted
  per-field scores summed.
* ``variant="dis_max"`` — ES multi_match best_fields (the dis_max
  query): the same independent per-field BM25s, combined per doc as
  ``max + tie_breaker·(sum − max)`` — the best field wins and the
  others contribute only through the tie-breaker, the right semantics
  when fields are alternative surfaces of one concept (title vs body)
  rather than additive evidence.
* ``variant="concat"`` — field-weight-as-duplication: title repeated
  ``w_title`` times into the body stream, then standard BM25 over the
  combined tf and weighted length (the gate `bm25f_topk`'s relational
  semantics). Needs the per-doc weighted length, i.e. ONE doc-values
  fetch of (doc_len, title_len) joined to the match set — the same
  bounded shape as J4's top-k doc fetch, but match-set-sized; prefer
  "bm25f" when serving at corpus scale.

Title postings come from a derived plane ``<index_dir>/titleplane/``
(term-range-partitioned and term-sorted so a query's ``term IN (...)``
prunes row groups), tagged with (gens, n_docs, avg title len) and
invalidated by append/merge exactly like the vocab plane
(operators/prefix.write_vocab_plane); readers fall back to a live
doc-store projection (titles are ~10 tokens, so the fallback is one
cheap column scan — correct but per-query; write the plane for
serving).

Reference: UCI-SearchEngine ranks a single text field (BM25 over the
page text, indexer.py); multi-field is breadth beyond the reference,
matching Lucene/ES semantics.
"""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uci_searchengine_spark.functions.tokenize import tokens_col
from uci_searchengine_spark.operators.bm25 import (
    BM25_B,
    BM25_K1,
    _minus_tombstones,
    terms_for_index,
)
from uci_searchengine_spark.operators.index_build import IndexMeta, load_docs
from uci_searchengine_spark.operators.wand import decoded_postings

_TAG = "_uss_tag.json"


def _title_tokens_col(meta: IndexMeta):
    """Title analysis chain matched to the index's build flags: the JVM
    tokenizer, plus Porter stemming via an Arrow-batched UDF iff the
    index was built with ``stem=True`` (symmetric with the body field,
    bm25.terms_for_index)."""
    if not getattr(meta, "stem", False):
        return tokens_col(F.col("title"))
    from pyspark.sql.functions import pandas_udf

    from uci_searchengine_spark.functions.stem import stem_tokens
    from uci_searchengine_spark.functions.tokenize import tokenize_py

    @pandas_udf("array<string>")
    def _stemmed(s: pd.Series) -> pd.Series:
        memo: dict[str, str] = {}
        return s.map(lambda t: stem_tokens(tokenize_py(t or ""), memo))

    return _stemmed(F.col("title"))


def title_postings_live(
    spark: SparkSession, index_dir: str, meta: "IndexMeta | None" = None
) -> DataFrame:
    """(term, doc_id, tf, tlen) from a live doc-store projection —
    the plane's fallback. One scan of (doc_id, title); the explode is
    bounded by title length (~10 tokens/doc)."""
    meta = meta or IndexMeta.load(index_dir)
    docs = load_docs(spark, index_dir).select(
        "doc_id", _title_tokens_col(meta).alias("tt")
    )
    return (
        docs.select(
            "doc_id",
            F.size("tt").cast("int").alias("tlen"),
            F.explode("tt").alias("term"),
        )
        .groupBy("term", "doc_id", "tlen")
        .agg(F.count("*").cast("int").alias("tf"))
    )


def _avg_tlen_live(
    spark: SparkSession, index_dir: str, meta: "IndexMeta | None" = None
) -> float:
    meta = meta or IndexMeta.load(index_dir)
    row = (
        load_docs(spark, index_dir)
        .agg(F.avg(F.size(_title_tokens_col(meta))).alias("a"))
        .collect()[0]
    )
    return float(row["a"] or 0.0) or 1.0


def write_title_plane(spark: SparkSession, index_dir: str) -> str:
    """Materialize the title postings plane — term-range partitioned,
    term-sorted within partitions, so the per-query ``term IN`` filter
    prunes files AND row groups via min/max stats. Derived data: one
    small job over the doc store, postings never touched; the
    (gens, n_docs) tag invalidates it after append/merge and readers
    fall back to the live projection until rewritten."""
    meta = IndexMeta.load(index_dir)
    out = os.path.join(index_dir, "titleplane")
    avg_tlen = _avg_tlen_live(spark, index_dir, meta)
    (
        title_postings_live(spark, index_dir, meta)
        .repartitionByRange(F.col("term"))
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite")
        .parquet(out)
    )
    tag = {
        "gens": int(getattr(meta, "gens", 1)),
        "n_docs": int(meta.n_docs),
        "avg_tlen": avg_tlen,
    }
    tmp = os.path.join(out, _TAG + ".tmp")
    with open(tmp, "w") as f:
        json.dump(tag, f)
    os.replace(tmp, os.path.join(out, _TAG))
    return out


def _plane_tag(index_dir: str, meta: IndexMeta) -> dict | None:
    p = os.path.join(index_dir, "titleplane", _TAG)
    if not os.path.exists(p):
        return None
    try:
        tag = json.load(open(p))
    except Exception:  # noqa: BLE001 — unreadable tag = stale
        return None
    if tag.get("gens") == int(getattr(meta, "gens", 1)) and tag.get(
        "n_docs"
    ) == int(meta.n_docs):
        return tag
    return None


def title_postings_relation(
    spark: SparkSession, index_dir: str, meta: "IndexMeta | None" = None
) -> "tuple[DataFrame, float]":
    """(postings, avg_tlen): the plane when fresh, else the live
    projection + one driver-side avg."""
    meta = meta or IndexMeta.load(index_dir)
    tag = _plane_tag(index_dir, meta)
    if tag is not None:
        return (
            spark.read.parquet(os.path.join(index_dir, "titleplane")),
            float(tag["avg_tlen"]) or 1.0,
        )
    return (
        title_postings_live(spark, index_dir, meta),
        _avg_tlen_live(spark, index_dir, meta),
    )


def _idf(n_docs: float, df_col) -> "F.Column":
    return F.log((F.lit(n_docs) - df_col + 0.5) / (df_col + 0.5) + 1.0)


def score_fields(
    spark: SparkSession,
    index_dir: str,
    query: str,
    w_title: float = 2.0,
    w_text: float = 1.0,
    variant: str = "bm25f",
    k: int = 10,
    tie_breaker: float = 0.0,
) -> DataFrame:
    """Top-k (doc_id, score) for ``query`` over {title^w_title,
    text^w_text} under the chosen combination semantics (module
    docstring). One action: two pruned posting scans → (term, doc_id)
    full-outer → broadcast df agg → groupBy(doc_id) → bounded top-k;
    tombstones subtracted after stats (Lucene delete semantics, as in
    bm25.score_all)."""
    if variant not in ("bm25f", "most_fields", "concat", "dis_max"):
        raise ValueError(f"unknown variant {variant!r}")
    meta = IndexMeta.load(index_dir)
    terms = terms_for_index(meta, query)
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not terms:
        return empty
    n_docs = float(meta.n_docs)

    body = decoded_postings(spark, index_dir, meta, terms).select(
        "term", "doc_id", F.col("tf").alias("tf_b"), "doc_len"
    )
    tposts, avg_tlen = title_postings_relation(spark, index_dir, meta)
    tposts = tposts.filter(F.col("term").isin(terms)).select(
        "term", "doc_id", F.col("tf").alias("tf_t"), "tlen"
    )

    def norm(tf_col, len_col, avglen: float):
        return tf_col.cast("double") / (
            F.lit(1.0 - BM25_B) + F.lit(BM25_B) * len_col.cast("double") / F.lit(avglen)
        )

    if variant == "bm25f":
        comb = body.join(tposts, ["term", "doc_id"], "full_outer").select(
            "term",
            "doc_id",
            (
                F.lit(w_text) * F.coalesce(norm(F.col("tf_b"), F.col("doc_len"), meta.avgdl), F.lit(0.0))
                + F.lit(w_title) * F.coalesce(norm(F.col("tf_t"), F.col("tlen"), avg_tlen), F.lit(0.0))
            ).alias("ctf"),
        )
        dfs = comb.groupBy("term").agg(F.count("*").alias("df"))
        scored = (
            comb.join(F.broadcast(dfs), "term")
            .select(
                "doc_id",
                (
                    _idf(n_docs, F.col("df"))
                    * F.col("ctf") * (BM25_K1 + 1.0) / (F.col("ctf") + BM25_K1)
                ).alias("contrib"),
            )
            .groupBy("doc_id")
            .agg(F.sum("contrib").alias("score"))
        )
    elif variant == "most_fields":
        # each field an independent BM25 (own df + avgdl), weighted sum
        def field_scores(posts, tf_name, len_name, avglen, w):
            dfs = posts.groupBy("term").agg(F.count("*").alias("df"))
            ntf = norm(F.col(tf_name), F.col(len_name), avglen)
            return posts.join(F.broadcast(dfs), "term").select(
                "doc_id",
                (
                    F.lit(w)
                    * _idf(n_docs, F.col("df"))
                    * ntf * (BM25_K1 + 1.0) / (ntf + BM25_K1)
                ).alias("contrib"),
            )

        scored = (
            field_scores(body, "tf_b", "doc_len", meta.avgdl, w_text)
            .unionByName(field_scores(tposts, "tf_t", "tlen", avg_tlen, w_title))
            .groupBy("doc_id")
            .agg(F.sum("contrib").alias("score"))
        )
    elif variant == "dis_max":
        # ES multi_match best_fields / dis_max: each field an
        # independent BM25 (own df, own avgdl — same as most_fields),
        # combined per doc as max + tie_breaker·(sum − max). Same
        # dataflow as most_fields except the per-field totals stay
        # separate through one (doc_id) full-outer before combining —
        # still zero doc-store fetches, still broadcast df aggs.
        def field_total(posts, tf_name, len_name, avglen, w, out):
            dfs = posts.groupBy("term").agg(F.count("*").alias("df"))
            ntf = norm(F.col(tf_name), F.col(len_name), avglen)
            return (
                posts.join(F.broadcast(dfs), "term")
                .select(
                    "doc_id",
                    (
                        F.lit(w)
                        * _idf(n_docs, F.col("df"))
                        * ntf * (BM25_K1 + 1.0) / (ntf + BM25_K1)
                    ).alias("c"),
                )
                .groupBy("doc_id")
                .agg(F.sum("c").alias(out))
            )

        sb = field_total(body, "tf_b", "doc_len", meta.avgdl, w_text, "s_b")
        st = field_total(tposts, "tf_t", "tlen", avg_tlen, w_title, "s_t")
        both = sb.join(st, "doc_id", "full_outer").select(
            "doc_id",
            F.coalesce(F.col("s_b"), F.lit(0.0)).alias("sb"),
            F.coalesce(F.col("s_t"), F.lit(0.0)).alias("st"),
        )
        mx = F.greatest(F.col("sb"), F.col("st"))
        scored = both.select(
            "doc_id",
            (
                mx + F.lit(tie_breaker) * (F.col("sb") + F.col("st") - mx)
            ).alias("score"),
        )
    else:  # concat — gate bm25f_topk's semantics over the index planes
        comb = (
            body.join(tposts.drop("tlen"), ["term", "doc_id"], "full_outer")
            .select(
                "term",
                "doc_id",
                (
                    F.lit(w_text) * F.coalesce(F.col("tf_b").cast("double"), F.lit(0.0))
                    + F.lit(w_title) * F.coalesce(F.col("tf_t").cast("double"), F.lit(0.0))
                ).alias("ctf"),
            )
        )
        # the one doc-values fetch this variant needs: per-doc weighted
        # length (match-set ⋈ doc store, J4's bounded shape)
        lens = load_docs(spark, index_dir).select(
            "doc_id",
            (
                F.lit(w_text) * F.col("doc_len").cast("double")
                + F.lit(w_title) * F.size(tokens_col(F.col("title"))).cast("double")
            ).alias("wdl"),
        )
        stats = lens.agg(F.avg("wdl").alias("avg_wdl"))
        dfs = comb.groupBy("term").agg(F.count("*").alias("df"))
        ctf = F.col("ctf")
        scored = (
            comb.join(lens, "doc_id")
            .crossJoin(F.broadcast(stats))
            .join(F.broadcast(dfs), "term")
            .select(
                "doc_id",
                (
                    _idf(n_docs, F.col("df"))
                    * ctf * (BM25_K1 + 1.0)
                    / (ctf + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("wdl") / F.col("avg_wdl")))
                ).alias("contrib"),
            )
            .groupBy("doc_id")
            .agg(F.sum("contrib").alias("score"))
        )

    scored = _minus_tombstones(spark, scored, index_dir).filter(F.col("score") > 0)
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
