"""Benchmark inputs: the synthetic pages corpus, the query mix and the
ingest deltas. Every input is a pure function of the seed it is given.

The corpus is the engine's own synthetic crawl (``sources.synth``:
Zipfian vocabulary, head stop terms in ~85% of pages, real HTML); the
engine receives it as a parquet pages table, the way ``cli.py build``
reads one.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

from uci_searchengine_spark.sources.synth import STOP_TERMS, VOCAB, gen_rows

# query mix: every block of 20 queries holds exactly this many of each
# kind, in a seeded order, so that the mix does not vary from seed to seed
KIND_BLOCK = ["misspell"] + ["wildcard"] + ["and"] * 2 + ["or"] * 16
OR_LENGTHS = [1, 2, 3, 4, 5]  # likewise for the terms of OR queries
STOP_TERM_SHARE = 0.20  # share of query terms drawn from the head stop terms
ZIPF_S = 1.07  # the synthetic corpus's own word-frequency exponent
MISSPELL_HEAD = 200  # misspellings start from the 200 most frequent words
PAGE_PARTS = 8  # files of a pages table, as many as synth_pages makes on local[4]

_VOCAB_SET = frozenset(VOCAB.tolist())
_CDF = np.cumsum(1.0 / np.arange(1, len(VOCAB) + 1) ** ZIPF_S)
_CDF /= _CDF[-1]
_TITLE = re.compile(rb"<title>")


@dataclass(frozen=True)
class Query:
    text: str
    mode: str  # "or" | "and"
    kind: str  # "or" | "and" | "misspell" | "wildcard"


def write_pages(n_docs: int, seed: int, path: str, parts: int = PAGE_PARTS) -> None:
    """Generate ``n_docs`` synthetic pages (the rows ``synth_pages`` makes
    with Spark, generated here in one process) and write them as a parquet
    table of ``parts`` files at ``path``."""
    import os

    os.makedirs(path)
    ids = np.arange(n_docs, dtype=np.int64)
    for i, chunk in enumerate(np.array_split(ids, parts)):
        write_parquet(gen_rows(chunk, seed), os.path.join(path, f"part-{i:05d}.parquet"))


def write_parquet(pdf, path: str) -> None:
    # Spark reads no nanosecond timestamps
    pdf.to_parquet(path, index=False, coerce_timestamps="us")


class QueryMix:
    """Deterministic query stream: Zipf-drawn 1-5-term OR queries with
    head stop terms (80%), two-term AND queries (10%), zero-hit
    misspellings (5%) and ``stem*`` wildcards (5%)."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 7])
        self._kinds: list[str] = []
        self._lengths: list[int] = []

    def _next_of(self, pending: list, block: list):
        if not pending:
            pending.extend(self.rng.permutation(block).tolist())
        return pending.pop()

    def _word(self, head: int = len(VOCAB)) -> str:
        """A Zipf-drawn vocabulary word among the ``head`` most frequent."""
        return str(VOCAB[np.searchsorted(_CDF, self.rng.random() * _CDF[head - 1])])

    def _term(self) -> str:
        if self.rng.random() < STOP_TERM_SHARE:
            return STOP_TERMS[int(self.rng.integers(len(STOP_TERMS)))]
        return self._word()

    def _misspelling(self) -> str:
        """A letter after the third of a head word (present in any corpus of
        a few hundred pages) replaced so that it is no vocabulary word: zero
        hits, and a did_you_mean one edit away that shares the first trigram
        (the engine's suggester only considers terms sharing a trigram)."""
        while True:
            w = self._word(MISSPELL_HEAD)
            i = int(self.rng.integers(3, len(w)))
            c = "abcdefghijklmnopqrstuvwxyz"[int(self.rng.integers(26))]
            m = w[:i] + c + w[i + 1 :]
            if m != w and m not in _VOCAB_SET:
                return m

    def next(self) -> Query:
        kind = self._next_of(self._kinds, KIND_BLOCK)
        if kind == "misspell":
            return Query(self._misspelling(), "or", kind)
        if kind == "wildcard":
            stem = self._word()[:4] + "*"
            if self.rng.random() < 0.5:
                return Query(f"{self._term()} {stem}", "or", kind)
            return Query(stem, "or", kind)
        if kind == "and":
            return Query(f"{self._term()} {self._term()}", "and", kind)
        n = self._next_of(self._lengths, OR_LENGTHS)
        return Query(" ".join(self._term() for _ in range(n)), "or", kind)


def unique_queries(seed: int, n: int, exclude=()) -> list[Query]:
    """``n`` distinct queries (distinct text and mode), none in ``exclude``,
    so that no query is served from the engine's query cache."""
    mix = QueryMix(seed)
    seen = {(q.text, q.mode) for q in exclude}
    out = []
    while len(out) < n:
        q = mix.next()
        if (q.text, q.mode) not in seen:
            seen.add((q.text, q.mode))
            out.append(q)
    return out


def zipf_draws(rng: np.random.Generator, pool_size: int, n: int, s: float) -> list[int]:
    """``n`` indexes into a pool, rank r drawn with weight 1/(r+1)^s."""
    w = 1.0 / np.arange(1, pool_size + 1) ** s
    return rng.choice(pool_size, size=n, p=w / w.sum()).tolist()


def delta_pages(seed: int, first_id: int, n: int, live_urls: list[str],
                n_upserts: int, rng: np.random.Generator):
    """One ingest delta: ``n`` new synthetic pages numbered from
    ``first_id``, of which ``n_upserts`` (pages with a title) take the url
    of a live page, so the engine must supersede that page. Returns the
    pages frame and {upserted url: the title its new version must show}."""
    from uci_searchengine_spark.functions.extract import extract_one

    pdf = gen_rows(np.arange(first_id, first_id + n, dtype=np.int64), seed)
    titled = [i for i, h in enumerate(pdf["html"]) if _TITLE.search(h)]
    rows = rng.choice(titled, size=n_upserts, replace=False)
    urls = rng.choice(len(live_urls), size=n_upserts, replace=False)
    expected = {}
    for row, ui in zip(rows.tolist(), urls.tolist()):
        url = live_urls[ui]
        pdf.at[row, "url"] = url
        expected[url] = extract_one(pdf.at[row, "html"], url)[0]
    return pdf, expected
