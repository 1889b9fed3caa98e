"""Seeded generator of pages and queries for the benchmark workloads.

Everything here is pure numpy/pyarrow: the engine never sees the seed,
only the pages tables and query strings made from it. The same seed
always gives the same pages and queries.

Shape of the corpus:
  * a letters-only vocabulary (the tokenizer splits digit runs off, so a
    digit in a term would change the dictionary) whose term ranks follow
    a Zipf law with exponent ~1;
  * documents of 50-450 tokens drawn from that law;
  * urls on a skewed host population (Zipf over hosts);
  * queries whose terms are drawn from one live document, by document
    frequency stratum (rare, mid, stop word), so every conjunctive query
    has at least one hit.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

N_TERMS = 200_000
ZIPF_S = 1.0
DOC_LEN = (50, 450)
N_HOSTS = 400
# warc_ts of batch b is BASE_US + b days (+ the page's offset in seconds)
BASE_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
DAY_US = 86_400_000_000

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def vocabulary(seed: int, n_terms: int) -> np.ndarray:
    """``n_terms`` distinct lowercase words; rank 0 is the most frequent.
    Frequent ranks get short words, like natural language."""
    rng = _rng(seed, 1)
    ranks = np.arange(n_terms)
    lengths = 2 + np.minimum(8, (np.log(ranks + 2) / np.log(5)).astype(int))
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n_terms:
        want = lengths[len(words):]
        chars = rng.integers(97, 123, size=(want.size, 10), dtype=np.uint8)
        for row, n in zip(chars, want):
            w = row[:n].tobytes().decode()
            if w not in seen:
                seen.add(w)
                words.append(w)
    return np.array(words, dtype=object)


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return np.cumsum(w / w.sum())


@dataclass
class Docs:
    """Generated documents as term-id arrays plus their rendered pages."""

    urls: list[str]
    term_ids: list[np.ndarray]
    texts: list[str]


class Generator:
    """Seeded source of documents over one vocabulary of N_TERMS words
    and one host population."""

    def __init__(self, seed: int):
        self.seed = seed
        self.vocab = vocabulary(seed, N_TERMS)
        self._cdf = _zipf_cdf(N_TERMS, ZIPF_S)
        self._hosts = vocabulary(seed + 7919, N_HOSTS)
        self._host_cdf = _zipf_cdf(N_HOSTS, 1.2)

    def docs(self, stream: int, n: int, first_id: int) -> Docs:
        """``n`` new documents with ids ``first_id..first_id+n-1``; ids
        appear in the urls, so distinct ids give distinct urls."""
        rng = _rng(self.seed, 2, stream)
        lens = rng.integers(DOC_LEN[0], DOC_LEN[1] + 1, size=n)
        flat = np.searchsorted(self._cdf, rng.random(int(lens.sum())))
        flat = np.minimum(flat, self.vocab.size - 1)
        term_ids = np.split(flat, np.cumsum(lens)[:-1])
        texts = [" ".join(self.vocab[t]) for t in term_ids]
        hosts = np.searchsorted(self._host_cdf, rng.random(n))
        hosts = self._hosts[np.minimum(hosts, N_HOSTS - 1)]
        urls = [
            f"http://www.{h}.com/page/{i}"
            for h, i in zip(hosts, range(first_id, first_id + n))
        ]
        return Docs(urls, term_ids, texts)

    def rewrite(self, stream: int, urls: list[str]) -> Docs:
        """New page bodies for already-crawled urls (a re-crawl)."""
        d = self.docs(stream, len(urls), 0)
        return Docs(list(urls), d.term_ids, d.texts)


def pages_table(docs: Docs, batch: int) -> pa.Table:
    """Docs → a pyarrow table in the engine's pages schema."""
    n = len(docs.urls)
    ts = BASE_US + batch * DAY_US + np.arange(n, dtype=np.int64) * 1_000_000
    html = [
        zlib.compress(f"<html><body>{t}</body></html>".encode(), 1)
        for t in docs.texts
    ]
    return pa.table(
        [
            pa.array(docs.urls, pa.string()),
            pa.array(ts, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            pa.array(html, pa.binary()),
            pa.array(docs.texts, pa.string()),
            pa.array(["en"] * n, pa.string()),
        ],
        schema=PAGES_SCHEMA,
    )


def doc_freqs(term_ids: list[np.ndarray]) -> np.ndarray:
    """Document frequency per term id over ``term_ids``."""
    if not term_ids:
        return np.zeros(N_TERMS, dtype=np.int64)
    uniq = np.concatenate([np.unique(t) for t in term_ids])
    return np.bincount(uniq, minlength=N_TERMS)


def strata_of(df: np.ndarray, n_docs: int) -> np.ndarray:
    """0 = rare (df ≤ N/200), 1 = mid (≤ N/10), 2 = stop word (> N/10);
    -1 = absent."""
    s = np.full(df.shape, -1, dtype=np.int8)
    s[df > 0] = 0
    s[df > n_docs / 200] = 1
    s[df > n_docs / 10] = 2
    return s


# stratum mix of query terms: rare, mid, stop word
STRATUM_MIX = (0.4, 0.4, 0.2)


def rare_query(gen: Generator, doc: np.ndarray, df: np.ndarray) -> str:
    """The two lowest-df terms of one document as a conjunctive query.
    Its hits are at most the lower of their dfs, so when that is within
    the top-k, every document holding both (this one too) is returned."""
    ids = np.unique(doc)
    return " ".join(gen.vocab[ids[np.argsort(df[ids], kind="stable")[:2]]])


@dataclass
class QuerySource:
    """Draws df-stratified queries from the terms of live documents."""

    gen: Generator
    docs: list[np.ndarray]  # term ids of the documents queries target
    strata: np.ndarray  # stratum per term id (strata_of)
    rng: np.random.Generator
    _seen: set[str] = field(default_factory=set)

    def _terms(self, n_terms: int) -> list[str]:
        ids = np.unique(self.docs[int(self.rng.integers(len(self.docs)))])
        by = [ids[self.strata[ids] == k] for k in range(3)]
        out: list[int] = []
        for _ in range(n_terms):
            k = int(self.rng.choice(3, p=STRATUM_MIX))
            pool = by[k] if by[k].size else np.concatenate(by)
            pool = pool[~np.isin(pool, out)]
            if pool.size == 0:
                break
            out.append(int(pool[self.rng.integers(pool.size)]))
        return [self.gen.vocab[t] for t in out]

    def conjunctive(self) -> str:
        n = int(self.rng.choice([1, 2, 3], p=[0.3, 0.45, 0.25]))
        return " ".join(self._terms(n))

    def partial(self) -> str:
        """Three terms: two from one document plus one from another, so
        min_should_match=2 has both partial and full hits."""
        a = self._terms(2)
        b = [t for t in self._terms(3) if t not in a]
        return " ".join(a + b[:1])

    def distinct(self, n: int) -> list[str]:
        """``n`` conjunctive queries never returned before by this source."""
        out: list[str] = []
        while len(out) < n:
            q = self.conjunctive()
            if q and q not in self._seen:
                self._seen.add(q)
                out.append(q)
        return out
