"""Tests of the seeded page and query generator (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import os
import re
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import corpus  # noqa: E402

N_DOCS = 4000


@pytest.fixture(scope="module")
def gen():
    return corpus.Generator(7)


@pytest.fixture(scope="module")
def docs(gen):
    return gen.docs(0, N_DOCS, 0)


def _queries(gen, docs, seed):
    df = corpus.doc_freqs(docs.term_ids)
    qs = corpus.QuerySource(
        gen, docs.term_ids, corpus.strata_of(df, N_DOCS), np.random.default_rng(seed)
    )
    return [qs.conjunctive() for _ in range(50)] + [qs.partial() for _ in range(10)] + qs.distinct(100)


def test_same_seed_same_pages_and_queries(gen, docs):
    again = corpus.Generator(7)
    docs2 = again.docs(0, N_DOCS, 0)
    assert corpus.pages_table(docs, 1).equals(corpus.pages_table(docs2, 1))
    assert _queries(gen, docs, 3) == _queries(again, docs2, 3)


def test_other_seed_other_pages(docs):
    other = corpus.Generator(8).docs(0, N_DOCS, 0)
    assert other.texts != docs.texts


def test_vocabulary_is_distinct_lowercase_letters(gen):
    assert len(set(gen.vocab)) == corpus.N_TERMS
    assert all(re.fullmatch(r"[a-z]+", w) for w in gen.vocab[:: corpus.N_TERMS // 1000])


def test_dictionary_size_and_top_term_df_in_band(docs):
    df = corpus.doc_freqs(docs.term_ids)
    # Zipf s=1 over 200k terms, 4000 docs of ~250 tokens: ~121k distinct
    # terms, and the top term occurs in nearly every document
    assert 110_000 <= (df > 0).sum() <= 130_000
    assert 0.98 * N_DOCS <= df.max() <= N_DOCS
    lens = np.array([t.size for t in docs.term_ids])
    assert lens.min() >= corpus.DOC_LEN[0] and lens.max() <= corpus.DOC_LEN[1]
    strata = corpus.strata_of(df, N_DOCS)
    assert [(strata == k).sum() > 100 for k in range(3)] == [True, True, True]


def test_host_skew(docs):
    hosts = [u.split("/")[2] for u in docs.urls]
    _, counts = np.unique(hosts, return_counts=True)
    assert len(set(docs.urls)) == N_DOCS
    assert counts.max() > 20 * np.median(counts)


def test_conjunctive_queries_have_a_hit(gen, docs):
    df = corpus.doc_freqs(docs.term_ids)
    qs = corpus.QuerySource(
        gen, docs.term_ids, corpus.strata_of(df, N_DOCS), np.random.default_rng(1)
    )
    bags = [set(gen.vocab[t]) for t in docs.term_ids]
    for _ in range(30):
        terms = set(qs.conjunctive().split())
        assert 1 <= len(terms) <= 3
        assert any(terms <= bag for bag in bags)


def test_distinct_queries_never_repeat(gen, docs):
    df = corpus.doc_freqs(docs.term_ids)
    qs = corpus.QuerySource(
        gen, docs.term_ids, corpus.strata_of(df, N_DOCS), np.random.default_rng(2)
    )
    qs_all = qs.distinct(300) + qs.distinct(300)
    assert len(set(qs_all)) == 600


def test_rewrite_keeps_urls_and_changes_text(gen, docs):
    again = gen.rewrite(99, docs.urls[:10])
    assert again.urls == docs.urls[:10]
    assert again.texts != docs.texts[:10]


def test_rare_query_holds_few_documents(gen, docs):
    df = corpus.doc_freqs(docs.term_ids)
    bags = [set(gen.vocab[t]) for t in docs.term_ids]
    for i in range(0, N_DOCS, 400):
        terms = set(corpus.rare_query(gen, docs.term_ids[i], df).split())
        assert len(terms) == 2 and terms <= bags[i]
        # few enough hits that a top-10 list holds all of them
        assert sum(terms <= bag for bag in bags) <= 10
