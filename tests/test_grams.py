"""Indexed n-grams (config.max_gram_size > 1) — the reference's gram rows
(Document.cpp:152-165 posts all grams up to maxGramSize;
StatisticsBuilder.cpp:75-126). Phrases whose length fits the gram size match
via the gram term's postings — no positions, no corpus scan."""

import pytest

from bitfunnel_spark import BuildConfig, FullTextIndex
from tests.conftest import reference_search

PHRASES = ['"batch batch"', '"fast key"', 'data "key value"']


@pytest.fixture(scope="module")
def gram_index(spark, corpus):
    return FullTextIndex.build_fused(
        spark, corpus, BuildConfig(n_slices=4, max_gram_size=2)
    )


def test_gram_terms_indexed(gram_index):
    """2-gram terms must exist in the segment store with adjacency df."""
    from bitfunnel_spark.operators.segments import _term_key_py

    seg = gram_index.segments.filter(
        f"term_key = {_term_key_py('body', 'batch batch')}"
    )
    assert seg.count() > 0


@pytest.mark.parametrize("q", PHRASES)
def test_gram_phrase_parity(index, gram_index, q):
    """Gram-matched phrases must equal the corpus-scan path (base index) and
    the DataFrame executor on the gram index itself."""
    base = [(r["doc_id"], r["score"]) for r in index.search(q, k=10, mode="kernel").collect()]
    gram = [(r["doc_id"], r["score"]) for r in gram_index.search(q, k=10, mode="kernel").collect()]
    df = [(r["doc_id"], r["score"]) for r in reference_search(gram_index, q, k=10).collect()]
    assert gram == base
    assert df == base


def test_gram_phrase_no_corpus_collect(gram_index, monkeypatch):
    """The kernel path for a fitting phrase must not touch the corpus-scan
    fallback (the gram postings ARE the adjacency index)."""
    import bitfunnel_spark.plans.kernel as kmod

    def boom(*a, **kw):  # pragma: no cover
        raise AssertionError("corpus-scan phrase path must not run")

    monkeypatch.setattr(kmod, "_phrase_doc_ids", boom)
    got = gram_index.search('"batch batch"', k=5, mode="kernel").collect()
    assert len(got) > 0


def test_gram_unigram_queries_unchanged(index, gram_index):
    for q in ("data fast", "dup | vector", "data -slow"):
        a = [(r["doc_id"], r["score"]) for r in gram_index.search(q, k=10, mode="kernel").collect()]
        b = [(r["doc_id"], r["score"]) for r in reference_search(index, q, k=10).collect()]
        assert a == b, q


def test_too_long_phrase_falls_back(gram_index):
    """A 3-token phrase on a 2-gram index uses the corpus-scan path and is
    still exact."""
    q = '"fast key order"'
    a = [(r["doc_id"], r["score"]) for r in gram_index.search(q, k=10, mode="kernel").collect()]
    b = [(r["doc_id"], r["score"]) for r in reference_search(gram_index, q, k=10).collect()]
    assert a == b and len(a) > 0


def test_gram_batch_parity(index, gram_index):
    base = {
        (r["query_id"], r["doc_id"], r["score"])
        for r in index.search_many(PHRASES, k=10).collect()
    }
    gram = {
        (r["query_id"], r["doc_id"], r["score"])
        for r in gram_index.search_many(PHRASES, k=10).collect()
    }
    assert gram == base
