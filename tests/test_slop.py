"""Sloppy (proximity) phrases — `"a b"~s`: kernel (positional) and
DataFrame (corpus HOF) executors vs a pure-Python brute-force oracle and
the DuckDB oracle. Semantics: ordered positions p1 < .. < pn with span
pn - p1 <= (n-1) + slop."""

from __future__ import annotations

import re

import pytest

from bitfunnel_spark.config import TOKEN_PATTERN
from bitfunnel_spark.plans.ast import Phrase
from bitfunnel_spark.plans.kernel import _slop_offset_vectors
from bitfunnel_spark.plans.oracle import oracle_match_sql
from bitfunnel_spark.plans.parser import parse_query
from tests.conftest import reference_search

QUERIES = [
    ('"batch data"~2', ("batch", "data"), 2),
    ('"data fast"~1', ("data", "fast"), 1),
    ('"key value order"~3', ("key", "value", "order"), 3),
    ('"batch batch"~2', ("batch", "batch"), 2),
]


def test_parse_slop():
    assert parse_query('"a b"~2') == Phrase(("a", "b"), slop=2)
    assert parse_query('"a b"~') == Phrase(("a", "b"), slop=1)
    assert parse_query('"a b"') == Phrase(("a", "b"), slop=0)
    assert parse_query('path:"a b"~3') == Phrase(("a", "b"), "path", 3)


def test_offset_vectors():
    assert _slop_offset_vectors(2, 1) == [(0, 1), (0, 2)]
    assert _slop_offset_vectors(3, 1) == [(0, 1, 2), (0, 1, 3), (0, 2, 3)]
    with pytest.raises(ValueError):
        _slop_offset_vectors(6, 60)


def _brute(corpus_rows, tokens, slop):
    n, span = len(tokens), len(tokens) - 1 + slop
    out = set()
    for doc_id, text in corpus_rows:
        toks = re.findall(TOKEN_PATTERN, text.lower())
        pos = [[i for i, x in enumerate(toks) if x == t] for t in tokens]
        if any(not p for p in pos):
            continue

        def rec(k, prev, first):
            if k == n:
                return True
            return any(
                rec(k + 1, p, first) for p in pos[k] if p > prev and p - first <= span
            )

        if any(rec(1, p0, p0) for p0 in pos[0]):
            out.add(doc_id)
    return out


@pytest.fixture(scope="module")
def corpus_rows(corpus):
    return [(r["doc_id"], r["content"]) for r in corpus.select("doc_id", "content").collect()]


@pytest.mark.parametrize("q,tokens,slop", QUERIES)
def test_slop_vs_brute_and_oracle(index, duck, corpus_rows, q, tokens, slop):
    want = _brute(corpus_rows, tokens, slop)
    assert want, f"vacuous test corpus for {q!r}"
    got_df = {r["doc_id"] for r in index.match(q).collect()}
    assert got_df == want, f"dataframe path mismatch for {q!r}"
    oracle = {r[0] for r in duck.execute(oracle_match_sql(q)).fetchall()}
    assert oracle == want, f"duckdb oracle mismatch for {q!r}"


@pytest.mark.parametrize("q,tokens,slop", QUERIES[:2])
def test_slop_kernel_topk_parity(index, q, tokens, slop):
    a = [(r["doc_id"], r["score"]) for r in index.search(q, k=10, mode="kernel").collect()]
    b = [(r["doc_id"], r["score"]) for r in reference_search(index, q, k=10).collect()]
    assert a == b, f"kernel/dataframe mismatch for {q!r}"
    assert a


def test_slop_zero_is_exact_phrase(index):
    a = sorted(r["doc_id"] for r in index.match('"batch batch"').collect())
    b = sorted(r["doc_id"] for r in index.match('"batch batch"~0').collect())
    assert a == b
    # slop widens monotonically
    c = sorted(r["doc_id"] for r in index.match('"batch batch"~2').collect())
    assert set(a) <= set(c) and len(c) > len(a)


@pytest.fixture(scope="module")
def pos_index(spark, corpus):
    from bitfunnel_spark import BuildConfig, FullTextIndex

    return FullTextIndex.build_fused(spark, corpus, BuildConfig(n_slices=4, positions=True))


@pytest.mark.parametrize("q,tokens,slop", QUERIES)
def test_slop_positional_kernel(pos_index, corpus_rows, q, tokens, slop):
    """The positional kernel path (phrase_docs_from_positions with slop
    patterns) against the brute-force oracle — no corpus access at query
    time."""
    from bitfunnel_spark.plans.kernel import match_kernel

    want = _brute(corpus_rows, tokens, slop)
    got = {r["doc_id"] for r in match_kernel(pos_index, q).collect()}
    assert got == want, f"positional kernel mismatch for {q!r}"
