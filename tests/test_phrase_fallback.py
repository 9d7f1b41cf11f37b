"""Distributed exact-phrase fallback (plans/kernel.phrase_fallback_segments).

When the segments carry no positions and a phrase exceeds the indexed gram
length, its corpus-derived doc set is encoded as synthetic posting blocks
keyed by ``_phrase_term(ph)`` and unioned into the query's segment scan —
the phrase then evaluates in-kernel like a gram term. No driver-side
collect of match-set-sized data happens anywhere on the query path.

Parity contract: single-query kernel, batched kernel, and match sets are
rank-identical between the positional index (fused build, the graded
default) and the fallback index (row-form build, no grams, no positions).
"""

from __future__ import annotations

import pytest

from tests.conftest import reference_search

QUERIES = [
    '"fast key order"',
    'data & "key order" -slow',
    '"fast key"~2',
    '-"fast key order" data',
    '"zz qq absent phrase" | data',
]


@pytest.fixture(scope="module")
def idx_pos(spark, corpus):
    from bitfunnel_spark import BuildConfig, FullTextIndex

    return FullTextIndex.build_fused(
        spark, corpus, BuildConfig(n_slices=4, positions=True)
    )


@pytest.fixture(scope="module")
def idx_fb(spark, corpus):
    from bitfunnel_spark import BuildConfig, FullTextIndex

    return FullTextIndex.build(
        spark, corpus, BuildConfig(n_slices=4, positions=False, max_gram_size=1)
    )


@pytest.mark.parametrize("q", QUERIES)
def test_fallback_rank_identical(idx_pos, idx_fb, q):
    a = [(r.doc_id, r.score) for r in idx_pos.search(q, k=10, mode="kernel").collect()]
    b = [(r.doc_id, r.score) for r in idx_fb.search(q, k=10, mode="kernel").collect()]
    assert a == b
    if "absent" not in q:
        assert a  # the parity must not be vacuous


def test_fallback_batch_rank_identical(idx_pos, idx_fb):
    from bitfunnel_spark.plans.batch import search_many

    a = sorted(map(tuple, search_many(idx_pos, QUERIES, k=5).collect()))
    b = sorted(map(tuple, search_many(idx_fb, QUERIES, k=5).collect()))
    assert a == b and a


def test_fallback_match_set(idx_pos, idx_fb):
    q = '"fast key order"'
    a = sorted(r.doc_id for r in idx_pos.match(q).collect())
    b = sorted(r.doc_id for r in idx_fb.match(q).collect())
    assert a == b and a


def test_positions_config_without_positional_segments_degrades(spark, corpus):
    # row-form build cannot encode positions; a positions=True config must
    # degrade to the distributed fallback, not fail decoding (regression:
    # this exact shape used to raise ValueError in the kernel)
    from bitfunnel_spark import BuildConfig, FullTextIndex
    from bitfunnel_spark.plans.kernel import use_positional_phrases

    idx = FullTextIndex.build(spark, corpus, BuildConfig(n_slices=4, positions=True))
    idx.build_segments()
    assert not use_positional_phrases(idx)
    rows = idx.search('"fast key order"', k=5, mode="kernel").collect()
    assert [r.doc_id for r in rows]


def test_phrase_term_keys_disjoint():
    # slop participates in the synthetic key; NUL guarantees no collision
    # with tokenizer-produced or gram terms
    from bitfunnel_spark.plans.ast import Phrase
    from bitfunnel_spark.plans.kernel import _phrase_term

    a = Phrase(("fast", "key"))
    b = Phrase(("fast", "key"), slop=2)
    assert _phrase_term(a) != _phrase_term(b)
    assert "\x00" in _phrase_term(a)


def test_fuzz_phrase_parity(idx_pos, idx_fb):
    # generator-driven sweep: phrases sampled from REAL adjacent token runs
    # (guaranteed non-vacuous), mixed with AND/OR/NOT pads — positional
    # kernel, fallback kernel, and the DataFrame executor must agree
    from bitfunnel_spark.plans.generator import generate_phrase_log

    log = generate_phrase_log(
        idx_pos.corpus, 12, seed=7, pad_terms=idx_pos.term_stats
    )
    assert len(log) >= 8
    matched = 0
    for q in log:
        a = [(r.doc_id, round(r.score, 4)) for r in idx_pos.search(q, k=10, mode="kernel").collect()]
        b = [(r.doc_id, round(r.score, 4)) for r in idx_fb.search(q, k=10, mode="kernel").collect()]
        c = [(r.doc_id, round(r.score, 4)) for r in reference_search(idx_pos, q, k=10).collect()]
        assert a == b == c, q
        matched += bool(a)
    assert matched >= len(log) // 2  # the sweep must not be vacuous


def test_no_collect_on_query_path(idx_fb, monkeypatch):
    # the phrase fallback must never collect doc ids driver-side: fail any
    # DataFrame.collect() call issued while planning/launching the query
    # (the final result collect happens after, outside the patch)
    from pyspark.sql import DataFrame

    idx_fb.search("data", k=5, mode="kernel").count()  # warm idf map / segments

    def boom(self):
        raise AssertionError("driver-side collect on the query path")

    monkeypatch.setattr(DataFrame, "collect", boom)
    df = idx_fb.search('"fast key order" data', k=5, mode="kernel")
    monkeypatch.undo()
    assert df.count() >= 0
