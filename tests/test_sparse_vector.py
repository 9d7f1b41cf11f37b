"""ES sparse_vector query + the dot_tf similarity (sparse dot product
with tf impacts): kernel ≡ dataframe ≡ DuckDB oracle, weight semantics,
validation."""

import pytest

from bitfunnel_spark import BuildConfig
from bitfunnel_spark.plans.ast import Boost, Or, Term
from bitfunnel_spark.plans.dsl import DslError, search_dsl
from bitfunnel_spark.plans.oracle import oracle_search_sql
from tests.conftest import reference_search

QV = {"data": 2.5, "fast": 1.25, "vektor": 0.5, "join": 1.0}


def _node(qv=QV):
    return Or(tuple(Boost(Term(t, "body"), w) for t, w in sorted(qv.items())))


def test_sparse_vector_three_way_parity(spark, index, duck):
    body = {"query": {"sparse_vector": {"field": "content", "query_vector": QV}},
            "size": 8}
    got = [(r.doc_id, r.score) for r in search_dsl(index, body).collect()]
    df = [(r.doc_id, r.score)
          for r in reference_search(index, _node(), k=8,
                                    similarity="dot_tf").collect()]
    assert got == df
    exp = duck.execute(
        oracle_search_sql(_node(), k=8, config=BuildConfig(n_slices=4),
                          similarity="dot_tf")
    ).fetchall()
    assert got == exp
    assert got  # non-empty


def test_sparse_scores_are_weighted_tf_sums(spark, index, corpus):
    # score(d) must equal Σ_t w_t · tf(t, d) computed straight off the
    # tokenized corpus
    from pyspark.sql import functions as F

    from bitfunnel_spark.functions.tokenizer import tokenize

    got = {r.doc_id: r.score
           for r in index.search(_node(), k=500, similarity="dot_tf",
                                 mode="kernel").collect()}
    tk = corpus.select("doc_id", tokenize("content").alias("t")).collect()
    for row in tk:
        want = sum(w * row.t.count(t) for t, w in QV.items())
        if want > 0:
            assert got[row.doc_id] == pytest.approx(round(want, 4))
        else:
            assert row.doc_id not in got


def test_sparse_single_token_and_absent_tokens(spark, index):
    one = search_dsl(index, {"query": {"sparse_vector": {
        "query_vector": {"data": 3.0}}}, "size": 5}).collect()
    # single-feature scores are exact multiples of the weight (w · tf)
    assert one and all(r.score == 3.0 * int(r.score / 3.0) for r in one)
    # an absent feature token contributes nothing — identical results
    with_ghost = search_dsl(index, {"query": {"sparse_vector": {
        "query_vector": {"data": 3.0, "zzqqxv": 9.0}}}, "size": 5}).collect()
    assert [(r.doc_id, r.score) for r in one] == [
        (r.doc_id, r.score) for r in with_ghost]


def test_sparse_vector_validation(spark, index):
    with pytest.raises(DslError):
        search_dsl(index, {"query": {"sparse_vector": {"query_vector": {}}}})
    with pytest.raises(DslError):
        search_dsl(index, {"query": {"sparse_vector": {
            "query_vector": {"data": -1.0}}}})
    with pytest.raises(DslError):
        search_dsl(index, {"query": {"sparse_vector": {
            "field": "lang", "query_vector": {"en": 1.0}}}})
    with pytest.raises(DslError):
        search_dsl(index, {"query": {"sparse_vector": {
            "query_vector": {"data": 1.0}, "prune": True}}})


def test_dot_tf_rejects_blended_groups(spark, index):
    # combined-fields groups are BM25-specific (plans/scoring.py) — every
    # non-BM25 similarity, dot_tf included, must refuse them loudly
    from bitfunnel_spark.plans.expand import combined_fields
    from bitfunnel_spark.plans.planner import QueryPlanError

    node = combined_fields("data", {"body": 1.0, "path": 2.0})
    with pytest.raises(QueryPlanError):
        index.search(node, k=5, similarity="dot_tf", mode="kernel").collect()


def test_fuzzy_auto_fuzziness(spark, index):
    from bitfunnel_spark.plans.dsl import compile_dsl

    assert compile_dsl({"fuzzy": {"content": {"value": "ab", "fuzziness": "AUTO"}}}).dist == 0
    assert compile_dsl({"fuzzy": {"content": {"value": "abcd", "fuzziness": "AUTO"}}}).dist == 1
    assert compile_dsl({"fuzzy": {"content": {"value": "abcdefgh", "fuzziness": "AUTO"}}}).dist == 2


def test_dot_tf_negative_weight_falls_back_exhaustive(spark, index, corpus):
    """w·max_tf is NOT an upper bound when w < 0 — a negative boost through
    the public API must route off the pruned path and still return the
    exact dot product."""
    import re
    from collections import Counter

    from bitfunnel_spark.plans.ast import Boost, Or, Term

    node = Or((Boost(Term("data", "body"), 3.0),
               Boost(Term("fast", "body"), -1.0)))
    got = [(r.doc_id, round(r.score, 4)) for r in
           index.search(node, k=8, mode="kernel", similarity="dot_tf").collect()]
    rows = corpus.select("doc_id", "content").collect()
    scores = []
    for r in rows:
        toks = Counter(re.findall(r"[a-z0-9_]+", r.content.lower()))
        s = 3.0 * toks.get("data", 0) - 1.0 * toks.get("fast", 0)
        if toks.get("data", 0) or toks.get("fast", 0):
            scores.append((r.doc_id, round(float(s), 4)))
    scores.sort(key=lambda x: (-x[1], x[0]))
    assert got == scores[:8]
