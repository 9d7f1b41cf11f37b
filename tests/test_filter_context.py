"""Filter-context clauses (`#clause`, ast.Filter — the Elasticsearch
bool-`filter` shape): the clause constrains the match set exactly like a
positive clause but contributes nothing to BM25. The planner strips the
wrapper and records a scoring exclusion; matching plans are untouched, so
both executors and the DuckDB oracle agree through plan.scoring_keys."""

import pytest

from bitfunnel_spark.plans.ast import And, Filter, Phrase, Term, fmt
from bitfunnel_spark.plans.oracle import oracle_search_sql
from bitfunnel_spark.plans.parser import parse_query
from bitfunnel_spark.plans.planner import plan_query
from tests.conftest import reference_search, search_in


def test_parse_and_plan_shapes():
    node = parse_query("data #fast")
    assert node == And((Term("data"), Filter(Term("fast"))))
    assert fmt(node) == "And(data, #(fast))"
    plan = plan_query(node)
    # fast matches (in terms) but never scores
    assert ("body", "fast") in plan.terms
    assert plan.scoring_keys == {("body", "data")}
    assert plan.scoring_terms == {"data"}
    # no Filter survives into the matching AST
    assert "Filter" not in repr(plan.ast)


def test_must_plus_filter_same_key_still_scores():
    plan = plan_query(parse_query("data #data"))
    assert plan.scoring_keys == {("body", "data")}


def test_filtered_phrase_and_group_shapes():
    plan = plan_query(parse_query('#"fast key" data'))
    assert plan.scoring_keys == {("body", "data")}
    assert plan.phrases and plan.phrases[0][0] == Phrase(("fast", "key"))
    # boost inside filter context is ignored
    p2 = plan_query(parse_query("#fast^2 data"))
    assert p2.scoring_keys == {("body", "data")} and not p2.boosts


QUERIES = ["data #fast", "#slow data | fast", 'data #"fast key"', "#lang:en data #fast"]


@pytest.mark.parametrize("mode", ["dataframe", "kernel"])
@pytest.mark.parametrize("q", QUERIES)
def test_filter_vs_oracle(index, duck, mode, q):
    got = [(r["doc_id"], r["score"]) for r in search_in(mode, index, q, k=10).collect()]
    exp = [
        (d, pytest.approx(s, abs=2e-4))
        for d, s in duck.execute(oracle_search_sql(q, k=10)).fetchall()
    ]
    assert exp == got, f"filter-context mismatch for {q!r}"
    assert got  # non-vacuous


def test_filter_same_match_set_lower_score(index):
    # identical match sets; the filtered variant scores strictly less
    # wherever the filtered term is present
    a = {r["doc_id"] for r in index.match("data fast").collect()}
    b = {r["doc_id"] for r in index.match("data #fast").collect()}
    assert a == b and a
    full = {r["doc_id"]: r["score"] for r in index.search("data fast", k=1000, mode="kernel").collect()}
    filt = {r["doc_id"]: r["score"] for r in index.search("data #fast", k=1000, mode="kernel").collect()}
    assert set(full) == set(filt)
    assert all(filt[d] < full[d] for d in full)


@pytest.mark.parametrize("mode", ["dataframe", "kernel"])
def test_all_filter_query_scores_zero(index, mode):
    rows = search_in(mode, index, "#data", k=10).collect()
    assert rows and all(r["score"] == 0.0 for r in rows)
    # deterministic constant-score order: doc_id asc
    ids = [r["doc_id"] for r in rows]
    assert ids == sorted(ids)


def test_filter_batch_parity(index):
    qs = ["data #fast", "data fast", "#slow data | fast"]
    batch = sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 4))
        for r in index.search_many(qs, k=5).collect()
    )
    single = sorted(
        (i, r["doc_id"], round(r["score"], 4))
        for i, q in enumerate(qs)
        for r in index.search(q, k=5, mode="kernel").collect()
    )
    assert batch == single and batch


def test_filter_with_expansion(index):
    # '#dat*' expands against the dictionary inside filter context
    a = [(r["doc_id"], round(r["score"], 4)) for r in index.search("#dat* fast", k=10, mode="kernel").collect()]
    b = [(r["doc_id"], round(r["score"], 4)) for r in reference_search(index, "#dat* fast", k=10).collect()]
    assert a == b and a
    plan = plan_query(index.prepare_query("#dat* fast"))
    assert plan.scoring_keys == {("body", "fast")}
