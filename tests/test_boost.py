"""Query-time term boosts (`term^2`): parser/planner stripping, both
executors vs the DuckDB oracle, batch path, and boost-neutrality at 1.0."""

import pytest

from bitfunnel_spark.plans.ast import Boost, Term
from bitfunnel_spark.plans.oracle import oracle_search_sql
from bitfunnel_spark.plans.parser import QueryParseError, parse_query
from bitfunnel_spark.plans.planner import plan_query
from tests.conftest import reference_search, search_in


def test_parse_and_strip():
    assert parse_query("data^2") == Boost(Term("data"), 2.0)
    assert parse_query("data^0.5") == Boost(Term("data"), 0.5)
    plan = plan_query(parse_query("data^2 fast"))
    assert plan.boosts == {("body", "data"): 2.0}
    assert ("body", "data") in plan.terms  # match semantics unchanged
    assert plan.scoring_keys == {("body", "data"), ("body", "fast")}
    # boosting a non-body term promotes it into the scoring set
    fplan = plan_query(parse_query("path:txt^2 data"))
    assert fplan.boosts == {("path", "txt"): 2.0}
    assert fplan.scoring_keys == {("body", "data"), ("path", "txt")}
    # unboosted non-body terms stay filter-only
    nplan = plan_query(parse_query("path:txt data"))
    assert nplan.scoring_keys == {("body", "data")}
    with pytest.raises(QueryParseError):
        parse_query("dat*^2")  # boost on expansions unsupported


@pytest.mark.parametrize("q", ["data^2 fast", "dup^3 | vector", "data^0.5 -slow"])
@pytest.mark.parametrize("mode", ["dataframe", "kernel"])
def test_boost_vs_oracle(index, duck, q, mode):
    got = [(r["doc_id"], r["score"]) for r in search_in(mode, index, q, k=10).collect()]
    exp = duck.execute(oracle_search_sql(q, k=10)).fetchall()
    assert [(d, pytest.approx(s, abs=2e-4)) for d, s in exp] == got, f"{q!r} {mode}"


def test_boost_changes_ranking(index):
    base = [r["doc_id"] for r in index.search("data fast", k=10).collect()]
    boosted = [r["doc_id"] for r in index.search("data^5 fast", k=10).collect()]
    assert base != boosted  # a 5x boost on one term must reorder the top-10
    # match sets identical — boosts affect scoring only
    a = sorted(r["doc_id"] for r in index.match("data fast").collect())
    b = sorted(r["doc_id"] for r in index.match("data^5 fast").collect())
    assert a == b


def test_boost_one_is_neutral(index):
    a = [(r["doc_id"], r["score"]) for r in index.search("data fast", k=10).collect()]
    b = [(r["doc_id"], r["score"]) for r in index.search("data^1 fast", k=10).collect()]
    assert a == b


def test_boost_in_batch(index):
    res = index.search_many(["data^2 fast", "data fast"], k=5).collect()
    b0 = sorted(
        ((r["doc_id"], r["score"]) for r in res if r["query_id"] == 0),
        key=lambda x: (-x[1], x[0]),
    )
    single = [(r["doc_id"], r["score"]) for r in index.search("data^2 fast", k=5, mode="kernel").collect()]
    assert b0 == single


@pytest.mark.parametrize("q", ["path:txt^2 data", "lang:en^1.5 data fast", "path:txt^3"])
@pytest.mark.parametrize("mode", ["dataframe", "kernel"])
def test_field_boost_vs_oracle(index, duck, q, mode):
    """Field-weighted scoring: a boosted non-body term contributes
    idf·boost·partial like a scoring term; both executors vs DuckDB."""
    got = [(r["doc_id"], r["score"]) for r in search_in(mode, index, q, k=10).collect()]
    exp = duck.execute(oracle_search_sql(q, k=10)).fetchall()
    assert [(d, pytest.approx(s, abs=2e-4)) for d, s in exp] == got, f"{q!r} {mode}"
    assert got and got[0][1] > 0  # the field term actually scored


def test_unboosted_field_stays_filter_only(index):
    """lang:en data — the lang term must contribute 0 score (regression
    guard for the scoring-key refactor)."""
    a = [(r["doc_id"], r["score"]) for r in index.search("lang:en data", k=10).collect()]
    b = [(r["doc_id"], r["score"]) for r in index.search("lang:en^1 data", k=10).collect()]
    # ^1 promotes lang:en into scoring with weight 1 -> scores DIFFER
    assert {d for d, _ in a} >= set()  # both valid top-10s
    assert a != b


@pytest.mark.parametrize("mode", ["dataframe", "kernel"])
def test_search_after_pages_partition_results(index, mode):
    """search_after pages must exactly partition the full ranking: walking
    3 pages of 5 reproduces top-15, and pages are disjoint."""
    full = search_in(mode, index, "data fast", k=15).collect()
    pages, cursor = [], None
    for _ in range(3):
        if cursor is None:
            page = search_in(mode, index, "data fast", k=5).collect()
        else:
            page = search_in(mode, index, "data fast", k=5, after=cursor).collect()
        assert len(page) == 5
        cursor = (float(page[-1]["score"]), int(page[-1]["doc_id"]))
        pages += page
    assert [(r["doc_id"], r["score"]) for r in pages] == [
        (r["doc_id"], r["score"]) for r in full
    ]
    assert len({r["doc_id"] for r in pages}) == 15


def test_search_after_modes_agree(index):
    p1 = index.search("data fast", k=10, mode="kernel").collect()
    cur = (float(p1[-1]["score"]), int(p1[-1]["doc_id"]))
    kr = index.search_after("data fast", cur, k=10).collect()
    df = reference_search(index, "data fast", k=10, after=cur).collect()
    assert [(r["doc_id"], r["score"]) for r in kr] == [
        (r["doc_id"], r["score"]) for r in df
    ]


def test_search_after_past_end_is_empty(index):
    assert index.search_after("data fast", (0.0, 1 << 40), k=5).count() == 0
