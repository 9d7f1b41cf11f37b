"""Minimum-should-match OR groups — `(a | b | c)@2` (Lucene
minimumShouldMatch): parser/planner, both executors vs the DuckDB oracle,
edge counts, and nesting."""

import pytest

from bitfunnel_spark.plans.ast import Or, Term, fmt
from bitfunnel_spark.plans.oracle import oracle_match_sql, oracle_search_sql
from bitfunnel_spark.plans.parser import QueryParseError, parse_query
from bitfunnel_spark.plans.planner import plan_query
from tests.conftest import search_in


def test_parse_minmatch():
    n = parse_query("(dup | vector | data)@2")
    assert isinstance(n, Or) and n.min_match == 2 and len(n.children) == 3
    assert fmt(n) == "Or(dup, vector, data)@2"
    # @1 is a plain OR
    assert parse_query("(a | b)@1") == Or((Term("a"), Term("b")))
    with pytest.raises(QueryParseError):
        parse_query("(a b)@2")  # AND group cannot take @N
    with pytest.raises(QueryParseError):
        parse_query("(a | b)@")  # missing count


def test_normalize_preserves_minmatch():
    p = plan_query(parse_query("(dup | vector | data)@2 -slow"))
    ors = [c for c in p.ast.children if isinstance(c, Or)]
    assert ors and ors[0].min_match == 2
    # an @N group nested in a plain OR must not be flattened into it
    q = plan_query(parse_query("fast | (dup | vector | data)@2"))
    assert isinstance(q.ast, Or) and q.ast.min_match == 1
    inner = [c for c in q.ast.children if isinstance(c, Or)]
    assert inner and inner[0].min_match == 2


MM_QUERIES = [
    "(dup | vector | data)@2",
    "(dup | vector | data | slow)@3",
    "(dup | vector)@2",                # == AND semantics
    "(dup | vector | data)@2 -slow",
    "fast (dup | vector | data)@2",
]


@pytest.mark.parametrize("q", MM_QUERIES)
def test_minmatch_match_vs_oracle(index, duck, q):
    got = sorted(r["doc_id"] for r in index.match(q).collect())
    exp = [r[0] for r in duck.execute(oracle_match_sql(q)).fetchall()]
    assert got == exp, f"match mismatch for {q!r}"
    assert got, f"vacuous corpus for {q!r}"


@pytest.mark.parametrize("q", MM_QUERIES[:3])
@pytest.mark.parametrize("mode", ["dataframe", "kernel"])
def test_minmatch_topk_vs_oracle(index, duck, q, mode):
    got = [(r["doc_id"], r["score"]) for r in search_in(mode, index, q, k=10).collect()]
    exp = duck.execute(oracle_search_sql(q, k=10)).fetchall()
    assert [(d, pytest.approx(s, abs=2e-4)) for d, s in exp] == got, f"{q!r} {mode}"


def test_minmatch_tightens_monotonically(index):
    n1 = index.match("(dup | vector | data)").count()
    n2 = index.match("(dup | vector | data)@2").count()
    n3 = index.match("(dup | vector | data)@3").count()
    assert n1 >= n2 >= n3 > 0
    # @3 of 3 == AND
    n_and = index.match("dup vector data").count()
    assert n3 == n_and
